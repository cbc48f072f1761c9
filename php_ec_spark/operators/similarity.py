"""Similarity search over embedding columns (array<float>).

Two paths:

- :func:`cosine_topk` — exact brute force. The query set is broadcast
  (small side), the corpus is scanned ONCE with no shuffle of the corpus
  itself; per-query top-k is a partial-aggregate (map-side) followed by a
  tiny final reduce, so the shuffled volume is O(|queries|·k·partitions),
  not O(|corpus|·|queries|).
- :func:`ivf_topk` — IVF-style approximate path: corpus is bucketed by a
  coarse quantizer (nearest of C centroids), queries probe only the
  ``nprobe`` nearest buckets. Probe rows and corpus rows meet executor-side
  in a cogroup on the cluster key (:func:`_distributed_candidates`); no
  query vector transits the driver.
- :func:`ivf_build` / :func:`ivf_search` — the persistent form of the
  same index: build ONCE (centroid table + corpus written partitioned by
  cluster), search MANY times with partition pruning — each search reads
  nprobe/C of the data off disk instead of re-scanning the corpus. The
  100 TB serving shape.

Dot products run in the JVM via zip_with/aggregate — doubles, left-to-right
summation, bit-identical to the DuckDB oracle's list arithmetic.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_LOG = logging.getLogger(__name__)


def _cluster_key(cl):
    """Normalize a cluster label for dict lookup across the Spark/pandas
    boundary: NULL arrives as None (Spark rows) or NaN (pandas numeric
    columns, where NaN != NaN breaks dict hits) → None; numpy scalars →
    Python scalars; integral floats (a nullable int column is rendered
    float64 by pandas) → int."""
    import numpy as np

    if cl is None:
        return None
    if isinstance(cl, np.generic):
        cl = cl.item()
    if isinstance(cl, float):
        if np.isnan(cl):
            return None
        if cl.is_integer():
            return int(cl)
    return cl


#: id types the numpy kernels can pack losslessly as int64.
_INT_ID_TYPES = ("bigint", "int", "smallint", "tinyint")


def _require_int_ids(df: DataFrame, id_col: str, op: str) -> None:
    """Fail LOUDLY when an embedding frame carries non-integer ids: every
    GEMM kernel in this module packs ids as int64 (``to_numpy(dtype=
    np.int64)``), and a string ``vec_id`` would otherwise die deep inside
    numpy with an opaque cast error. The dedup family handles string ids
    natively (struct tie-breaks); the embedding family's remedy is a
    dense integer surrogate — the standard vector-index discipline."""
    dt = df.schema[id_col].dataType.simpleString()
    if dt not in _INT_ID_TYPES:
        raise ValueError(
            f"{op}: id column {id_col!r} must be an integer type, got "
            f"{dt} — the embedding kernels pack ids as int64. Map "
            "non-integer ids through a dense integer surrogate first "
            "(e.g. hash-free: window row_number over a stable ordering, "
            "kept as a two-column mapping table to translate results "
            "back); string ids never enter the GEMM path"
        )


def _pad_for(k: int) -> int:
    """Per-batch candidate pad for the GEMM kernels' top-(k+pad) keep.

    The pad absorbs GEMM-vs-fold float reordering near the k-th boundary
    (~1e-15, far under the 6 dp rounding) and cross-batch union slop.
    Scaled with k (round-12 advice): a fixed pad=16 made guarantees that
    silently weakened for k > 16. Note physically duplicated corpus rows
    (ivf_add crash-replay residue) no longer consume pad slots at all —
    each kernel drops duplicate ids inside the batch before scoring, and
    duplicates in DIFFERENT batches/shards never compete for the same
    slots (per-batch top sets are unioned, then the re-rank collapses
    (query, neighbor) pairs)."""
    return max(16, k)


def _dedup_ids(pdf, id_col: str):
    """Drop physically duplicated rows inside one kernel batch, keyed on
    ``id_col`` (unique-key corpus contract: same id ⇒ same vector, so
    which copy survives is immaterial). Without this, crash-replay
    residue rows each consumed a top-(k+pad) candidate slot — with >pad
    copies above the true k-th, a genuine neighbor could be evicted
    before the exact re-rank ever saw it (round-12 advice). An id-only
    key is safe because no kernel batch spans clusters: the IVF kernel
    runs per (cluster, shard) cogroup, so the same id filed under two
    clusters (two legitimate index entries, :func:`ivf_compact`'s
    documented case) is scored in two batches. No-op (zero copy) on the
    unique fast path."""
    if pdf[id_col].is_unique:
        return pdf
    return pdf.drop_duplicates(subset=[id_col])


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def _cos(a: Column, b: Column) -> Column:
    """Sequential-fold cosine, 0.0 for zero-norm vectors (ANSI mode makes
    the bare division a DIVIDE_BY_ZERO error; a zero vector is similar to
    nothing, matching the GEMM stages' denom>0 guard)."""
    na, nb = _norm(a), _norm(b)
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def _cos_sql(a: str, b: str) -> str:
    """:func:`_cos` as one SQL string over column names — the Column form
    costs a py4j round-trip per expression node on every query build
    (round 17; see engine/relational.py). Same analyzed expression."""

    def norm(v: str) -> str:
        return (
            f"sqrt(aggregate(transform({v}, x -> x * x), 0.0D, "
            "(acc, v) -> acc + v))"
        )

    dot = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )
    return (
        f"CASE WHEN {norm(a)} > 0 AND {norm(b)} > 0 "
        f"THEN {dot} / ({norm(a)} * {norm(b)}) ELSE 0.0D END"
    )


def _collect_matrix(corpus: DataFrame, id_col: str, vec_col: str):
    """Assemble (ids, M, norms) for broadcasting WITHOUT a full-corpus
    ``toPandas``: each Arrow batch is packed executor-side into one compact
    (int64-bytes, float64-bytes) row, so what crosses to the driver is the
    raw 8·n·(d+1) bytes a Spark broadcast fundamentally requires — never
    per-row pandas objects (which cost ~10× that in driver heap). Returns
    (ids, M, norms) or None for an empty corpus."""
    import numpy as np
    import pandas as pd

    def pack(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            yield pd.DataFrame(
                {"ids": [ids.tobytes()], "mat": [M.tobytes()], "dim": [M.shape[1]]}
            )

    blocks = (
        corpus.select(id_col, vec_col)
        .mapInPandas(pack, schema="ids binary, mat binary, dim int")
        .collect()
    )
    if not blocks:
        return None
    ids = np.concatenate([np.frombuffer(r.ids, dtype=np.int64) for r in blocks])
    M = np.vstack(
        [np.frombuffer(r.mat, dtype=np.float64).reshape(-1, r.dim) for r in blocks]
    )
    norms = np.sqrt((M * M).sum(axis=1))
    return ids, M, norms


def _gemm_topk(C, nid, Q, qn, qids, k: int, score_block_doubles: int = 1 << 25):
    """The GEMM candidate kernel :func:`cosine_topk` and the IVF probe
    (:func:`_distributed_candidates`) share: score corpus block ``C``
    (ids ``nid``) against queries ``Q`` (norms ``qn``, ids ``qids``) and
    return ``(query_ids, neighbor_ids)`` arrays of every candidate that
    survives the per-query top-(k+pad) keep.

    Zero-norm vectors and self-matches score ``-inf`` and are never
    kept. The keep is TIE-INCLUSIVE: a fixed top-(k+pad) slice would
    drop arbitrary members of a tie at the boundary (routine in dedup
    corpora full of duplicate embeddings), making the candidate set —
    and so the final top-k — partitioning-dependent. Everything scoring
    >= the (k+pad)-th value is kept instead; the exact re-rank applies
    the deterministic (cos, id) tie-break over the complete tie class.

    The query axis is chunked so the score block stays <=
    ``score_block_doubles`` (256 MB of float64 by default) however many
    queries probe one block; per-query top-(k+pad) is column-independent,
    so chunking is result-exact."""
    import numpy as np

    cn = np.sqrt((C * C).sum(axis=1))
    take = min(k + _pad_for(k), len(nid))
    chunk = max(16, score_block_doubles // max(len(nid), 1))
    out_q, out_n = [], []
    for s in range(0, len(Q), chunk):
        qs, qns, ids = Q[s : s + chunk], qn[s : s + chunk], qids[s : s + chunk]
        denom = np.outer(cn, qns)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = np.where(denom > 0, (C @ qs.T) / denom, -np.inf)
        S[nid[:, None] == ids[None, :]] = -np.inf  # self-matches out
        kth = -np.partition(-S, take - 1, axis=0)[take - 1]
        keep = (S >= kth[None, :]) & np.isfinite(S)
        ridx, cidx = np.nonzero(keep)
        out_q.append(ids[cidx])
        out_n.append(nid[ridx])
    return np.concatenate(out_q), np.concatenate(out_n)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    broadcast_budget_bytes: "int | None" = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cos, rank), rank 1..k, self-matches
    excluded. cos is rounded to 6 dp and ranking is by (rounded cos DESC,
    neighbor_id) so order is deterministic across engines.

    Shape: the query matrix is broadcast — this operator's contract is a
    SMALL query side (an eval set, a probe batch); for increment-scale
    query frames use :func:`ivf_search`, whose probe never transits the
    driver. The contract is ENFORCED, not just documented: a query frame
    whose raw matrix exceeds ``broadcast_budget_bytes`` (default
    :data:`IVF_BROADCAST_BUDGET_BYTES`) raises loudly naming the remedy
    instead of flooding the driver heap — the same guard as
    :func:`cosine_dup_pairs`. The guard is one extra Spark job over
    ``queries``; ``broadcast_budget_bytes=0`` is the explicit trust-me opt-out that
    skips both the job and the check, for per-batch callers whose query
    frame is tiny by construction but expensive to re-derive.
    The corpus is scanned ONCE with
    candidates generated per Arrow batch by the dense numpy GEMM kernel
    :func:`_gemm_topk` (each batch keeps its per-query top k+pad — the
    global top-k is a subset of the per-batch top-k, and the pad absorbs
    GEMM-vs-fold float reordering, ~1e-15 ≪ the 6 dp rounding). Candidates (O(batches·|q|·k) rows) are
    then re-scored JVM-side with the sequential-fold dot product, so
    emitted cosines are bit-identical to the oracle arithmetic. Shuffled
    volume is candidates only — never |corpus|·|queries|.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    _require_int_ids(queries, id_col, "cosine_topk")
    _require_int_ids(corpus, id_col, "cosine_topk")
    budget = (
        IVF_BROADCAST_BUDGET_BYTES
        if broadcast_budget_bytes is None
        else broadcast_budget_bytes
    )
    # budget == 0 is the explicit trust-me opt-out (skips the one-job
    # size estimate for callers who re-derive a provably tiny query
    # frame per batch from an expensive upstream plan)
    n, d, est_bytes = (
        (0, 0, 0) if budget == 0 else _estimate_matrix_bytes(queries, vec_col)
    )
    if budget != 0 and est_bytes > budget:
        raise RuntimeError(
            f"cosine_topk: the query frame is ~{est_bytes:,} raw bytes "
            f"({n:,} vectors × {d}-d), past the {budget:,}-byte broadcast "
            "budget — collecting it would flood the driver heap. This "
            "operator's contract is a SMALL query side; for "
            "increment-scale query frames use ivf_search (distributed "
            "executor-side probing, no driver transit), or raise "
            "broadcast_budget_bytes if this driver really has the "
            "headroom"
        )
    q_pdf = queries.select(id_col, vec_col).toPandas()  # small side, now enforced
    if len(q_pdf) == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank int"
        )
    qids = q_pdf[id_col].to_numpy(dtype=np.int64)
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    qn = np.sqrt((Q * Q).sum(axis=1))
    bq = spark.sparkContext.broadcast((qids, Q, qn))

    def gen_candidates(batches):
        q_ids, Qm, q_norms = bq.value
        for pdf in batches:
            pdf = _dedup_ids(pdf, id_col)
            if len(pdf) == 0:
                continue
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nid = pdf[id_col].to_numpy(dtype=np.int64)
            cq, cn = _gemm_topk(C, nid, Qm, q_norms, q_ids, k)
            yield pd.DataFrame({"query_id": cq, "neighbor_id": cn})

    cand = corpus.select(id_col, vec_col).mapInPandas(
        gen_candidates, schema="query_id long, neighbor_id long"
    )
    return _exact_rerank(corpus, queries, cand, k, vec_col, id_col)


def _exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    cand: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    distributed: bool = False,
) -> DataFrame:
    """JVM re-score of a (query_id, neighbor_id) candidate set with the
    sequential-fold dot product (oracle arithmetic), ranked to top-k.

    ``distributed=False`` (the small-query-batch contract) broadcasts the
    candidate set and the query vectors; ``distributed=True`` (the
    increment-scale probe path) leaves both joins unhinted — candidates
    are O(|queries|·(k+pad)) rows and the query table is the very thing
    that did not fit a broadcast, so they shuffle (AQE still demotes to
    broadcast when a side turns out small at runtime)."""
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS qv",
    )
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS cv",
    )
    maybe_bcast = (lambda df: df) if distributed else F.broadcast
    scored = (
        c.join(maybe_bcast(cand), "neighbor_id")
        .join(maybe_bcast(q), "query_id")
        # the GEMM mask only demotes self-matches to -inf; when a batch
        # group is smaller than k+pad they still reach the candidate set,
        # so the exclusion must be re-applied here
        .filter(F.expr("neighbor_id != query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"round({_cos_sql('qv', 'cv')}, 6) AS cos",
        )
        # a (query, neighbor) pair can reach here more than once — dup
        # candidate rows, or a corpus row physically duplicated by an
        # ivf_add crash-replay (see streaming_embedding_ingest's journal
        # note) — and row_number would hand the copies DISTINCT ranks,
        # returning the same neighbor twice inside top-k. Collapse pairs
        # first; the copies are identical rows (unique-id corpus contract:
        # same id ⇒ same vector ⇒ same rounded cos), so which survives is
        # immaterial. Cost: one extra exchange keyed (query, neighbor) —
        # over the CANDIDATE set, O(|q|·(k+pad)) rows, never the corpus.
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return scored.withColumn(
        "rank",
        F.expr(
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos DESC, neighbor_id)"
        ),
    ).filter(F.expr(f"rank <= {int(k)}"))


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str | None = None,
    broadcast_budget_bytes: "int | None" = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with cos ≥
    threshold, id_a < id_b.

    Exact path (default): vectorized GEMM scan — the corpus matrix is
    broadcast (8·n·dim bytes: 64-dim ⇒ ~2M vectors/GiB), assembled from
    executor-packed binary blocks (:func:`_collect_matrix`) so the driver
    holds only the raw broadcast payload, never a pandas round-trip of the
    corpus; each Arrow batch computes a numpy ``A @ M.T`` block against it,
    and only pairs within a 1e-6 margin of the threshold survive as
    candidates. The n² similarity
    space lives inside BLAS blocks, never as Spark rows — no
    CartesianProduct / BroadcastNestedLoopJoin in the plan, one corpus
    scan. Candidates are then re-verified JVM-side with the sequential-fold
    dot product, so the emitted cosine is bit-identical to a plain
    left-to-right fold (the arithmetic the DuckDB oracle uses) — the GEMM's
    reordered summation only ever affects the over-generated candidate set.

    Scale note: exact all-pairs is inherently O(n²) FLOPs; this shape keeps
    it at dense-BLAS speed while the corpus side stays broadcastable. Past
    that, pass ``cluster_col`` (an IVF bucket / coarse-quantizer
    assignment) to compare only within-bucket pairs — Σ|bucket|² cost, the
    approximate contract every 100 TB dedup pipeline actually runs. The
    exact path enforces this: a corpus whose raw matrix exceeds
    :data:`IVF_BROADCAST_BUDGET_BYTES` raises loudly (naming the
    ``cluster_col`` remedy) instead of flooding the driver heap.
    """
    if cluster_col is not None:
        c = corpus.select(
            F.col(cluster_col).alias("bucket"),
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        a = c.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("va"))
        b = c.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"))
        cos = _cos(F.col("va"), F.col("vb"))
        return (
            a.join(b, ["bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
            .filter(F.col("cos") >= threshold)
        )

    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    _require_int_ids(corpus, id_col, "cosine_dup_pairs")
    budget = (
        IVF_BROADCAST_BUDGET_BYTES
        if broadcast_budget_bytes is None
        else broadcast_budget_bytes
    )
    # budget == 0 disables the guard (explicit trust-me, same contract
    # as cosine_topk)
    n, d, est_bytes = (
        (0, 0, 0) if budget == 0 else _estimate_matrix_bytes(corpus, vec_col)
    )
    if budget != 0 and est_bytes > budget:
        raise RuntimeError(
            f"cosine_dup_pairs: exact all-pairs needs the corpus matrix "
            f"broadcast (~{est_bytes:,} raw bytes for {n:,} vectors × "
            f"{d}-d), past the {budget:,}-byte "
            "budget — pass cluster_col= (coarse-quantizer buckets, "
            "Σ|bucket|² cost) or run semdedup/embedding_dup_probe, or "
            "raise broadcast_budget_bytes if this driver really has the "
            "headroom; exact all-pairs at this size is an O(n²) "
            "non-starter regardless of transport"
        )
    packed = _collect_matrix(corpus, id_col, vec_col)
    if packed is None:
        return spark.createDataFrame([], "id_a long, id_b long, cos double")
    bc = spark.sparkContext.broadcast(packed)
    margin = 1e-6

    def gen_candidates(batches):
        ids_all, M_all, n_all = bc.value
        for b_pdf in batches:
            if len(b_pdf) == 0:
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in b_pdf[vec_col]])
            aid = b_pdf[id_col].to_numpy(dtype=np.int64)
            an = np.sqrt((A * A).sum(axis=1))
            # sub-chunk so the score block stays ~512·n doubles
            for s in range(0, len(A), 512):
                S = A[s : s + 512] @ M_all.T
                denom = np.outer(an[s : s + 512], n_all)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, S / denom, 0.0)
                mask = (cos >= threshold - margin) & (
                    aid[s : s + 512, None] < ids_all[None, :]
                )
                ii, jj = np.nonzero(mask)
                if len(ii):
                    yield pd.DataFrame(
                        {"id_a": aid[s : s + 512][ii], "id_b": ids_all[jj]}
                    )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        gen_candidates, schema="id_a long, id_b long"
    )
    va = corpus.select(
        F.col(id_col).alias("id_a"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("va"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vb"),
    )
    cos = _cos(F.col("va"), F.col("vb"))
    cand_a = va.join(F.broadcast(cand), "id_a")  # small: candidates + left vecs
    return (
        vb.join(F.broadcast(cand_a), "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def build_centroids(
    corpus: DataFrame, cluster_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Coarse-quantizer centroids: mean vector per cluster id.

    Computed columnar: posexplode → groupBy(cluster, pos) mean → re-assemble
    the array ordered by position. One shuffle proportional to |corpus|·dim,
    run once at index-build time.
    """
    exploded = corpus.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    return (
        exploded.groupBy("cluster", "pos")
        # mean of doubles is partition-order-dependent in the last ulp;
        # rounding to 6 dp makes the centroid reproducible across engines
        # and runs, so downstream probe ranking is deterministic
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def _probe_pairs(
    queries: DataFrame,
    cents: DataFrame,
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(query_id, cluster): each query's ``nprobe`` nearest centroids.
    Deterministic — centroid cosines round to 6 dp and ties break on
    cluster id, so probe sets are reproducible across engines/runs.
    Deliberately does NOT carry the query vector: the pair table is
    pinned and its distinct clusters collected for the pruning
    predicate (ids + cluster values only); vectors join back
    executor-side (:func:`_probe_vec_rows`).

    Scale shape: the |q|·C (query × centroid) score rows never shuffle —
    the ``row_number <= nprobe`` filter plans as a PARTIAL
    WindowGroupLimit below the exchange (verified in the physical plan),
    so each scan task keeps nprobe rows per query map-side and only
    |q|·nprobe skinny rows cross the wire."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    qcos = F.round(_cos(F.col("qv"), F.col("centroid")), 6)
    w = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cluster"))
    return (
        q.join(F.broadcast(cents))
        .select("query_id", "cluster", qcos.alias("ccos"))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "cluster")
    )


#: Default budget for shipping a vector matrix through the driver as a
#: broadcast (raw bytes: 8·n·(dim+1)): :func:`cosine_topk`'s query side
#: and :func:`cosine_dup_pairs`' corpus raise above it. Increment-scale
#: query frames go through :func:`ivf_search`, which never collects them
#: — ~10 M × 768-d float64 daily-increment vectors are ~60 GB, far past
#: any driver heap.
IVF_BROADCAST_BUDGET_BYTES = 256 << 20

#: Target raw bytes (8·rows·(dim+1)) of ONE cluster-shard's corpus block
#: inside the distributed probe's cogroup kernel when ``shards='auto'``
#: resolves the skew valve. 128 MiB ≈ 1M 128-d float64 vectors per task —
#: comfortably inside a 2-4 GiB executor-core share with the query-axis
#: chunking (``score_block_doubles``) bounding the other dimension.
IVF_SHARD_TARGET_BLOCK_BYTES = 128 << 20


def _index_dim(cents: DataFrame) -> int:
    """The index's embedding dimension, from a 1-row head of the C-row
    centroid table — a tiny per-call job, paid deliberately: a
    per-process memo keyed on the path was tried and reverted (review
    catch) because a long-lived serving process would size the
    shards='auto' valve with a STALE dimension after an out-of-process
    overwrite rebuild changed it — under-sharding by dim_new/dim_old is
    exactly the executor-OOM the valve exists to prevent. Per-trigger
    hot loops avoid the job entirely by passing an explicit shards
    int."""
    return len(cents.select("centroid").head().centroid)


def _auto_shards(max_rows: int, dim: int, target_bytes: int) -> int:
    """Shard count bounding the hot cluster's per-task corpus block:
    ``ceil(max_cluster_raw_bytes / target_bytes)`` with the same
    8·rows·(dim+1) raw-bytes model the broadcast budget uses. Pure
    arithmetic so the round-trip (measured sizes → valve) is unit-pinned
    independent of Spark. ``target_bytes <= 0`` raises: this family's
    ``broadcast_budget_bytes=0`` means "skip the guard", and a caller
    pattern-matching that spelling here would otherwise get shards =
    max_cluster_raw_bytes — billions of replicated probe rows instead of
    a loud error."""
    if target_bytes <= 0:
        raise ValueError(
            f"shard_target_block_bytes must be positive, got "
            f"{target_bytes} — there is no opt-out spelling here; to "
            "disable the skew valve pass shards=1 explicitly"
        )
    if max_rows <= 0:
        return 1
    row_bytes = 8 * (dim + 1)
    return max(1, -(-(max_rows * row_bytes) // target_bytes))

#: Sentinel for NULL cluster values in the cogroup key (cogroup aligns
#: groups by key EQUALITY, and SQL null != null would strand the corpus'
#: default-partition rows from the probes targeting them).
_NULL_CLUSTER_KEY = "\x00null\x00"


def _estimate_matrix_bytes(df: DataFrame, vec_col: str):
    """(n, dim, raw bytes) of collecting ``df``'s vectors as one matrix —
    the 8·n·(dim+1) payload :func:`_collect_matrix` ships. One count/
    max-size job; the single definition both budget guards share."""
    est = df.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(F.col(vec_col))).alias("d")
    ).first()
    return est.n, est.d, est.n * ((est.d or 0) + 1) * 8


def _probe_vec_rows(
    pairs: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(query_id, cluster, qv) probe rows for the IVF probe: the
    caller's :func:`_probe_pairs` frame — the SAME plan object that built
    the pruning predicate, so probe rows and prune cannot be computed
    from two divergent expressions — joined back to the query vectors
    executor-side. Nothing here touches the driver; the increment
    shuffles once on query_id."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    return pairs.join(q, "query_id")


def _prune_predicate(probed, cluster_col: str):
    """Partition-pruning predicate from the ≤C distinct probed cluster
    values (NULL probes read the default partition back as IS NULL)."""
    non_null = [c for c in probed if c is not None]
    pred = F.col(cluster_col).isin(non_null) if non_null else F.lit(False)
    if None in probed:
        pred = pred | F.col(cluster_col).isNull()
    return pred


def _check_clusters_present(
    expected, present, context: str
) -> None:
    """The ONE lost-cluster presence guard outside the cogroup kernel
    (two call sites: :func:`ivf_search`'s sharded/excluded branch and
    the ingest startup health check) — a cluster that should have corpus
    rows but has none means lost partition files or a label that
    round-tripped through partition-type inference. Both sides are
    normalized through :func:`_cluster_key` so int/float/NULL renderings
    of the same label can never false-positive."""
    missing = {_cluster_key(c) for c in expected} - {
        _cluster_key(c) for c in present
    }
    if missing:
        raise ValueError(
            f"ivf probe ({context}): cluster(s) "
            f"{sorted(missing, key=str)[:5]} have no corpus rows — the "
            "index has lost those clusters' partition files, or "
            "numeric-looking string labels round-tripped as numbers "
            "through partition-type inference (see ivf_build notes)"
        )


def _apply_exclusion(
    corpus: DataFrame, exclude_ids: "DataFrame | None", id_col: str
) -> DataFrame:
    """Anti-join the (small-by-contract) excluded id set out of the
    pruned corpus slice BEFORE any scoring — broadcast hash anti, so the
    corpus never shuffles for it. A top-k post-filter would be wrong
    here: a wall of excluded near-ties (a replayed batch's own landed
    mates at cos≈1) could fill the per-batch top-(k+pad) and starve the
    genuine stored match below it."""
    if exclude_ids is None:
        return corpus
    excl = exclude_ids.select(F.col(id_col).alias("__excl")).distinct()
    return corpus.join(
        F.broadcast(excl), corpus[id_col] == F.col("__excl"), "left_anti"
    )


def _distributed_candidates(
    corpus: DataFrame,
    probe_rows: DataFrame,
    k: int,
    cluster_col: str,
    vec_col: str,
    id_col: str,
    shards: int = 1,
    score_block_doubles: int = 1 << 25,
    allow_empty_clusters: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id) candidates with NO driver transit: the
    probe rows shuffle by their probed cluster and cogroup against the
    (partition-pruned) corpus on the cluster key; each cogroup runs the
    GEMM + tie-inclusive top-(k+pad) kernel :func:`_gemm_topk`. Shuffled
    volume is the increment (×nprobe, ×shards) plus the probed nprobe/C
    slice of the corpus — executor to executor, never through the driver.

    ``shards > 1`` splits each corpus cluster into hash shards and
    replicates the probing queries to every shard — the skew valve when a
    single cluster's vectors outgrow one task's memory (each cogroup then
    holds |cluster|/shards corpus vectors); per-shard top-(k+pad) keeps a
    superset of the per-cluster top-(k+pad), so the exact re-rank result
    is shard-count-invariant (pinned in tests).

    Memory inside a cogroup: the corpus axis is bounded by ``shards``
    (the caller's valve); the QUERY axis is chunked by the kernel so the
    score block never exceeds ``score_block_doubles`` — a popular cluster
    probed by 100k increment queries must not materialize a
    |cluster|×100k matrix."""
    import numpy as np
    import pandas as pd

    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    ckey = F.coalesce(
        F.col(cluster_col).cast("string"), F.lit(_NULL_CLUSTER_KEY)
    )
    c = corpus.select(
        ckey.alias("__ck"),
        F.col(id_col).alias("__nid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
    )
    pkey = F.coalesce(F.col("cluster").cast("string"), F.lit(_NULL_CLUSTER_KEY))
    p = probe_rows.select(pkey.alias("__ck"), "query_id", "qv")
    keys = ["__ck"]
    if shards > 1:
        keys = ["__ck", "__sh"]
        c = c.withColumn(
            "__sh", F.pmod(F.xxhash64(F.col("__nid")), F.lit(shards)).cast("int")
        )
        # sequence of int literals is already array<int> — and a generator
        # cannot nest inside a cast expression
        p = p.withColumn(
            "__sh", F.explode(F.sequence(F.lit(0), F.lit(shards - 1)))
        )
    empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int64"),
            "neighbor_id": pd.Series([], dtype="int64"),
        }
    )

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = this cluster(-shard)'s corpus rows, right = the queries
        # probing it
        if len(right) == 0:
            return empty  # unprobed cluster surviving the prune
        if len(left) == 0:
            if shards > 1 or allow_empty_clusters:
                # a small cluster can legitimately miss a hash shard; and
                # under an exclude_ids search (ingest mate exclusion) a
                # cluster whose every row is excluded is a LEGITIMATE
                # empty, not corruption — the presence guard runs
                # pre-exclusion in ivf_search instead
                return empty
            # a well-formed index has >=1 corpus row per centroid (the
            # centroid IS a mean of corpus rows, and add only appends) —
            # probes against an empty cluster mean the cluster's
            # partition files are gone, or a numeric-looking STRING
            # label round-tripped as a number through partition-type
            # inference (label='007' reads back as 7 — see ivf_build
            # notes). Raise — silently missing neighbors is the one
            # outcome a dedup pipeline must never get.
            raise ValueError(
                "ivf probe (distributed): probe rows target a cluster "
                "with no corpus rows after pruning — the index has lost "
                "this cluster's partition files, or numeric-looking "
                "string labels round-tripped as numbers through "
                "partition-type inference (see ivf_build notes)"
            )
        left = _dedup_ids(left, "__nid")
        C = np.stack([np.asarray(v, dtype=np.float64) for v in left["__cv"]])
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in right["qv"]])
        cq, cn = _gemm_topk(
            C,
            left["__nid"].to_numpy(dtype=np.int64),
            Q,
            np.sqrt((Q * Q).sum(axis=1)),
            right["query_id"].to_numpy(dtype=np.int64),
            k,
            score_block_doubles,
        )
        return pd.DataFrame({"query_id": cq, "neighbor_id": cn})

    return (
        c.groupBy(*keys)
        .cogroup(p.groupBy(*keys))
        .applyInPandas(score, schema="query_id long, neighbor_id long")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k in one pass: centroids, probes, and scoring
    against an in-memory (unindexed) corpus.

    The probe is :func:`ivf_search`'s, minus the index: probe pairs
    (:func:`_probe_pairs`) join back to their query vectors, cogroup
    with the corpus on the cluster key for the GEMM kernel
    (:func:`_distributed_candidates`), and the candidates get the JVM
    exact re-rank. This single-job form recomputes the centroid table
    per call and shuffles the whole corpus once; for the
    search-many-times contract build the index ONCE with
    :func:`ivf_build` and serve queries with :func:`ivf_search`, which
    reads only the probed cluster partitions.
    """
    _require_int_ids(queries, id_col, "ivf_topk")
    _require_int_ids(corpus, id_col, "ivf_topk")
    cents = build_centroids(corpus, cluster_col, vec_col)
    pairs = _probe_pairs(queries, cents, nprobe, vec_col, id_col)
    probe_rows = _probe_vec_rows(pairs, queries, vec_col, id_col)
    cand = _distributed_candidates(
        corpus, probe_rows, k, cluster_col, vec_col, id_col
    )
    return _exact_rerank(
        corpus, queries, cand, k, vec_col, id_col, distributed=True
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_clusters: int = 256,
    sample_size: int = 100_000,
    iters: int = 20,
    seed: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Train a spherical k-means coarse quantizer on a bounded,
    DETERMINISTIC corpus sample; returns a (n_clusters × dim) numpy
    centroid matrix (unit rows, k-means++ init, Lloyd iterations).

    This is the standard IVF practice — the quantizer trains on a sample
    (the index quality is insensitive to sample size past ~100×k), so the
    driver-side work is bounded by ``sample_size``, never corpus size.
    The sample is hash-selected (xxhash64 of the id, fixed threshold),
    trimmed and ordered by a uniform hash of the id (splitmix64, ties →
    id), so re-training on the same corpus yields the same centroids
    bit-for-bit regardless of partitioning/retries and the kept subset
    stays uniform over the id range even when the trim engages. Zero
    vectors are excluded from training (they have no direction).
    """
    import numpy as np

    n = corpus.count()
    if n == 0:
        raise ValueError("kmeans_centroids: empty corpus")
    # over-sample 20% against hash variance, trim to sample_size by id
    frac = min(1.0, sample_size * 1.2 / n)
    sampled = corpus.select(id_col, vec_col)
    if frac < 1.0:
        sampled = sampled.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000))
            < int(frac * 1_000_000)
        )
    packed = _collect_matrix(sampled, id_col, vec_col)
    if packed is None:
        raise ValueError("kmeans_centroids: sample is empty")
    ids, M, norms = packed
    # Trim the ~20% over-sample by a UNIFORM hash of the id (splitmix64
    # finalizer — deterministic, partitioning-independent), ties → id.
    # Trimming by raw id order would systematically exclude the top of
    # the id range — and ids routinely correlate with crawl time, so the
    # newest documents would never influence the quantizer.
    z = ids.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    order = np.lexsort((ids, z))[:sample_size]
    M, norms = M[order], norms[order]
    keep = norms > 0
    V = M[keep] / norms[keep][:, None]
    if len(V) == 0:
        raise ValueError("kmeans_centroids: every sampled vector is zero")
    k = min(n_clusters, len(V))
    rng = np.random.default_rng(seed)
    # k-means++ seeding on cosine distance (1 - dot of unit vectors)
    cents = np.empty((k, V.shape[1]))
    cents[0] = V[rng.integers(len(V))]
    d2 = np.maximum(1.0 - V @ cents[0], 0.0)
    for c in range(1, k):
        total = d2.sum()
        if total > 0:
            # d²-weighted draw via inverse-CDF: rng.choice(p=...) rejects
            # float weights whose sum drifts past its 1±1e-8 check
            pick = int(np.searchsorted(np.cumsum(d2), rng.random() * total))
            pick = min(pick, len(V) - 1)
        else:
            pick = int(rng.integers(len(V)))
        cents[c] = V[pick]
        d2 = np.minimum(d2, np.maximum(1.0 - V @ cents[c], 0.0))
    for _ in range(iters):
        # assign: argmax dot == min cosine distance; ties -> lowest id
        a = np.argmax(V @ cents.T, axis=1)
        moved = False
        for c in range(k):
            members = V[a == c]
            if len(members) == 0:
                continue  # empty cluster keeps its centroid
            m = members.sum(axis=0)
            nm = np.linalg.norm(m)
            if nm > 0:
                m = m / nm
                if not np.allclose(m, cents[c]):
                    moved = True
                cents[c] = m
        if not moved:
            break
    return cents


def assign_clusters(
    corpus: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "cluster",
    cos_col: str | None = None,
) -> DataFrame:
    """Add the nearest-centroid id (max cosine; ties → lowest cluster id;
    zero vectors → cluster 0) as ``out_col``. The centroid matrix is
    broadcast and assignment is a per-batch GEMM argmax — scan-local,
    no shuffle, deterministic across retries/re-plans.

    ``cos_col`` additionally emits the winning cosine (6-dp-rounded, so
    downstream orderings are stable across batch shapes) from the SAME
    GEMM — :func:`semdedup` ranks representatives by it for free."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    Cu = np.where(cn[:, None] > 0, C / np.maximum(cn, 1e-300)[:, None], C)
    bc = corpus.sparkSession.sparkContext.broadcast(Cu)
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    if cos_col == out_col:
        raise ValueError(
            "assign_clusters: out_col and cos_col must differ — a "
            "duplicate field name makes the output frame unusable"
        )
    for c in (out_col,) + ((cos_col,) if cos_col else ()):
        if c in corpus.columns:
            # a duplicate field name would make the output frame unusable
            # (ambiguous resolution) — fail here with the remedy
            raise ValueError(
                f"assign_clusters: column {c!r} already exists on the "
                "corpus; pass a different out_col/cos_col or drop it first"
            )
    new_fields = [StructField(out_col, IntegerType())] + (
        [StructField(cos_col, DoubleType())] if cos_col else []
    )
    out_fields = corpus.schema.fieldNames() + [f.name for f in new_fields]
    # a fresh StructType: .add() MUTATES (and returns) the df's cached
    # schema object, silently corrupting the input frame's resolution
    schema = StructType(list(corpus.schema.fields) + new_fields)

    def assign(batches):
        Cm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            vn = np.linalg.norm(V, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(vn[:, None] > 0, (V @ Cm.T) / vn[:, None], 0.0)
            pdf = pdf.copy()
            # np.argmax takes the FIRST max -> lowest cluster id on ties
            pdf[out_col] = np.argmax(S, axis=1).astype(np.int32)
            if cos_col:
                pdf[cos_col] = np.round(np.max(S, axis=1), 6)
            yield pdf[out_fields]

    return corpus.mapInPandas(assign, schema=schema)


def semdedup(
    corpus: DataFrame,
    n_clusters: int = 64,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids=None,
    sample_size: int = 100_000,
    max_iters: int = 20,
) -> DataFrame:
    """Semantic deduplication in embedding space (the SemDeDup recipe,
    Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the corpus,
    find within-cluster pairs with cosine ≥ ``threshold``, connect them
    into duplicate groups, and KEEP exactly one representative per group
    — the member with the LOWEST cosine to its cluster centroid (the
    paper's choice: of a redundant group, retain the least prototypical
    example; ties → smallest id).

    Returns one row per corpus document:
    ``(id, cluster, cent_cos, semdup_group, keep)`` — ``semdup_group``
    is the min-id label of the document's duplicate group (its own id
    for non-duplicates), ``keep`` is the survivor flag. Filtering on
    ``keep`` is the dedup; keeping the columns is the audit trail.

    Scale shape: quantizer training is sample-bounded
    (:func:`kmeans_centroids`), assignment is one scan-local GEMM
    (:func:`assign_clusters`) and the centroid cosine a scan-local
    broadcast-centroid join re-scored with the sequential-fold JVM dot
    product (so the emitted — and keeper-ranking — value is
    oracle-arithmetic-exact, not a reordered GEMM sum), pair-finding is
    Σ|cluster|² within-bucket work (:func:`cosine_dup_pairs` — never
    corpus-wide all-pairs), grouping is O(log diameter) label
    propagation over dup-involved nodes only, and the keep decision
    shuffles ONLY dup-involved rows (3 small columns) — the singleton
    majority joins back untouched. The contract is the paper's: pairs
    split across clusters are not compared (that approximation is what
    buys the Σ|cluster|² bound).

    ``centroids`` accepts a pre-trained matrix (e.g. the quantizer of an
    existing :func:`ivf_build` index) so embedding search and semantic
    dedup can share one geometry.
    """
    import numpy as np

    from .dedup import connected_components, pin_intermediate

    if centroids is None:
        centroids = kmeans_centroids(
            corpus, n_clusters=n_clusters, sample_size=sample_size,
            vec_col=vec_col, id_col=id_col,
        )
    # cent_cos is RECOMPUTED JVM-side (broadcast centroid join +
    # sequential-fold _cos, 6 dp): the GEMM's cos_col is a reordered
    # float sum rounded half-to-even by numpy — a value within an ulp of
    # a .5e-6 boundary could round differently from an engine using the
    # plain left-to-right fold, and cent_cos both ranks the keeper and
    # is emitted. The module's discipline is that every EMITTED float is
    # oracle-arithmetic-exact; only the assignment argmax (whose ties
    # would need two centroids within ~1e-7 of the same cosine) stays
    # GEMM-side. One scan-local broadcast join, no extra shuffle.
    cmat = np.asarray(centroids, dtype=np.float64)
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        # one slice explicitly: PySpark's default parallelize cuts the
        # local list into defaultParallelism Python-RDD slices and every
        # consumption pays one Python-runner round-trip per slice; this
        # frame's only consumer is a broadcast build (round 17)
        spark.sparkContext.parallelize(
            [(i, [float(x) for x in c]) for i, c in enumerate(cmat)], 1
        ),
        "cluster int, __cent array<double>",
    )
    # ≥3 consumers (both sides of the within-cluster self-join + the
    # output join) and the lineage is a corpus-wide Arrow kernel: pin.
    assigned = pin_intermediate(
        assign_clusters(
            corpus.select(id_col, vec_col), centroids,
            vec_col=vec_col, out_col="cluster",
        )
        .join(F.broadcast(cent_df), "cluster")
        .withColumn(
            "cent_cos",
            F.round(
                _cos(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    F.col("__cent"),
                ),
                6,
            ),
        )
        .drop("__cent"),
        eager=True,
    )
    pairs = cosine_dup_pairs(
        assigned, threshold=threshold,
        vec_col=vec_col, id_col=id_col, cluster_col="cluster",
    )
    cc_stats: dict = {}
    labels = connected_components(
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        max_iters=max_iters,
        stats=cc_stats,
    )
    # Every group member is ranked, the center included: the labels are
    # non-center rows only, so the members are rebuilt as
    # labels ∪ {(label, label)}. Exact — every center of a size ≥ 2
    # component is some non-center's label, and cosine_dup_pairs emits
    # only id_a < id_b, so there are no self-loop-only nodes to lose.
    members = labels.unionByName(
        labels.select(F.col("label").alias("doc"), "label").distinct()
    )
    # Fastpath-gated broadcast (round 18, same principle as the
    # connected_components mapping hint): when the driver fastpath
    # labeled the graph, the member frame is provably tiny (≤ 2×budget
    # nodes, each in some pair) but RDD-backed with unknown stats, so
    # the planner would SortMergeJoin it against the corpus-scale
    # ``assigned`` — shuffling the corpus side TWICE (once by doc for
    # the ranking join, once by id for the output join). Hinting both
    # small frames keeps every corpus-scale pass shuffle-free; the
    # unbounded star-loop output stays unhinted (the fastpath decision
    # is made eagerly inside connected_components, so cc_stats is
    # populated by now).
    fastpath = "fastpath_edges" in cc_stats
    if fastpath:
        members = F.broadcast(members)
    ranked = (
        members.join(
            assigned.select(F.col(id_col).alias("doc"), "cent_cos"), "doc"
        )
        .withColumn(
            "keep",
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.col("cent_cos").asc(), F.col("doc").asc()
                )
            )
            == 1,
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("label").alias("semdup_group"),
            "keep",
        )
    )
    if fastpath:
        ranked = F.broadcast(ranked)
    return (
        assigned.select(id_col, "cluster", "cent_cos")
        .join(ranked, id_col, "left")
        .select(
            id_col,
            "cluster",
            "cent_cos",
            F.coalesce("semdup_group", F.col(id_col)).alias("semdup_group"),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


def ivf_build(
    corpus: DataFrame,
    path: str,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    n_clusters: int | None = None,
) -> str:
    """Build a persistent IVF index: ``path/centroids`` (the coarse
    quantizer, C rows) + ``path/corpus`` written PARTITIONED BY the
    cluster column.

    This is the 100 TB shape — the index is built once (one centroid
    aggregate + one partitioned write, both corpus-linear) and searched
    many times: because the corpus lives under ``cluster=<c>/``
    directories, a search's cluster filter becomes partition PRUNING at
    file-listing time, so each :func:`ivf_search` reads nprobe/C of the
    data instead of re-scanning and re-shuffling the corpus per query
    batch. A NULL cluster writes to the default partition and reads back
    as NULL — those rows stay searchable. Label-type caveat: Spark's
    partition-type INFERENCE re-types directory values on read, so a
    numeric-looking STRING label ('007') reads back as a number (7) and
    no longer matches its centroid row — searches then raise through
    the lost-cluster guard instead of finding that cluster. Use genuinely non-numeric string labels, or set
    ``spark.sql.sources.partitionColumnTypeInference.enabled=false``.

    With ``n_clusters`` set, ``cluster_col`` is IGNORED and the quantizer
    is trained from the embeddings themselves: :func:`kmeans_centroids`
    (sample-trained spherical k-means, deterministic) +
    :func:`assign_clusters` (broadcast GEMM argmax) produce a ``cluster``
    column — the path for raw unlabeled corpora, which is what real
    pipelines have. Either way the function returns the cluster column
    name actually written; pass it to :func:`ivf_search` as
    ``cluster_col``. ``mode="overwrite"`` also clears the index's
    ``ingest_log`` (the :func:`streaming_embedding_ingest` journal).
    """
    # fail at BUILD, not first search: ivf_search is this index's only
    # consumer and its kernels pack ids as int64 — storing string ids
    # would just defer the error to serving time
    _require_int_ids(corpus, id_col, "ivf_build")
    if n_clusters is not None:
        cents_m = kmeans_centroids(
            corpus, n_clusters=n_clusters, vec_col=vec_col, id_col=id_col
        )
        corpus = assign_clusters(corpus, cents_m, vec_col=vec_col, out_col="cluster")
        cluster_col = "cluster"
    if mode == "overwrite":
        # a rebuilt index starts a new ingest history: a kept journal
        # would make a new stream skip every batch id the old index
        # recorded. A Hadoop FileSystem delete works on any store.
        sc = corpus.sparkSession.sparkContext
        log = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/ingest_log")
        log.getFileSystem(sc._jsc.hadoopConfiguration()).delete(log, True)
    cents = build_centroids(corpus, cluster_col, vec_col)
    cents.write.mode(mode).parquet(f"{path}/centroids")
    corpus.write.mode(mode).partitionBy(cluster_col).parquet(f"{path}/corpus")
    return cluster_col


def _check_corpus_layout(spark, path: str, cluster_col: str) -> None:
    """Raise when the stored corpus does not partition by ``cluster_col``
    — appending under the wrong column writes a second partition scheme
    into the directory and every later read dies with
    CONFLICTING_DIRECTORY_STRUCTURES. Reads the actual partition
    DIRECTORY names (schema presence is not enough: a label-built frame
    keeps 'label' as a data column when the directories partition by
    'cluster'), scanning only the path BELOW ``.../corpus/`` so
    ``key=value`` segments in the index's own base path cannot pollute
    the check (Spark %-escapes '/' and '=' inside partition values, so
    both splits are safe). Cost: one recursive file listing — O(corpus
    files), driver-side; per-trigger callers run it ONCE at stream
    start, not per batch."""
    files = spark.read.parquet(f"{path}/corpus").inputFiles()
    part_cols = {
        seg.split("=", 1)[0]
        for f in files
        for seg in f.rsplit("/corpus/", 1)[-1].split("/")
        if "=" in seg
    }
    if files and not part_cols:
        # vacuous-pass hole (round-12 advice): a flat (unpartitioned)
        # corpus has no key=value directories at all, so the
        # wrong-column check below never fires — and a partitionBy
        # append into a flat layout writes the very second directory
        # scheme this guard exists to prevent. The index contract is
        # ALWAYS partitioned-by-cluster (ivf_build writes partitionBy;
        # ivf_add appends partitionBy) — a flat corpus is not a legacy
        # escape, it is corruption-in-waiting.
        raise ValueError(
            f"ivf corpus layout: the corpus at {path} has no key=value "
            "partition directories — an ivf index corpus is always "
            "written partitionBy(cluster column) (ivf_build/ivf_add); a "
            "partitioned append into this flat layout would write a "
            "second directory scheme and corrupt every later read "
            "(CONFLICTING_DIRECTORY_STRUCTURES). Rebuild the index with "
            "ivf_build, or rewrite the corpus partitioned by the "
            "cluster column"
        )
    if part_cols and cluster_col not in part_cols:
        raise ValueError(
            f"ivf corpus layout: the index at {path} does not partition "
            f"by {cluster_col!r} (partition column(s): "
            f"{sorted(part_cols)}) — pass the cluster column ivf_build "
            "returned (label-built indexes use the label column; "
            "n_clusters-built indexes use 'cluster')"
        )


def ivf_add(
    spark,
    path: str,
    increment: DataFrame,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append a corpus INCREMENT to an existing :func:`ivf_build` index —
    the daily-crawl shape: the quantizer stays fixed (standard IVF
    practice; re-train + rebuild periodically when the distribution
    drifts), new vectors land in their cluster's partition directory,
    and the next :func:`ivf_search` sees them with no rebuild and no
    rescan of the existing data.

    If the increment already carries ``cluster_col`` (a label-built
    index) it is written as-is; otherwise each vector is assigned to the
    nearest STORED centroid (max cosine, ties → smallest cluster value,
    NULL-cluster centroids sort last; zero vectors go to the first
    centroid) — the same quantizer the probes use, so an added vector is
    always findable through the cluster that ranks it highest. The
    centroid table is NOT re-centered by an append.
    """
    _require_int_ids(increment, id_col, "ivf_add")
    # found the hard way: an n_clusters-built index partitions by
    # 'cluster', and an ivf_add left at the 'label' default corrupted it
    _check_corpus_layout(spark, path, cluster_col)
    out = increment
    if cluster_col not in increment.columns:
        cents = spark.read.parquet(f"{path}/centroids")
        cent_rows = cents.collect()
        if not cent_rows:
            raise ValueError(f"ivf_add: no centroids under {path}")
        out = _assign_stored(
            increment, cent_rows, cents.schema["cluster"].dataType,
            cluster_col, vec_col,
        )
    out.write.mode("append").partitionBy(cluster_col).parquet(f"{path}/corpus")


def _assign_stored(
    increment: DataFrame, cent_rows, ctype, cluster_col: str, vec_col: str
) -> DataFrame:
    """``increment`` plus ``cluster_col``: the value of its nearest stored
    centroid among ``cent_rows`` (``ctype`` typed) — :func:`ivf_add`'s
    assignment, also run by the streaming door with the centroids it read
    at stream start."""
    import numpy as np
    import pandas as pd

    # deterministic assignment order: by cluster value, NULLs last
    cent_rows = sorted(cent_rows, key=lambda r: (r.cluster is None, r.cluster))
    vals = [r.cluster for r in cent_rows]
    C = np.stack([np.asarray(r.centroid, dtype=np.float64) for r in cent_rows])
    cn = np.linalg.norm(C, axis=1)
    Cu = np.where(cn[:, None] > 0, C / np.maximum(cn, 1e-300)[:, None], C)
    bc = increment.sparkSession.sparkContext.broadcast((vals, Cu))

    from pyspark.sql.types import StructField, StructType

    out_fields = increment.schema.fieldNames() + [cluster_col]
    schema = StructType(
        list(increment.schema.fields) + [StructField(cluster_col, ctype)]
    )

    def assign(batches):
        values, Cm = bc.value
        varr = pd.Series(values)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.linalg.norm(V, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(vn[:, None] > 0, (V @ Cm.T) / vn[:, None], 0.0)
            pdf = pdf.copy()
            pdf[cluster_col] = varr.iloc[np.argmax(S, axis=1)].to_numpy()
            yield pdf[out_fields]

    return increment.mapInPandas(assign, schema=schema)


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shards: "int | str" = 1,
    verify_clusters: bool = True,
    exclude_ids: "DataFrame | None" = None,
    shard_target_block_bytes: "int | None" = None,
) -> DataFrame:
    """Search a persistent :func:`ivf_build` index: probe the ``nprobe``
    nearest centroids per query, then scan ONLY the probed cluster
    partitions (partition pruning on the cluster directory column — the
    plan's scan carries the cluster filter as a Partition Filter, pinned
    in tests). Scoring and the exact re-rank are identical to
    :func:`ivf_topk`, so the split is output-equivalent for the same
    corpus and parameters.

    One probe path, with NO driver-bounded transfer at any increment
    size (SCALE.md records why it is the only one): probe assignment runs as JVM
    centroid-broadcast expressions (:func:`_probe_pairs`), the query
    rows shuffle by probed cluster and cogroup against the pruned corpus
    partitions (:func:`_distributed_candidates`, ``shards`` is the skew
    valve), and the exact re-rank joins unhinted. Only the ≤C distinct
    probed cluster ids ever reach the driver (the pruning predicate
    needs them). Per-trigger callers (``foreachBatch`` probing each
    micro-batch) pay no extra per-call job beyond that collect when they
    pass an explicit int ``shards`` and ``verify_clusters=False``
    (below).

    ``shards`` is the skew valve: it splits each
    corpus cluster into hash shards so a popular cluster's vectors fit
    one task. ``shards='auto'`` (round-12 verdict: at 100× the hot
    cluster's size is data-dependent and nobody hand-tunes per batch)
    measures the PRUNED slice's per-cluster row counts with one
    partition-column-only aggregate (zero data columns decoded — parquet
    answers it from row-group metadata) and picks
    ``ceil(max_cluster_raw_bytes / shard_target_block_bytes)``
    (:func:`_auto_shards`; default target
    :data:`IVF_SHARD_TARGET_BLOCK_BYTES`). Live counts, deliberately NOT
    a count stored in the centroid table: stored counts go stale under
    :func:`ivf_add`/ingest appends and would UNDERESTIMATE the hot
    cluster exactly when the valve matters, and keeping them fresh would
    mean rewriting the quantizer table per append — a crash window on
    the index's source of truth. The counts job doubles as the
    lost-cluster presence check, so ``'auto'`` costs the counts job it
    shares with verification plus one 1-row head over the C-row
    centroid table for the dimension (re-read per call, deliberately
    unmemoized — see :func:`_index_dim`); per-trigger hot loops should
    keep passing an explicit int. Results are shard-count-invariant
    (pinned), so 'auto' only changes the physical block shape.

    ``verify_clusters`` (default on) cross-checks that every probed
    cluster still has corpus rows before scoring — the lost-partition /
    label-type-roundtrip corruption guard, because silently missing
    neighbors is the one outcome a dedup pipeline must never get. The
    check is a distinct over the PARTITION column of the pruned slice:
    ≤C result rows, no data columns decoded (parquet answers a
    zero-column scan from row-group metadata), but it IS one extra Spark
    job touching every probed partition's file footers — per-trigger
    hot loops that own their index lifecycle can pass
    ``verify_clusters=False`` and run the check out-of-band instead.
    The shards=1 kernel keeps its in-kernel guard either way (it is
    free there), so a lost cluster still raises without the job; only
    a sharded or ``exclude_ids`` search with ``verify_clusters=False``
    goes unchecked.

    ``exclude_ids`` (a DataFrame carrying ``id_col``) removes the named
    STORED rows from the search before any scoring — not a post-filter
    of the top-k (which could starve genuine matches behind a wall of
    excluded near-ties), a pre-GEMM anti-join on the pruned corpus
    slice (broadcast: the exclude side is small by contract). Built for
    :func:`streaming_embedding_ingest`'s replay invariant: excluding a
    batch's own ids makes the probe a pure function of
    (index ∖ batch ids, batch), identical before and after the batch's
    survivors are appended. The lost-cluster presence guard evaluates
    PRE-exclusion — a cluster emptied by exclusion is legitimate, a
    cluster with no rows at all is still corruption.

    The search runs multiple Spark jobs over ``queries`` — a frame that
    is not deterministic across jobs (unordered sample()/limit()) must
    be pinned with localCheckpoint() first.
    """
    cents = spark.read.parquet(f"{path}/centroids")
    _require_int_ids(queries, id_col, "ivf_search")
    # validate shards AND the block target before any Spark job runs
    if shards != "auto" and not (isinstance(shards, int) and shards >= 1):
        raise ValueError(
            f"ivf_search: shards must be an int >= 1 or 'auto', got "
            f"{shards!r} — to disable the skew valve pass shards=1"
        )
    if shard_target_block_bytes is not None and shard_target_block_bytes <= 0:
        raise ValueError(
            f"ivf_search: shard_target_block_bytes must be positive, got "
            f"{shard_target_block_bytes} — there is no opt-out spelling; "
            "to disable the skew valve pass shards=1 explicitly"
        )
    # the only driver-crossing payload is the distinct probed cluster
    # ids (≤C rows), needed for the pruning predicate. `pairs` is pinned (|q|·nprobe skinny id rows, two consumers — the
    # pin rule), so the prune collect and the probe rows read the SAME
    # materialized rows: the |q|·C centroid scoring runs once, and a
    # queries frame that is nondeterministic across jobs cannot hand the
    # two consumers divergent probe sets. (The vector joins in
    # _probe_vec_rows and the re-rank still re-read `queries` by id —
    # redrawn VECTORS for a stable id are outside any guard; pin the
    # frame if even ids are unstable.)
    pairs = _probe_pairs(queries, cents, nprobe, vec_col, id_col).localCheckpoint()
    probed = {r.cluster for r in pairs.select("cluster").distinct().collect()}
    if not probed:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank int"
        )
    corpus = spark.read.parquet(f"{path}/corpus").filter(
        _prune_predicate(probed, cluster_col)
    )
    _require_int_ids(corpus, id_col, "ivf_search (stored corpus)")
    present = None  # probed-cluster ids actually on disk, when measured
    if shards == "auto":
        # live per-cluster counts over the pruned slice (≤C result rows,
        # partition column only) — see the docstring for why these are
        # measured here rather than stored in the centroid table
        sizes = {
            _cluster_key(r[0]): r[1]
            for r in corpus.groupBy(cluster_col).count().collect()
        }
        present = sizes.keys()
        shards = _auto_shards(
            max(sizes.values(), default=0),
            _index_dim(cents),
            IVF_SHARD_TARGET_BLOCK_BYTES
            if shard_target_block_bytes is None
            else shard_target_block_bytes,
        )
    if (shards > 1 or exclude_ids is not None) and verify_clusters:
        # the cogroup kernel's in-kernel lost-cluster guard only works
        # at shards=1 WITHOUT exclusion (a small cluster can
        # legitimately miss a hash shard, and an exclusion can
        # legitimately empty a cluster — neither is evidence of
        # corruption there) — so in both of those configurations the
        # probed clusters are checked against the PRE-exclusion pruned
        # corpus here instead. Distinct on the partition column; ≤C rows
        # (shards='auto' already measured exactly this — reuse it)
        _check_clusters_present(
            probed,
            present
            if present is not None
            else (r[0] for r in corpus.select(cluster_col).distinct().collect()),
            "distributed",
        )
    corpus = _apply_exclusion(corpus, exclude_ids, id_col)
    probe_rows = _probe_vec_rows(pairs, queries, vec_col, id_col)
    cand = _distributed_candidates(
        corpus, probe_rows, k, cluster_col, vec_col, id_col, shards=shards,
        allow_empty_clusters=exclude_ids is not None,
    )
    return _exact_rerank(
        corpus, queries, cand, k, vec_col, id_col, distributed=True
    )


def ivf_compact(
    spark,
    src_path: str,
    dst_path: str,
    cluster_col: str = "label",
    id_col: "str | None" = None,
) -> dict:
    """Write a compacted COPY of an :func:`ivf_build` index: same
    centroids, same rows, but the corpus rewritten as ~one file per
    cluster directory — the maintenance pass for an index grown by many
    :func:`ivf_add` increments, each of which leaves its own file
    generation per touched cluster (the same small-files tax
    :func:`~php_ec_spark.operators.dedup_index.dedup_index_compact`
    removes for the dedup index).

    Copy-compact rather than in-place: Spark cannot safely overwrite a
    path it is reading, and a partial in-place rewrite would leave a
    half-index with no recovery story. Writing to ``dst_path`` and
    flipping the pointer at the orchestration layer is atomic-by-rename
    on every store that matters; the old index stays searchable until
    the flip. Rows are range-partitioned on the cluster value before the
    write so one task owns each cluster directory (equal values never
    split across tasks — the :func:`ivf_search` partition-pruning layout
    is unchanged, just defragmented). Returns
    ``{"files_before": n, "files_after": m, "rows": r}`` for the corpus.

    ``id_col`` additionally collapses physically duplicated rows (same
    id within the same cluster — the residue an
    :func:`streaming_embedding_ingest` crash-replay can leave when it
    re-appends a batch whose journal write was lost; searches already
    tolerate them — in-kernel id dedup before the candidate keep plus
    the re-rank pair dedup — compaction is where they get swept). Ids are unique within a well-formed corpus, so the
    collapse keeps identical rows' first copy; it deliberately does NOT
    dedup the same id across DIFFERENT clusters — that is two distinct
    index entries (e.g. a label-built row and a re-added quantized row)
    and dropping one would change search results.
    """
    from .dedup import _parquet_path_exists

    cents = spark.read.parquet(f"{src_path}/centroids")
    corpus = spark.read.parquet(f"{src_path}/corpus")
    before = len(corpus.inputFiles())
    if id_col is not None:
        corpus = corpus.dropDuplicates([id_col, cluster_col])
    n_clusters = cents.count()
    cents.write.mode("error").parquet(f"{dst_path}/centroids")
    (
        # range-partitioning on the cluster VALUE itself is correct here:
        # equal values can never split across range boundaries, so each
        # cluster directory is written by one task. Do NOT "optimize" this
        # to repartition(n, hash(...)) or range-partition on a DERIVED
        # expression — dedup_index_compact learned that hash/derived
        # partitioners do not coincide with directory identity and
        # silently split bucket files (its recipe range-partitions on
        # pmod(hash(cols), n) BECAUSE its bucket id is that expression).
        corpus.repartitionByRange(max(int(n_clusters), 1), cluster_col)
        .write.mode("error")
        .partitionBy(cluster_col)
        .parquet(f"{dst_path}/corpus")
    )
    # the exactly-once journal travels with the index: a compact-and-flip
    # that dropped ingest_log would make the resumed stream replay its
    # in-flight batch as if never applied — re-appending rows the sweep
    # just removed — and lose the batch audit trail
    if _parquet_path_exists(spark, f"{src_path}/ingest_log"):
        (
            spark.read.parquet(f"{src_path}/ingest_log")
            .write.mode("error")
            .partitionBy("batch")
            .parquet(f"{dst_path}/ingest_log")
        )
    out = spark.read.parquet(f"{dst_path}/corpus")
    return {
        "files_before": before,
        "files_after": len(out.inputFiles()),
        "rows": out.count(),
    }


def embedding_dup_probe(
    spark,
    path: str,
    queries: DataFrame,
    threshold: float = 0.95,
    nprobe: int = 2,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shards: "int | str" = 1,
    verify_clusters: bool = True,
    exclude_ids: "DataFrame | None" = None,
    shard_target_block_bytes: "int | None" = None,
) -> DataFrame:
    """Probe new embeddings against a persistent :func:`ivf_build` index
    for SEMANTIC duplicates: each query is annotated with its best stored
    match at cosine ≥ ``threshold`` (``dup_of``/``dup_cos``, NULLs when
    novel) — the embedding-space member of the incremental triad, beside
    the text layers of ``dedup_index_probe`` and the batch
    :func:`semdedup`.

    Cost is one :func:`ivf_search` (centroid probe + partition-pruned
    scan of nprobe/C of the corpus) — never a corpus rescan, and no
    driver-bounded transfer of the queries at any increment size;
    ``shards``/``verify_clusters``/``exclude_ids`` pass straight
    through — see :func:`ivf_search`. Same
    approximation contract as SemDeDup/IVF: a duplicate quantized into a
    cluster the probe misses is not flagged; raise ``nprobe`` to trade
    scan for recall. Output keeps one row per query (left join), so
    survivors filter as ``dup_of IS NULL``.
    """
    clash = {"dup_of", "dup_cos"} & set(queries.columns)
    if clash:
        # an already-annotated frame would join into duplicate column
        # names (ambiguous resolution) — same guard as dedup_index_probe
        raise ValueError(
            f"embedding_dup_probe: queries already has column(s) "
            f"{sorted(clash)}; rename or drop them first"
        )
    hits = (
        ivf_search(
            spark, path, queries, k=1, nprobe=nprobe,
            cluster_col=cluster_col, vec_col=vec_col, id_col=id_col,
            shards=shards, verify_clusters=verify_clusters,
            exclude_ids=exclude_ids,
            shard_target_block_bytes=shard_target_block_bytes,
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("query_id").alias(id_col),
            F.col("neighbor_id").alias("dup_of"),
            F.col("cos").alias("dup_cos"),
        )
    )
    return queries.join(hits, id_col, "left")


def streaming_embedding_ingest(
    spark,
    path: str,
    stream: DataFrame,
    *,
    landed_path: str,
    checkpoint: str,
    threshold: float = 0.95,
    nprobe: int = 2,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    drop_dups: bool = True,
    available_now: bool = False,
):
    """Continuous embedding ingestion THROUGH a persistent
    :func:`ivf_build` index, through the one door
    :func:`~php_ec_spark.operators.dedup._ingest_through_index` (its
    docstring holds the per-batch protocol and the crash windows): each
    micro-batch is probed for semantic duplicates of the stored corpus
    (:func:`embedding_dup_probe`), intra-batch near-duplicates collapse
    to their min id, survivors land under ``landed_path/batch=<id>/``
    and are appended. The append is blind, so each applied batch is
    journaled under ``{path}/ingest_log/batch=<id>`` (``batch_id``,
    ``n_landed``, ``n_added``).

    Replay invariant: the probe excludes the batch's own ids
    (``exclude_ids``) — a no-op on a first run; on a replay the landed
    mates ARE stored and would otherwise outscore the stored matches
    that decided the drops. Corollary: ids are a corpus-wide namespace,
    and a batch reusing a stored id hides that stored row from its own
    probe; re-embedding pipelines that reuse ids should rebuild or
    compact, not ingest-through.

    Intra-batch dedup is :func:`semdedup` at micro-batch cost: assign to
    the STORED quantizer, within-cluster pairs ≥ ``threshold``
    (Σ|cluster∩batch|², never batch²), connected components, min-id
    keeper. ``drop_dups=False`` lands every row annotated instead:
    ``dup_of``/``dup_cos`` from the stored probe, and intra-batch losers
    carry their keeper's id in ``dup_of`` (``dup_cos`` NULL: the
    component relation is connectivity, not one scored pair). The index
    receives only the survivors either way.

    Index health (every centroid has corpus rows), the corpus layout and
    the centroids are read ONCE at stream start; each trigger runs one
    partition-pruned probe (``verify_clusters=False``), batch-bounded
    pair work and one append with the start-of-stream centroids.
    Returns the started StreamingQuery.
    """
    from .dedup import _ingest_through_index

    if cluster_col in stream.columns:
        raise ValueError(
            f"streaming_embedding_ingest: the stream already carries "
            f"{cluster_col!r}; this ingest assigns clusters from the "
            "stored quantizer — drop/rename the column, or append "
            "pre-assigned increments with ivf_add directly"
        )
    # the schema is known before start: every contract violation that
    # CAN fail at call time must, not as a StreamingQueryException three
    # triggers in
    if vec_col not in stream.columns:
        raise ValueError(
            f"streaming_embedding_ingest: the stream has no {vec_col!r} "
            f"column (columns: {stream.columns})"
        )
    _require_int_ids(stream, id_col, "streaming_embedding_ingest")
    cents = spark.read.parquet(f"{path}/centroids")
    cent_rows = sorted(
        cents.collect(), key=lambda r: (r.cluster is None, r.cluster)
    )
    if not cent_rows:
        raise ValueError(
            f"streaming_embedding_ingest: no centroids under {path}"
        )
    # out-of-band index-health check, once at stream start (the per-batch
    # probes run verify_clusters=False): every declared centroid must
    # still have corpus rows
    _check_clusters_present(
        {r.cluster for r in cent_rows},
        (
            r[0]
            for r in spark.read.parquet(f"{path}/corpus")
            .select(cluster_col)
            .distinct()
            .collect()
        ),
        "ingest startup",
    )
    # layout check ONCE here too (O(corpus files) listing)
    _check_corpus_layout(spark, path, cluster_col)
    ctype = cents.schema["cluster"].dataType
    cmat = [list(r.centroid) for r in cent_rows]

    def decide(s, batch_df, batch_id):
        # ids are the replay/dedup identity — a batch carrying the same
        # id twice (an at-least-once upstream) would land multiple rows
        # under one id, probe with an arbitrary one of the vectors, and
        # poison the unique-id contract the search re-rank depends on.
        # No deterministic collapse exists without ordering vectors, so
        # fail loudly; one batch-bounded agg job. NULL ids counted
        # separately: countDistinct ignores NULLs, so a lone NULL id
        # would otherwise read as "1 duplicate".
        stats = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.col(id_col)).alias("nd"),
            F.count(F.when(F.col(id_col).isNull(), 1)).alias("nn"),
        ).first()
        if stats.nn:
            raise ValueError(
                f"streaming_embedding_ingest: micro-batch {batch_id} "
                f"carries {stats.nn} row(s) with a NULL {id_col!r} — ids "
                "are the corpus-wide identity and must be present on "
                "every row; fix the upstream extraction before the "
                "ingest door"
            )
        if stats.n - stats.nd:
            raise ValueError(
                f"streaming_embedding_ingest: micro-batch {batch_id} "
                f"carries {stats.n - stats.nd} duplicate {id_col!r} "
                "value(s) — ids are the corpus-wide identity; dedup the "
                "upstream (or key it) before the ingest door"
            )
        # exclude the batch's own ids so the probe decision is identical
        # on first run and replay (see the replay invariant above)
        # PIN: the probe lineage (probe-pairs pin, probed-cluster
        # collect, cogroup GEMM, re-rank joins) feeds both the survivor
        # funnel and — under drop_dups=False — the landed annotation
        probed = embedding_dup_probe(
            s, path, batch_df, threshold=threshold, nprobe=nprobe,
            cluster_col=cluster_col, vec_col=vec_col, id_col=id_col,
            verify_clusters=False,
            exclude_ids=batch_df.select(id_col),
        ).localCheckpoint(eager=True)
        kept = probed.filter(F.col("dup_of").isNull()).select(
            *batch_df.columns
        )
        if drop_dups:
            return kept, None

        def land(losers):
            # flag shape: every row lands annotated; intra-batch losers
            # carry their component keeper in dup_of (dup_cos NULL — the
            # component relation is connectivity, not one scored pair)
            lmap = losers.select(
                F.col("doc").alias("__ld"), F.col("label").alias("__lk")
            )
            return (
                probed.join(
                    F.broadcast(lmap), probed[id_col] == F.col("__ld"), "left"
                )
                .withColumn("dup_of", F.coalesce("dup_of", "__lk"))
                .drop("__ld", "__lk")
            )

        return kept, land

    def intra_pairs(kept):
        # stored-quantizer bucketing keeps the pair work at
        # Σ|cluster∩batch|². PIN: `assigned`'s lineage contains the
        # whole probe and has three consumers (both sides of the
        # within-cluster self-join + the survivor projection)
        assigned = assign_clusters(
            kept, cmat, vec_col=vec_col, out_col="__c"
        ).localCheckpoint(eager=True)
        pairs = cosine_dup_pairs(
            assigned, threshold=threshold,
            vec_col=vec_col, id_col=id_col, cluster_col="__c",
        )
        return assigned, pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )

    def add(s, survivors):
        _assign_stored(
            survivors, cent_rows, ctype, cluster_col, vec_col
        ).write.mode("append").partitionBy(cluster_col).parquet(
            f"{path}/corpus"
        )

    return _ingest_through_index(
        stream,
        door="streaming_embedding_ingest",
        logger=_LOG,
        id_col=id_col,
        landed_path=landed_path,
        checkpoint=checkpoint,
        available_now=available_now,
        decide=decide,
        pairs=intra_pairs,
        add=add,
        journal=f"{path}/ingest_log",
    )
