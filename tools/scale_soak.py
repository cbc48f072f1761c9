"""One scale lens for the heavy pipeline, CEP and embedding plans.

The 100 TB design claims in VERDICT/PLANS rest on plan shape; this tool
turns them into measurements. Each regime synthesizes m× copies of an
sf table under a constant-density discipline, runs its plans at each
scale with one min-of-``--iters`` timer, and reports wall time, output
rows, and the fitted scaling exponent alpha where t ~ N^alpha (alpha ≈ 1
⇒ linear, the scale-safe target; alpha ≈ 2 ⇒ an all-pairs term survived
somewhere). ``alpha`` fits the lowest to the highest scale, ``alpha_hi``
the top scale step, where fixed per-job overhead has amortized away —
the number that extrapolates.

Usage:
    python tools/scale_soak.py [--modes distinct,similar,cep,embeddings,recall] \
        [--scales 1,3,10] [--iters 3] [--sf-dir DIR] [--workdir DIR] [--keep]

Prints one markdown table per regime, then one JSON block, to stdout
(progress goes to stderr); SCALE.md's hand-written context is merged by
hand. Regimes (``--modes``):

- ``distinct``: `documents` copies; in copy c>0 every token at position
  i % 3 == c % 3 is replaced by a copy-salted token. Every 3-token
  shingle window contains a replaced position for every pair of copies,
  so cross-copy shingle overlap is ZERO — scaling the corpus adds
  genuinely new content, the expected production regime.
- ``similar``: the same salting at i % 8 == c % 8. Replacing ~1/8 of
  tokens kills only ~3/8 of shared shingles, leaving cross-copy Jaccard
  ~0.45 — below the 0.8 threshold but co-occurrence-heavy: the
  adversarial regime for the inverted-index join, bounded by the max_df
  stop-shingle guard. (sf0.1 has no docs under 8 tokens — verified min
  10 — so every copy of every doc is perturbed in both regimes.)
- ``cep``: `events` copies with FRESH correlation keys and identical
  per-key streams — constant match density, growth adds users.
- ``embeddings``: `embeddings` copies under a copy-seeded SIGNED
  COORDINATE PERMUTATION, an orthogonal transform: every within-copy
  cosine (dup pair, cluster shape) is preserved EXACTLY while cross-copy
  cosines collapse to the random baseline (~N(0, 1/sqrt(64)): a 0.6
  threshold sits ~5 sigma out). Labels get per-copy offsets, so
  provided-cluster operators see constant CELL SIZE and a linearly
  growing cell COUNT; self-trained quantizers get ``n_clusters = C0 *
  scale`` and a fixed training sample. Expected: exact `cosine_topk`
  alpha ~= 1, `ivf_search` (fixed batch, nprobe=2) ~flat,
  `cosine_dup_pairs` and `semdedup` ~1 (until semdedup's N*C*d
  assignment GEMM dominates).
- ``recall``: recall@10 of `ivf_search` (trained quantizer, not the
  oracle labels) against the exact `cosine_topk`, swept over nprobe on
  the two Gaussian-cluster geometries SCALE.md records; ignores
  ``--scales``/``--iters``/``--sf-dir``.

Ids follow ``id*100 + copy`` in every synthesizer, so scales above 100
are refused. All synthesizers share one write-once cache under
``--workdir`` (removed at exit unless ``--keep``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = (
    "pipe_jaccard_pairs",
    "pipe_minhash_lsh",
    "pipe_dedup_clusters",
    "pipe_simhash",
    "pipe_pack_sequences",
    "pipe_dup_spans",
    "pipe_lm_score",
)

#: CEP plans soaked in the `cep` regime.
CEP_QUERIES = (
    "cep_seq_two_step",
    "cep_funnel_3step",
    "cep_gap_sessions",
    "cep_chain_reinject",
)

C0 = 10  # label cells at 1x (sf0.1 embeddings carry 10 distinct labels)
QUERY_BATCH = 64  # fixed embeddings probe batch (copy-0 originals)

NPROBES = (1, 2, 4, 8)
#: (rows, noise, queries, seeds) of the recall sweep: the hard
#: overlapping-cluster regime and the tight near-dup regime the pytest
#: recall floor pins
RECALL_GEOMETRIES = ((4000, 0.35, 64, (7, 23)), (2000, 0.20, 48, (7, 23, 41)))

BLURBS = {
    "distinct": "copies share zero shingles — growth is genuinely new content",
    "similar": "copies are ~0.45-Jaccard similar — adversarial co-occurrence "
    "for the inverted-index join",
    "cep": "events replicated with FRESH correlation keys — growth adds users",
    "embeddings": "rotated copies, constant cell size, C = 10·scale",
}


def _write_once(out_dir: str, name: str, table: str, build) -> str:
    """Directory ``out_dir/name`` holding ``table.parquet``, written from
    the DataFrame ``build()`` returns unless a finished write is already
    there. Only a ``_SUCCESS`` marker counts as finished: a killed write
    leaves partial parquet without one, and reusing it would time a
    truncated corpus."""
    dst = os.path.join(out_dir, name)
    dest_parquet = os.path.join(dst, f"{table}.parquet")
    if not os.path.exists(os.path.join(dest_parquet, "_SUCCESS")):
        shutil.rmtree(dest_parquet, ignore_errors=True)
        build().write.mode("overwrite").parquet(dest_parquet)
    return dst


def _check_scale(scale: int) -> None:
    if scale > 100:
        # id*100 + copy keeps ids disjoint only for copy < 100; beyond
        # that, copies alias onto neighbouring source ids and the
        # constant-density invariant silently breaks
        raise ValueError(f"scale {scale} > 100 would collide synthesized ids")


def synthesize(
    spark, sf_dir: str, scale: int, out_dir: str, modulus: int = 3
) -> str:
    """Directory of a scale× documents.parquet; ``modulus`` selects the
    growth regime: 3 = distinct copies, 8 = similar copies."""
    from pyspark.sql import functions as F

    _check_scale(scale)

    def build():
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        if scale == 1:
            return docs
        copies = spark.range(scale).withColumnRenamed("id", "copy")
        toks = F.split(F.trim(F.col("text")), r"\s+")
        perturbed = F.array_join(
            F.transform(
                toks,
                lambda x, i: F.when(
                    i % F.lit(modulus) == F.col("copy") % modulus,
                    F.concat(F.lit("c"), F.col("copy").cast("string"), F.lit("q"), x),
                ).otherwise(x),
            ),
            " ",
        )
        text = F.when(F.col("copy") == 0, F.col("text")).otherwise(perturbed)
        big = docs.crossJoin(copies).select(
            (F.col("doc_id") * 100 + F.col("copy")).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).alias("n_chars"),
        )
        # spread write parallelism so the read side starts well-partitioned
        return big.repartition(32)

    return _write_once(out_dir, f"m{modulus}x{scale}", "documents", build)


def synthesize_events(spark, sf_dir: str, scale: int, out_dir: str) -> str:
    """Directory of a scale× events.parquet: copies get FRESH user_ids (and
    unique event_ids) with identical per-key streams, so match density
    per key is constant and growth is all new keys."""
    from pyspark.sql import functions as F

    from php_ec_spark.model import load_events

    _check_scale(scale)

    def build():
        ev = load_events(spark, sf_dir)  # normalizes ts whatever the encoding
        if scale == 1:
            return ev
        copies = spark.range(scale).withColumnRenamed("id", "copy")
        return ev.crossJoin(copies).select(
            (F.col("event_id") * 100 + F.col("copy")).alias("event_id"),
            "ts",
            (F.col("user_id") * 100 + F.col("copy")).alias("user_id"),
            "event_type",
            "value",
            "props",
        ).repartition(32)

    return _write_once(out_dir, f"ev_x{scale}", "events", build)


def synthesize_embeddings(spark, sf_dir: str, scale: int, out_dir: str) -> str:
    """Directory of a scale× embeddings.parquet. Copy 0 is the source
    vectors; copy c>0 is the copy-seeded signed-permutation rotation
    described in the module docstring. Scale 1 goes through the same
    copy-0 path, so the ``vec_id*100`` convention — and hence the fixed
    query-batch predicate — is uniform across scales."""
    import numpy as np
    from pyspark.sql import functions as F

    _check_scale(scale)

    def build():
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        dim = len(emb.select("embedding").first()[0])
        rows = []
        for c in range(scale):
            rng = np.random.RandomState(10_000 + c)
            perm = rng.permutation(dim).tolist()
            signs = (rng.randint(0, 2, size=dim) * 2 - 1).astype("float64").tolist()
            rows.append((c, perm, signs))
        maps = spark.createDataFrame(
            rows, "copy int, perm array<int>, signs array<float>"
        )
        rotated = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.element_at("signs", i + F.lit(1))
                * F.element_at(
                    F.col("embedding"), F.element_at("perm", i + F.lit(1)) + F.lit(1)
                )
            ).cast("float"),
        )
        return emb.crossJoin(F.broadcast(maps)).select(
            (F.col("vec_id") * 100 + F.col("copy")).alias("vec_id"),
            F.when(F.col("copy") == 0, F.col("embedding"))
            .otherwise(rotated)
            .alias("embedding"),
            (F.col("label") * 100 + F.col("copy")).cast("int").alias("label"),
        ).repartition(32)

    return _write_once(out_dir, f"emb_x{scale}", "embeddings", build)


def synth_rows(seed: int, n: int, dim: int, n_centers: int, noise: float):
    """(vec_id, embedding) rows with Gaussian cluster structure; noise is
    relative to the RMS center norm so the geometry is scale-free."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_centers, dim))
    sigma = noise * float(np.sqrt((centers**2).sum(axis=1).mean()))
    assign = rng.integers(n_centers, size=n)
    V = centers[assign] + rng.normal(size=(n, dim)) * sigma
    return [(i, [float(x) for x in V[i]]) for i in range(n)]


def recall_sweep(
    spark,
    seed: int,
    n: int = 4000,
    dim: int = 32,
    n_centers: int = 16,
    n_queries: int = 64,
    k: int = 10,
    noise: float = 0.35,
) -> dict[int, float]:
    """Build corpus + trained-quantizer index (``n_centers`` clusters),
    return {nprobe: recall@k} over :data:`NPROBES`.

    Queries are the first ``n_queries`` corpus rows (self-match excluded
    by both engines, so each query's true neighbors are its cluster
    mates). Recall@k per query = |ivf top-k ∩ exact top-k| / k, averaged;
    ties at the k-th boundary break identically (cos DESC, neighbor_id)
    in both engines, so set intersection is fair."""
    from pyspark.sql import functions as F

    from php_ec_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_search,
    )

    rows = synth_rows(seed, n, dim, n_centers, noise)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint(eager=True)
    queries = df.filter(F.col("vec_id") < n_queries).localCheckpoint(
        eager=True
    )
    exact = {}
    for r in cosine_topk(df, queries, k=k).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    tmp = tempfile.mkdtemp(prefix=f"ann_recall_{seed}_")
    out: dict[int, float] = {}
    try:
        idx = f"{tmp}/idx"
        ccol = ivf_build(df, idx, n_clusters=n_centers)
        for nprobe in NPROBES:
            got = {}
            for r in ivf_search(
                spark, idx, queries, k=k, nprobe=nprobe, cluster_col=ccol
            ).collect():
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            hits = sum(
                len(exact[q] & got.get(q, set())) for q in exact
            )
            out[nprobe] = hits / sum(len(v) for v in exact.values())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _table(head: list, rows: list) -> list:
    """Markdown table lines — the lens's one renderer."""
    return ["| " + " | ".join(map(str, head)) + " |", "|" + "---|" * len(head)] + [
        "| " + " | ".join(map(str, r)) + " |" for r in rows
    ]


def _timed(spark, fn, iters: int) -> dict:
    """Min-of-``iters`` wall seconds of ``fn().count()`` and its rows,
    after one untimed run: without it the first case a run measures also
    pays JVM and codegen warm-up, and its scale's alpha reads negative."""
    from php_ec_spark.session import release_checkpoint_caches

    fn().count()
    release_checkpoint_caches(spark)
    best, rows = None, 0
    for _ in range(iters):
        t0 = time.perf_counter()
        rows = fn().count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        release_checkpoint_caches(spark)
    return {"sec": round(best, 3), "rows": rows}


def _fit(n: dict, timed: dict, scales: list) -> dict:
    """alpha over the lowest→highest scale, alpha_hi over the top step."""

    def slope(a, b):
        return math.log(timed[b]["sec"] / timed[a]["sec"]) / math.log(n[b] / n[a])

    return {"alpha": round(slope(scales[0], scales[-1]), 3),
            "alpha_hi": round(slope(scales[-2], scales[-1]), 3)}


def _cases(spark, mode: str, scale: int, args):
    """(input rows, {case: DataFrame thunk}, untimed set-up notes) of one
    regime at one scale."""
    if mode in ("distinct", "similar", "cep"):
        from php_ec_spark.catalog import all_queries

        qs = all_queries()
        if mode == "cep":
            sdir = synthesize_events(spark, args.sf_dir, scale, args.workdir)
            table, names = "events", CEP_QUERIES
        else:
            modulus = 3 if mode == "distinct" else 8
            sdir = synthesize(spark, args.sf_dir, scale, args.workdir, modulus)
            table, names = "documents", QUERIES
        n = spark.read.parquet(os.path.join(sdir, f"{table}.parquet")).count()
        return n, {q: (lambda q=q: qs[q].spark(spark, sdir)) for q in names}, {}

    from pyspark.sql import functions as F

    from php_ec_spark.operators.similarity import (
        cosine_dup_pairs,
        cosine_topk,
        ivf_build,
        ivf_search,
        semdedup,
    )

    sdir = synthesize_embeddings(spark, args.sf_dir, scale, args.workdir)
    emb = spark.read.parquet(os.path.join(sdir, "embeddings.parquet"))
    # fixed probe batch: the copy-0 originals of the first QUERY_BATCH
    # source vectors — identical vectors at every scale
    queries = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < QUERY_BATCH * 100)
    )
    idx = os.path.join(args.workdir, f"ivf_x{scale}")
    t0 = time.perf_counter()
    ivf_build(emb, idx, cluster_col="label")  # labels: C cells, constant size
    notes = {"C": C0 * scale, "ivf_build_sec": round(time.perf_counter() - t0, 3)}
    return emb.count(), {
        "cosine_topk_exact": lambda: cosine_topk(
            emb, queries.select("vec_id", "embedding"), k=5
        ),
        "ivf_search": lambda: ivf_search(
            spark, idx, queries, k=5, nprobe=2, shards="auto"
        ),
        "cosine_dup_pairs_bucketed": lambda: cosine_dup_pairs(
            emb, threshold=0.4, cluster_col="label"
        ),
        "semdedup_selftrained": lambda: semdedup(
            emb.select("vec_id", "embedding"),
            n_clusters=C0 * scale,
            threshold=0.6,
            sample_size=4000,
        ),
    }, notes


def _soak(spark, mode: str, scales: list, args) -> tuple:
    """(markdown lines, JSON record) of one alpha regime."""
    n, results, notes = {}, {}, {}
    for scale in scales:
        n[scale], cases, notes[scale] = _cases(spark, mode, scale, args)
        print(f"# [{mode}] scale {scale}x: {n[scale]} rows "
              f"{notes[scale] or ''}", file=sys.stderr)
        for name, fn in cases.items():
            r = results.setdefault(name, {})[scale] = _timed(spark, fn, args.iters)
            print(f"# [{mode}] {name} @ {scale}x: {r['sec']:.3f}s "
                  f"({r['rows']} rows)", file=sys.stderr)
    fit = len(scales) > 1  # one scale = a point re-measure, no exponent
    head = ["plan"] + [f"{s}x sec (rows)" for s in scales]
    head += ["alpha", "alpha_hi"] if fit else []
    alpha, rows = {}, []
    for name, r in results.items():
        cells = [name] + [f"{r[s]['sec']:.2f} ({r[s]['rows']})" for s in scales]
        if fit:
            alpha[name] = _fit(n, r, scales)
            cells += [f"{alpha[name][a]:.2f}" for a in ("alpha", "alpha_hi")]
        rows.append(cells)
    lines = [f"## Regime: {mode} ({BLURBS[mode]})", ""] + _table(head, rows)
    record = {"n": n, "results": results, "alpha": alpha}
    if any(notes.values()):
        record["setup"] = notes
        lines += ["", "untimed set-up per scale: " + "; ".join(
            f"{s}x {notes[s]}" for s in scales)]
    return lines + [""], record


def _recall(spark) -> tuple:
    """(markdown lines, JSON record) of the recall sweep."""
    rows, record = [], []
    for n, noise, n_queries, seeds in RECALL_GEOMETRIES:
        for seed in seeds:
            rec = recall_sweep(spark, seed, n=n, noise=noise, n_queries=n_queries)
            print(f"# [recall] seed {seed} n {n} noise {noise}: {rec}",
                  file=sys.stderr)
            rows.append([seed, n, noise, n_queries]
                        + [f"{rec[p]:.3f}" for p in NPROBES])
            record.append({"seed": seed, "n": n, "noise": noise,
                           "queries": n_queries,
                           "recall": {p: round(rec[p], 4) for p in NPROBES}})
    head = ["seed", "n", "noise", "queries"] + [
        f"recall@10 np={p}" for p in NPROBES
    ]
    lines = ["## Recall (ivf_search vs exact cosine_topk; 32-d, 16 clusters)",
             ""] + _table(head, rows)
    return lines + [""], record


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--workdir", default="/tmp/scale_soak")
    ap.add_argument("--keep", action="store_true", help="keep synthesized parquet")
    ap.add_argument(
        "--modes",
        default="distinct,similar,cep",
        help="comma list of regimes to measure "
        "(distinct, similar, cep, embeddings, recall)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    modes = args.modes.split(",")
    unknown = set(modes) - set(BLURBS) - {"recall"}
    if unknown:
        ap.error(f"unknown --modes {sorted(unknown)}")

    from php_ec_spark.session import get_spark

    spark = get_spark(app_name="php-ec-spark-scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    lines, doc = [], {}
    try:
        for mode in modes:
            part, doc[mode] = (
                _recall(spark) if mode == "recall"
                else _soak(spark, mode, scales, args)
            )
            lines += part
    finally:
        if not args.keep:
            shutil.rmtree(args.workdir, ignore_errors=True)
    print("\n".join(lines + ["```json", json.dumps(doc, indent=2), "```"]))


if __name__ == "__main__":
    main()
