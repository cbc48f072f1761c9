"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point — these must survive 100 TB):

- **exact_dedup** — one hash-partitioned ``groupBy`` on a digest of the
  normalized text; partial aggregation map-side, survivor = min id.
- **jaccard_pairs** — exact n-gram Jaccard WITHOUT all-pairs comparison:
  a PREFIX-FILTERED inverted index (Chaudhuri et al. 2006 / Bayardo et al.
  2007): under a global shingle order (ascending document frequency), a
  doc with s shingles only indexes its s − ⌈τ·s⌉ + 1 rarest shingles —
  any pair with Jaccard ≥ τ still shares an indexed shingle (lossless),
  but candidate volume drops structurally instead of being capped. The
  (small) candidate set is then verified with exact set intersection.
  A ``max_df`` cutoff additionally drops stop-shingles from the Jaccard
  space itself (semantics knob, not just a performance cap).
- **minhash_lsh_pairs** — banded MinHash signatures; candidates are pairs
  sharing a band bucket (equi-join on band hash — shuffles only signature
  rows, AQE handles skewed buckets), then exact-Jaccard verification of the
  (small) candidate set. Never materializes the |docs|² space.
- **simhash** — 64-bit fingerprints; near-dup candidates via 16-bit chunk
  banding (Hamming ≤ 3 ⇒ at least one of 4 chunks equal, pigeonhole).

Everything is built from pyspark.sql.functions column expressions — no
Python UDFs anywhere; higher-order functions (transform/aggregate/filter)
run in the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin_intermediate  # noqa: F401  (the operators' pin policy)

#: Modulus for MinHash permutations (Mersenne prime 2^31−1): keeps a*h+b in
#: exact int64 range (a,h < 2^31 ⇒ product < 2^62).
MH_MOD = 2_147_483_647

#: AdaptJoin prefix extension ℓ for :func:`prefix_candidates` (Wang et
#: al. SIGMOD'12): prefixes are lengthened by ℓ positions and a pair
#: must collide ≥ min(ℓ+1, α) times to become a candidate. ℓ = 2 killed
#: ALL over-admission at sf0.1 (12,728 → 256 candidates = the true
#: output, zero lost pairs) for +31% collision rows; the trade scales
#: the same way at corpus scale — collision rows grow by the ratio of
#: extended to plain prefix length (~(p+ℓ)/p per side) while the verify
#: join's input shrinks by the junk-pair fraction. Internal constant,
#: deliberately not a public knob (round-17 verdict #5).
_PREFIX_EXT = 2


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def dedup_digest(
    key_cols: "Sequence[str] | None" = None, text_col: str = "text"
) -> Column:
    """The dedup key digest shared by :func:`exact_dedup` and
    :func:`streaming_exact_dedup`.

    Default (``key_cols=None``): ``md5(normalize_text(text_col))`` — the
    single-text contract, oracle-reproducible as
    ``md5(lower(trim(regexp_replace(text, '\\s+', ' '))))``.

    With ``key_cols`` (real pipelines dedup on (url), (url, text),
    (source, digest), …): a digest-of-digests — each key is cast to
    string, md5'd RAW, and the fixed-width parts are concatenated and
    md5'd again. Keys are byte-exact identities: no case folding, no
    whitespace collapse — ``/Page`` and ``/page`` are different urls, and
    an upstream canonicalizer like
    :func:`~php_ec_spark.operators.text.normalize_url` (whose contract
    says path/query case is significant) composes without silent merges.
    A pipeline that wants FOLDED identity for a key makes it explicit by
    keying on a pre-normalized column (e.g. ``key_cols=['url_norm']``,
    or a ``lower(trim(...))`` column it derives) — so ``key_cols=
    ['text']`` is byte-exact while the default text contract normalizes.
    Fixed-width parts make the concatenation injective (no
    separator-collision between ("ab","c") and ("a","bc")), and a NULL
    key encodes as the 1-char marker ``-`` — impossible to collide with
    a 32-char md5, so NULL ≠ '' ≠ 'null'. Equally reproducible in any
    engine with md5 (the DuckDB portability test pins it):
    ``md5(coalesce(md5(k1::VARCHAR), '-') || ...)``.
    """
    if key_cols is None:
        return F.md5(normalize_text(F.col(text_col)))
    if not key_cols:
        # md5 of an empty concat is a constant: every row would "dup"
        raise ValueError("dedup_digest: key_cols must be None or non-empty")
    parts = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("-"))
        for c in key_cols
    ]
    return F.md5(F.concat(*parts))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_cols: "Sequence[str] | None" = None,
    keep: str = "min_id",
) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized text — or, with
    ``key_cols``, per distinct BYTE-EXACT key tuple (see
    :func:`dedup_digest`; the output column keeps the name ``text_hash``
    either way so downstream pipeline stages are key-agnostic).

    Returns (text_hash, doc_id = survivor, dup_count). A single
    hash-shuffle on the md5 digest; the digest (not the full text) is the
    shuffle key, so 100 TB of text shuffles only 32-byte keys + ids after
    map-side partial aggregation.

    ``keep`` picks the survivor: ``"min_id"`` (default — deterministic,
    the convention shared with :mod:`.dedup_index` and the oracles) or
    ``"longest"`` — the longest RAW text, ties → min id (crawl pipelines
    often keep the fullest fetch of a page whose normalized form
    collides: same whitespace-collapsed content, richer original).
    ``"longest"`` is the same single combinable aggregation —
    ``max_by`` over a (length, −id) struct — no extra shuffle or pass.
    """
    if keep == "min_id":
        surv = F.min(id_col)
        # key-only dedup (key_cols=('url',) on a frame with no text
        # column) never touches the text — don't reference it
        cols = []
    elif keep == "longest":
        # min_by over (-length, id): longest text, ties -> min id. The id
        # is never negated, so non-numeric id types order correctly (an
        # arithmetic -id would NULL-cast string ids and break the
        # tie-break); NULL text takes the sentinel -1 -> largest -length,
        # i.e. sorts after every real text.
        surv = F.min_by(
            id_col,
            F.struct(
                (-F.coalesce(F.length("__raw"), F.lit(-1))).alias("nl"),
                F.col(id_col).alias("i"),
            ),
        )
        cols = [F.col(text_col).alias("__raw")]
    else:
        raise ValueError(f"exact_dedup: keep must be min_id|longest, got {keep!r}")
    return (
        df.select(
            dedup_digest(key_cols, text_col).alias("text_hash"),
            F.col(id_col),
            *cols,
        )
        .groupBy("text_hash")
        .agg(
            surv.alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    horizon: str = "24 hours",
    key_cols: "Sequence[str] | None" = None,
) -> DataFrame:
    """Dedup-at-ingest for a document STREAM: drop every doc whose
    normalized text digest already arrived within the ``horizon``.

    :func:`exact_dedup` collapses a static corpus; a continuously
    ingesting pipeline runs the same contract at the door instead of
    re-sweeping 100 TB per crawl increment: digest the normalized text
    scan-side, then ``dropDuplicatesWithinWatermark`` on the digest —
    Spark keeps ONE state row per distinct digest and evicts it once
    the watermark passes its arrival + horizon, so dedup state is
    bounded by ingest-rate × horizon, NOT by corpus size. A re-crawl
    inside the horizon dedups exactly; a repeat beyond it re-enters
    (eviction lags the watermark-advancing micro-batch by one, pinned
    in tests) — the standard at-ingest trade, closed by a periodic
    batch :func:`exact_dedup` sweep over the landed corpus.

    ``ts_col=None`` stamps arrival time (processing-time dedup); pass
    an event-time column for replay-stable semantics. Output keeps the
    input columns plus ``text_hash`` (pipelines persist it — the later
    batch sweep and any cross-horizon audit join on it for free).

    ``key_cols`` switches the dedup identity from the normalized text to
    a byte-exact key tuple — (url_norm), (url, text), (source, digest) —
    via the same :func:`dedup_digest` the batch sweep uses, so
    at-the-door and batch dedup agree on what "duplicate" means; NULL
    keys are distinct from empty strings, never silently merged.
    """
    d = stream
    tcol = ts_col
    if tcol is None:
        tcol = "__ingest_ts"
        d = d.withColumn(tcol, F.current_timestamp())
    d = d.withColumn("text_hash", dedup_digest(key_cols, text_col))
    out = d.withWatermark(tcol, horizon).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )
    return out.drop("__ingest_ts") if ts_col is None else out


def streaming_minhash_dedup(
    stream: DataFrame,
    ts_col: str | None = None,
    horizon: str = "24 hours",
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NEAR-dup detection at ingest: flag every document whose MinHash
    band bucket was already seen within the ``horizon`` — the fuzzy
    companion to :func:`streaming_exact_dedup` (a crawl pipeline needs
    both at the door: exact drops byte-dups, this flags boilerplate
    drift).

    FLAG, don't drop: LSH collisions are candidates — false positives
    exist without exact verification, which needs the earlier document's
    text and is a batch join, not an ingest decision. So the output is a
    side stream of collision events ``(doc_id, band, bh, first_doc, ts)``
    — one row per colliding band (``distinct doc_id`` downstream; join
    ``first_doc`` against the landed corpus to verify/quarantine). The
    main ingest keeps flowing untouched. ``dropDuplicatesWithinWatermark``
    cannot express this (it emits the SURVIVORS; a flag needs the dropped
    complement), hence an explicit ``applyInPandasWithState`` keyed on
    ``(band, bh)`` with the same horizon contract: state per band bucket
    is ``(first_doc, first_ts)`` + an event-time timer at
    ``first_ts + horizon`` — bounded by ingest-rate × horizon × bands,
    not corpus size. Eviction rides the watermark: like the exact
    operator, a repeat arriving after the horizon re-enters as a fresh
    first (timer firing lags the watermark-advancing micro-batch — pinned
    in tests); close the gap with the periodic batch
    :func:`minhash_lsh_pairs` sweep.

    Band keys come from :func:`_band_hash_matrix` — the SAME kernel the
    batch index uses — so at-ingest flags replay-match the batch
    candidate pairs over the same window by construction (pinned in
    tests against :func:`minhash_lsh_pairs`).

    ``ts_col=None`` stamps arrival time (processing-time horizon); pass
    an event-time column for replay-stable semantics.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    assert num_hashes % bands == 0
    horizon_ms = int(pd.Timedelta(horizon).total_seconds() * 1000)
    d = stream
    tcol = ts_col
    if tcol is None:
        tcol = "__ingest_ts"
        d = d.withColumn(tcol, F.current_timestamp())

    def band_rows(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bh = _band_hash_matrix(pdf[text_col], n, num_hashes, bands)
            n_docs = len(pdf)
            yield pd.DataFrame(
                {
                    "doc": np.repeat(
                        np.asarray(pdf[id_col], dtype=np.int64), bands
                    ),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n_docs),
                    "bh": bh.reshape(-1),
                    "ts": np.repeat(pdf[tcol].to_numpy(), bands),
                }
            )

    exploded = (
        d.select(F.col(id_col), F.col(text_col), F.col(tcol))
        .mapInPandas(band_rows, schema="doc long, band int, bh long, ts timestamp")
        .withWatermark("ts", horizon)
    )

    def flag(key, pdfs, state):
        if state.hasTimedOut:
            # watermark passed first_ts + horizon: bucket state evicted;
            # the next arrival becomes a fresh first
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "doc"])
        if state.exists:
            first_doc, first_ts_ms = state.get
            start = 0
        else:
            first = rows.iloc[0]
            first_doc = int(first["doc"])
            first_ts_ms = int(pd.Timestamp(first["ts"]).value // 1_000_000)
            start = 1
            state.update((first_doc, first_ts_ms))
        # event-time timers are cleared on every invocation — re-arm;
        # a timer at-or-below the current watermark is rejected, so late
        # stragglers keep the bucket alive one tick past the watermark
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(first_ts_ms + horizon_ms, wm + 1))
        dup = rows.iloc[start:]
        if len(dup):
            yield pd.DataFrame(
                {
                    "doc_id": dup["doc"].astype("int64"),
                    "band": dup["band"].astype("int32"),
                    "bh": dup["bh"].astype("int64"),
                    "first_doc": np.int64(first_doc),
                    "ts": dup["ts"],
                }
            )

    return exploded.groupBy("band", "bh").applyInPandasWithState(
        flag,
        outputStructType=(
            "doc_id long, band int, bh long, first_doc long, ts timestamp"
        ),
        stateStructType="first_doc long, first_ts long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def with_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", out_col: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles per document (JVM higher-order fns).

    Documents with fewer than ``n`` tokens get their whole token sequence as
    a single shingle so they still participate in dedup. NULL text is
    treated as the empty string (same shingle set as an empty doc) — a
    null must never silently drop the document from downstream joins.
    """
    # The token array MUST be a real column: inlining the split into the
    # per-shingle lambda makes every slice re-run the regex split — O(T²)
    # regex work per document (measured 6× slower at sf0.1). SQL-string
    # expressions per the round-17 note in engine/relational.py.
    d = df.withColumn(
        "__toks",
        F.expr(f"split(trim(coalesce(`{text_col}`, '')), '\\\\s+')"),
    )
    ngrams = (
        f"transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> array_join(slice(__toks, i, {n}), ' '))"
    )
    return d.withColumn(out_col, F.expr(f"array_distinct({ngrams})")).drop(
        "__toks"
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: "int | DataFrame | None" = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs via a PREFIX-FILTERED inverted
    shingle index (Chaudhuri et al. 2006; Bayardo et al. WWW'07).

    Never compares all pairs — and, unlike a plain inverted index, never
    even generates a candidate for most sub-threshold co-occurring pairs:

    1. shingles get a global total order: ascending document frequency,
       ties broken by shingle value (rarest first — the order that
       minimizes candidates);
    2. each pair is generated with its SMALLER doc (by (set size, id)
       lex order) on the index side: the smaller doc x indexes only its
       first s − ⌈2τ/(1+τ)·s⌉ + 1 shingles (Bayardo WWW'07's indexing
       prefix — J ≥ τ forces overlap O ≥ 2τ/(1+τ)·|X| against any
       equal-or-larger partner, and the first common shingle sits at
       position ≤ |X| − O + 1), while the larger doc probes with its
       full s − ⌈τ·s⌉ + 1 prefix (O ≥ τ·|Y| via the length filter).
       Lossless by the prefix-filtering lemma: two sets whose overlap
       is ≥ α must collide within their (|·|−α+1)-prefixes — a suffix
       alone can never account for the required overlap;
    3. collisions (plus the length filter |X| ≥ τ·|Y|, also implied by
       J ≥ τ) are aggregated PER PAIR into the tight PPJoin positional
       bound (Xiao et al.): with cnt prefix-collisions and the last one
       at global-order positions (i, j), the true overlap is at most
       cnt + min(|X|−i, |Y|−j); pairs whose bound cannot reach
       α = ⌈τ/(1+τ)·(|X|+|Y|)⌉ are dropped before verification. The
       surviving candidates are verified with exact set intersection
       over the docs' full shingle sets.

    The candidate volume is bounded by Σ over shingles of
    (idx-prefix-df × probe-prefix-df), which in a
    co-occurrence-heavy corpus is structurally far below the plain
    index's Σ df² (measured in SCALE.md's adversarial `similar` regime:
    the un-prefixed join grew super-linearly, alpha_hi 1.65). The one
    input no candidate scheme can save is a corpus of mutually-similar
    docs ABOVE the threshold — there the OUTPUT is quadratic by
    definition (k identical docs = k·(k−1)/2 pairs, and they share one
    prefix shingle). Run :func:`exact_dedup` first (the curation
    pipeline does) so byte-duplicates collapse before pair listing; AQE
    skew-join handling splits any residual hot prefix bucket.

    ``max_df`` (optional) additionally drops shingles appearing in more
    than that many docs from the Jaccard space itself — a semantics
    knob (Jaccard is computed entirely in the filtered space), applied
    BEFORE prefix selection so both engines see the same sets. It may be
    an int, or a 1-row DataFrame with a single ``max_df`` bigint column
    (a lazy scalar subquery — no blocking driver job when the cutoff is
    itself derived from the corpus).
    ``threshold`` enters the prefix/length bounds slackened by 1e-6 so
    the final round-to-6-dp filter (a pair at true J = τ − 4e-7 rounds
    UP into the output) can never disagree with candidate pruning.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥
    threshold after rounding.

    Session note: the exploded index is pinned (``pin_intermediate``)
    so its one compute feeds every downstream branch. Long-lived sessions
    should sweep with ``session.release_checkpoint_caches`` between
    queries (the bench harness does).
    """
    docsets, cand = prefix_candidates(
        df,
        threshold=threshold,
        n=n,
        text_col=text_col,
        id_col=id_col,
        max_df=max_df,
    )
    # cand has exactly ONE consumer (the verify join chain below), so it
    # is NOT pinned: pinning would force an extra materialization job for
    # lineage no second branch ever reads. (docsets/inv stay pinned —
    # they feed two branches each.)
    # Exact verification over the candidates only: the candidate docs'
    # (filtered-space) shingle sets come straight off the pinned per-doc
    # frame — cost Σ over candidate pairs of (n_a + n_b), no Σ df² term.
    # No explicit candidate-id semi-prune: the equi-joins below prune to
    # matching docs by themselves, and the materialized candidate frame
    # is the SMALL side (post prefix+length+positional filtering), so
    # AQE broadcasts it into the per-doc frame rather than shuffling the
    # corpus — an up-front semi-join just adds stages.
    # ``items`` holds df-PACKED shingle strings (see prefix_candidates);
    # intersecting packed strings is equivalent to intersecting shingles
    # because the fixed-width pack is injective (df_count is a function
    # of the shingle), so the arrays are used as-is — no per-row
    # transform() unwrap.
    verified = (
        cand.join(
            docsets.selectExpr("doc AS doc_a", "items AS sh_a"), "doc_a"
        )
        .join(docsets.selectExpr("doc AS doc_b", "items AS sh_b"), "doc_b")
        .withColumn("n_inter", F.expr("size(array_intersect(sh_a, sh_b))"))
    )
    return verified.selectExpr(
        "doc_a",
        "doc_b",
        "round(CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE),"
        " 6) AS jaccard",
    ).filter(F.expr(f"jaccard >= {float(threshold)!r}D"))


def prefix_candidates(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: "int | DataFrame | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """The prefix-filtered candidate machinery behind :func:`jaccard_pairs`,
    exposed so the scale soak / growth tests can measure the DETERMINISTIC
    cost driver (candidate count) directly.

    Returns ``(docsets, cand)``: ``docsets`` = one pinned row per doc with
    its filtered shingle set sorted in the global (df_count, shingle)
    order — each element PACKED as ``lpad(df_count, 10, '0') || shingle``
    (fixed-width prefix, so plain string order == (df_count, shingle)
    struct order and the pack is injective: df_count is a function of the
    shingle, making packed-array intersection ≡ shingle-set
    intersection); ``cand`` = the lazy candidate-pair frame
    (doc_a, doc_b, n_a, n_b) after indexing-prefix + length +
    per-pair-aggregated PPJoin positional filtering, before exact
    verification.
    """
    # Shingle WIDE (round 17): the corpus scan arrives however the source
    # splits it (ONE partition for a single local row group), and the
    # kernel below otherwise runs serially in that one task. _parallelized
    # repartitions up to default parallelism only when the scan is
    # coarser, a no-op at warehouse scale. Project to the two needed
    # columns first so the fan-out shuffle never carries the non-text
    # payload columns (guide §2.3).
    #
    # The exploded (doc, shingle) index comes straight out of ONE Arrow
    # kernel (guide §4.2) instead of the JVM HOF chain
    # (split → transform(sequence, array_join(slice)) → array_distinct →
    # explode): same tokenization as with_shingles (ws-regex split of the
    # space-trimmed text, whole-token-seq fallback under n tokens,
    # NULL ≡ ''), verified row-identical, measured ~25% faster at sf0.1
    # and one less Catalyst Generate node.
    import re as _re

    import pandas as _pd

    _ws = _re.compile(r"\s+")

    def _shingle_rows(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids: list = []
            shs: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                t2 = (text or "").strip(" ")
                toks = _ws.split(t2)
                if len(toks) < n:
                    sh = {" ".join(toks)}
                else:
                    sh = {
                        " ".join(toks[j : j + n])
                        for j in range(len(toks) - n + 1)
                    }
                ids.extend([did] * len(sh))
                shs.extend(sh)
            yield _pd.DataFrame({"doc": ids, "shingle": shs})

    inv = _parallelized(df.select(id_col, text_col)).mapInPandas(
        _shingle_rows, "doc long, shingle string"
    )
    # The raw index feeds the frequency table AND the per-doc re-group;
    # pin so shingle generation runs once per action (lazy).
    inv = pin_intermediate(inv)
    # Document frequency per shingle: shingles are distinct per doc, so
    # row count == doc count. Doubles as the max_df cut and the global
    # prefix order.
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_count"))
    if max_df is not None:
        if isinstance(max_df, DataFrame):
            # LAZY cutoff (round 17): a 1-row (max_df bigint) frame joined
            # in as a broadcast scalar instead of a Python int — callers
            # that derive the cutoff from the corpus (the registered
            # query's greatest(1, floor(0.05·n))) no longer pay a BLOCKING
            # driver count() round-trip before the query can even be
            # built; the count folds into the query's own execution as a
            # metadata-cheap aggregate (guide §1.2/§5: keep the driver out
            # of the query path). BroadcastNestedLoopJoin over 1 row ==
            # the oracle's scalar subquery.
            freq = (
                freq.join(F.broadcast(max_df))
                .filter(F.col("df_count") <= F.col("max_df"))
                .drop("max_df")
            )
        else:
            freq = freq.filter(F.col("df_count") <= max_df)
    # ONE doc-keyed exchange serves everything downstream: re-group the
    # (possibly max_df-filtered) index into a per-doc array sorted in the
    # global (df_count, shingle) order. Filtered set size, the prefix,
    # AND the verification shingle sets all derive from this frame — a
    # window-rank formulation costs three doc-keyed exchanges (sizes
    # join + rank shuffle + verification re-collect) for the same answer
    # (measured ~75% slower at sf0.1).
    from ..session import shuffle_partitions

    n_parts = shuffle_partitions(df.sparkSession)
    # The doc-keyed exchange is pinned to an explicit width (round 17):
    # AQE coalesces it by BYTES, but the reduce side is compute-heavy
    # per row (collect_list + array_sort over whole shingle sets), so a
    # few-MB index collapsed to 5 tasks left most cores idle for the two
    # hottest aggregation stages (measured 4.6 s + 2.7 s executor time
    # on 5 tasks at sf0.1). A numbered repartition is exempt from AQE
    # coalescing and the groupBy reuses its partitioning — no extra
    # exchange; width is the session's shuffle_partitions, the same
    # scale-adaptive knob every other pinned-width operator reads.
    # Each element is PACKED as lpad(df_count,10,'0') || shingle before
    # the collect: the fixed-width decimal prefix makes plain binary
    # string order equal the (df_count, shingle) struct order, so
    # array_sort runs the flat UTF8String comparator instead of the
    # interpreted struct comparator (measured ~10% off the docsets
    # stage), the prefix posexplode below needs no struct unwrap, and
    # verification intersects the packed arrays directly (injective
    # pack ⇒ identical intersection sizes).
    # (Expressions below are single SQL strings — one py4j round-trip per
    # column instead of one per node; same analyzed trees, see the
    # round-17 note in engine/relational.py.)
    docsets = (
        inv.join(freq, "shingle")
        .selectExpr(
            "doc",
            "concat(lpad(CAST(df_count AS STRING), 10, '0'), shingle) AS p",
        )
        .repartition(n_parts, "doc")
        .groupBy("doc")
        .agg(F.expr("array_sort(collect_list(p))").alias("items"))
        .withColumn("n_sh", F.expr("size(items)"))
    )
    docsets = pin_intermediate(docsets)

    tau = max(threshold - 1e-6, 0.0)  # rounding slack, see docstring
    ell = _PREFIX_EXT
    # Required overlap α = ⌈τ·s⌉ (−1e-9 guards float noise in τ·s UP —
    # under-α only lengthens the prefix, never loses a pair); PROBE
    # prefix = n_sh − α + 1 + ℓ. The +ℓ is the ADAPTJOIN extension
    # (Wang et al. SIGMOD'12, generalized prefix filtering): a pair with
    # overlap ≥ α must share ≥ min(ℓ+1, α) elements within its
    # (n − α + 1 + ℓ)-prefixes — the k-th common element (k ≤ α) has
    # ≥ α − k commons after it, so it sits at position ≤ n − α + k.
    # Requiring cnt ≥ min(ℓ+1, α) in the group filter below kills the
    # single-collision junk pairs that dominate candidate over-admission
    # (measured at sf0.1: 12,728 → 256 candidates for ℓ = 2, zero lost
    # pairs, +31% collision rows). posexplode: the 1-based rank of each
    # prefix shingle in the global order feeds the POSITIONAL bound
    # below (PPJoin, Xiao et al.).
    prefix_len = (
        f"CAST(n_sh - CEIL({tau!r}D * n_sh - 1e-09D) + 1 + {ell} AS INT)"
    )
    pref = docsets.selectExpr(
        "doc",
        "n_sh",
        f"posexplode(slice(items, 1, {prefix_len})) AS (pos0, shingle)",
    ).selectExpr(
        "doc",
        "n_sh",
        "pos0 + 1 AS pos",
        # "shingle" here is the PACKED string — joining on it is
        # equivalent to joining on the raw shingle (injective pack)
        "shingle",
    )
    # Pin real parallelism on the join key: the prefix index is small in
    # BYTES (AQE would coalesce it to one partition) but the shingle
    # self-join EXPLODES rows — Σ idx-df·probe-df per shingle — so it
    # must run wide. An explicit numbered repartition is exempt from AQE
    # coalescing, and both join sides inherit it (no extra exchange:
    # the idx side is a Filter ABOVE the same exchange, so the probe
    # side reuses it).
    pref = pref.repartition(n_parts, "shingle")
    # INDEXING prefix (round 18; Bayardo WWW'07 §3.2 / PPJoin+): order
    # each pair by (n_sh, doc) lex so x is the SMALLER side. For a pair
    # with J ≥ τ, O = |A∩B| ≥ τ/(1+τ)·(n_x+n_y) ≥ 2τ/(1+τ)·n_x, and the
    # FIRST common shingle lies at position ≤ n_x − O + 1 in x — so x
    # only needs its first n_sh − ⌈2τ/(1+τ)·n_sh⌉ + 1 positions indexed
    # (strictly shorter than the probe prefix for τ < 1: 0.111·n vs
    # 0.2·n at τ=0.8). y keeps the full probe prefix (O ≥ τ·n_y needs
    # n_x ≥ τ·n_y, the length filter below, which J ≥ τ implies). The
    # filter sits ABOVE the pinned exchange so both join sides share it.
    idx_len = (
        f"CAST(n_sh - CEIL({2.0 * tau / (1.0 + tau)!r}D * n_sh - 1e-09D)"
        f" + 1 + {ell} AS INT)"
    )
    idx = pref.filter(F.expr(f"pos <= {idx_len}"))
    # α for a pair: the overlap the Jaccard bound requires.
    alpha = f"CEIL({tau / (1.0 + tau)!r}D * (x.n_sh + y.n_sh) - 1e-09D)"
    coll = (
        idx.alias("x")
        .join(pref.alias("y"), "shingle")
        # lex (n_sh, doc) ordering: each unordered pair once, x smaller
        .filter(
            F.expr("x.n_sh < y.n_sh OR (x.n_sh = y.n_sh AND x.doc < y.doc)")
        )
        # length filter: J ≥ τ ⇒ n_x ≥ τ·n_y (x is the smaller side)
        .filter(F.expr(f"x.n_sh >= {tau!r}D * y.n_sh - 1e-09D"))
        # ROW-safe positional cap: a common shingle at 1-based positions
        # (i, j) bounds the overlap BOTH ways — at most min(i, j)
        # commons can sort at-or-before it and at most
        # min(n_x−i, n_y−j) after it. EVERY common shingle of a truly
        # similar pair satisfies min(i,j) + min(n_x−i, n_y−j) ≥ α, so
        # this per-row cut never removes a similar pair's collision row
        # from the group aggregate below (unlike the former
        # "1 + min(remaining)" form, which only the first collision is
        # guaranteed to pass and which would undercount cnt).
        .filter(
            F.expr(
                "least(x.pos, y.pos) + "
                f"least(x.n_sh - x.pos, y.n_sh - y.pos) >= {alpha}"
            )
        )
        .selectExpr(
            "x.doc AS da", "y.doc AS db", "x.n_sh AS na", "y.n_sh AS nb",
            "x.pos AS pi", "y.pos AS pj",
        )
    )
    # PPJoin GROUP bound (round 18): aggregate the collision rows per
    # pair. cnt = |idx-prefix(x) ∩ probe-prefix(y)| (exactly — the
    # packed global order is strict and identical in both arrays, so
    # commons sorted before the LAST collision (mi, mj) are themselves
    # within both joined prefixes and hence counted), and commons after
    # it number ≤ min(n_x−mi, n_y−mj). The sequence k + min(remaining_k)
    # is non-increasing in k (each collision advances both positions by
    # ≥ 1), so this last-collision form is the TIGHTEST of the PPJoin
    # positional bounds — strictly stronger than the former
    # any-row-passes ∘ distinct composition (whose admitted set it is a
    # subset of: group-pass ⇒ the first row passes the old per-row cap).
    # The groupBy replaces the old .distinct() — same single exchange:
    # the numbered (da, db) repartition below satisfies the aggregate's
    # (da, db, na, nb) clustering ((na, nb) are functions of the pair),
    # and verification inherits the width (see the former distinct's
    # note: AQE would otherwise collapse the small-bytes exchange to ONE
    # partition and serialize the verify chain).
    cand = (
        coll.repartition(n_parts, "da", "db")
        .groupBy("da", "db", "na", "nb")
        .agg(
            F.expr("count(1)").alias("cnt"),
            F.expr("max(pi)").alias("mi"),
            F.expr("max(pj)").alias("mj"),
        )
        .filter(
            F.expr(
                "cnt + least(na - mi, nb - mj) >= "
                f"CEIL({tau / (1.0 + tau)!r}D * (na + nb) - 1e-09D)"
            )
        )
        # AdaptJoin count requirement over the ℓ-extended prefixes: a
        # similar pair's first min(ℓ+1, α) common shingles all sit
        # within both extended prefixes (lemma above) and all pass the
        # row-safe positional cap, so cnt reaching min(ℓ+1, α) is
        # guaranteed for every true pair — single-collision junk is not.
        .filter(
            F.expr(
                f"cnt >= least({ell + 1}, "
                f"CEIL({tau / (1.0 + tau)!r}D * (na + nb) - 1e-09D))"
            )
        )
        # restore the output contract: doc_a < doc_b by doc id, sizes
        # aligned to the id order
        .selectExpr(
            "least(da, db) AS doc_a",
            "greatest(da, db) AS doc_b",
            "IF(da < db, na, nb) AS n_a",
            "IF(da < db, nb, na) AS n_b",
        )
    )
    return docsets, cand


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥
    ``min_hits`` distinct word ``n``-grams with a held-out benchmark set —
    the standard 13-gram overlap rule for cleaning pretraining corpora
    before evaluation.

    Shape: the benchmark's distinct n-grams (tiny vs the corpus — eval
    sets are fixed-size) become an exact-match probe set; the corpus side
    explodes its own n-grams once and left-semi-joins against it. With
    ``broadcast_benchmark=True`` (default — right for real eval suites)
    100 TB of corpus text streams through a map-side broadcast probe with
    no corpus shuffle; set it ``False`` for a pathologically large
    benchmark set and the same semantics run as a plain equi-join on the
    32-byte md5 of the n-gram instead of forcing an over-threshold
    broadcast. Returns ``(doc_id, n_hits, contaminated)`` for EVERY
    corpus doc.
    """
    bench_grams = (
        with_shingles(benchmark, n=n, text_col=text_col, out_col="__g")
        .select(F.explode_outer("__g").alias("gram"))
        .select(F.md5("gram").alias("gh"))
        .distinct()
    )
    corpus_grams = (
        with_shingles(corpus, n=n, text_col=text_col, out_col="__g")
        .select(F.col(id_col), F.explode_outer("__g").alias("gram"))
        .select(id_col, F.md5("gram").alias("gh"))
    )
    probe = F.broadcast(bench_grams) if broadcast_benchmark else bench_grams
    hits = (
        corpus_grams.join(probe, "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def dup_span_stats(
    df: DataFrame,
    window: int = 13,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-duplication signal per document: the fraction of a
    doc's ``window``-token windows (stride 1, ALL positions — not
    distinct shingles) that also appear verbatim in at least
    ``min_docs − 1`` OTHER documents.

    This is the distributed approximation of suffix-array exact
    substring dedup (the Lee et al. 2021 "Deduplicating Training Data"
    signal): a long span copied between documents shows up as a run of
    duplicated windows, and the per-doc ``dup_fraction`` is the removal/
    down-weighting criterion. Windows are md5-hashed token 13-grams —
    the same portable convention as :func:`decontaminate` — so the
    DuckDB oracle reproduces the exact fractions.

    Shape at scale: one explode (corpus tokens × 1 row per window), one
    map-side-combinable distinct-doc count per window hash, one
    co-partitioned equi-join back, one per-doc aggregate — all linear in
    corpus tokens, no pairwise term anywhere. At the default
    ``min_docs=2`` the "appears in ≥2 distinct docs" test is computed as
    the exact, fully map-side-combinable ``min(doc_id) != max(doc_id)``
    — no two-phase distinct aggregate (an Expand + second shuffle over
    corpus-tokens rows) anywhere in the plan; ``min_docs > 2`` falls
    back to a real ``count_distinct``. Within-doc repeats do NOT count
    as duplication (both forms test DISTINCT docs); docs shorter than
    ``window`` tokens contribute their whole token sequence as one
    window; NULL text is treated as the empty string, so every input
    document appears in the output. Output: (doc_id, n_windows,
    n_dup_windows, dup_fraction) for every document.
    """
    d = df.withColumn(
        "__toks",
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
    )
    toks = F.col("__toks")
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (window - 1), F.lit(1))),
        lambda i: F.md5(F.array_join(F.slice(toks, i, window), " ")),
    )
    # explode_outer for the same Catalyst reason as jaccard_pairs: plain
    # explode re-inlines the window expression below the inferred
    # size()>0 filter. The window array is never empty (greatest(…,1)).
    w = d.select(F.col(id_col), F.explode_outer(wins).alias("wh"))
    # one compute feeds both the frequency table and the join probe side
    w = pin_intermediate(w)
    if min_docs <= 1:
        dup = F.first(F.lit(True)).alias("__dup")  # every window qualifies
    elif min_docs == 2:
        dup = (F.min(id_col) != F.max(id_col)).alias("__dup")
    else:
        dup = (F.count_distinct(F.col(id_col)) >= min_docs).alias("__dup")
    freq = w.groupBy("wh").agg(dup)
    return (
        w.join(freq, "wh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("__dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


def _mh_a(k: int) -> int:
    # deterministic odd multipliers / offsets for permutation k
    return (2_654_435_761 * (k + 1) + 1) % MH_MOD or 1


def _mh_b(k: int) -> int:
    return (40_503 * (k + 7) + 12_345) % MH_MOD


def with_minhash(
    df: DataFrame,
    num_hashes: int = 128,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "signature",
) -> DataFrame:
    """MinHash signatures: (id, signature array), sig[k] = min over distinct
    word n-gram shingles of (a_k·h(s) + b_k) mod p, h = blake2b-64 folded
    into [0, p).

    One scan-local ``mapInPandas`` pass does tokenize → shingle → hash →
    K-permutation min-fold: the fold is a vectorized numpy segment-min
    (``np.minimum.reduceat`` over an affine transform of the concatenated
    hash array), so the K×Σshingles arithmetic runs in C. NO explode, NO
    shuffle — signatures materialize in the task that read the document, so
    100 TB of text never moves for signing. (Earlier JVM shapes paid either
    a K-column hash aggregate + shuffle, or interpreted per-row HOF lambdas
    for shingling — both measured slower than this single Arrow hop.)

    The signature hash only drives CANDIDATE generation — final pairs are
    re-verified with exact JVM Jaccard (see :func:`minhash_lsh_pairs`) —
    so the kernel's shingling need only mirror :func:`with_shingles`
    (whitespace split, whole-text fallback under ``n`` tokens), which it
    does. Arithmetic stays in exact int64: a_k, h < 2³¹ ⇒ a_k·h+b_k < 2⁶².

    If the incoming DataFrame has fewer partitions than
    ``spark.default.parallelism`` (a single parquet row group, say), it is
    repartitioned first so the kernel parallelizes — a no-op at warehouse
    scale where scans are already thousands of tasks.
    """
    import numpy as np
    import pandas as pd

    def sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sig = _sig_matrix(pdf[text_col], n, num_hashes)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(sig)})

    return _parallelized(df).select(id_col, text_col).mapInPandas(
        sign, schema=f"{id_col} long, {out_col} array<long>"
    )


def _parallelized(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the scan is
    coarser (e.g. one parquet row group locally) — a no-op at warehouse
    scale where scans already come in thousands of tasks."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def _sig_matrix(texts, n: int, num_hashes: int):
    """(len(texts) × num_hashes) int64 MinHash signature matrix.

    Python builds the per-doc shingle hash arrays (blake2b-64 folded into
    [0, p)); the K-permutation min-fold is vectorized numpy — one affine
    transform + ``np.minimum.reduceat`` segment-min per permutation over
    the concatenated hash array."""
    import hashlib
    import re

    import numpy as np

    blake = hashlib.blake2b
    from_bytes = int.from_bytes
    # EXACTLY with_shingles' tokenization — split(trim(text), '\s+'),
    # where SQL trim strips spaces only and the regex split keeps edge
    # empty tokens for non-space edge whitespace. A bare str.split()
    # (whitespace-trimming) would band-bucket such docs on a DIFFERENT
    # shingle set than the exact-Jaccard verification uses, and
    # near-threshold pairs could be missed.
    ws = re.compile(r"\s+")
    A = np.array([_mh_a(k) for k in range(num_hashes)], dtype=np.int64)
    B = np.array([_mh_b(k) for k in range(num_hashes)], dtype=np.int64)
    sizes = np.empty(len(texts), dtype=np.int64)
    # Shingles repeat heavily across a near-dup corpus (sf0.1: 260k
    # instances over 27k distincts), so hash and permute each DISTINCT
    # shingle once per batch and gather per document (round 17): the
    # batch-level dict assigns dense indices, blake2b and the K affine
    # transforms run over the distinct array only, and the per-doc
    # segment-min gathers transformed values by index — identical values
    # (shingles are distinct within a doc, so the gathered multiset IS
    # the per-doc transform), ~10× fewer hash calls and mul/mod ops at
    # sf0.1.
    idx_of: dict = {}
    setdefault = idx_of.setdefault
    chunks = []
    for i, text in enumerate(texts):
        # NULL text ≡ '' — mirrors with_shingles' coalesce
        toks = ws.split((text or "").strip(" "))
        if len(toks) < n:
            sh = (" ".join(toks),)
        else:
            sh = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        idxs = np.fromiter(
            (setdefault(s, len(idx_of)) for s in sh),
            dtype=np.int64,
            count=len(sh),
        )
        sizes[i] = len(idxs)
        chunks.append(idxs)
    I = np.concatenate(chunks)  # every doc has ≥1 shingle (fallback)
    # dict preserves insertion order, so position == assigned index
    Hd = np.fromiter(
        (
            from_bytes(blake(s.encode(), digest_size=8).digest(), "little") % MH_MOD
            for s in idx_of
        ),
        dtype=np.int64,
        count=len(idx_of),
    )
    starts = np.zeros(len(sizes), dtype=np.int64)
    np.cumsum(sizes[:-1], out=starts[1:])
    sig = np.empty((len(sizes), num_hashes), dtype=np.int64)
    for k in range(num_hashes):  # K passes keep temporaries small
        sig[:, k] = np.minimum.reduceat(((A[k] * Hd + B[k]) % MH_MOD)[I], starts)
    return sig


def with_band_keys(
    df: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH band keys, exploded: (doc, band, bh) with ``bands`` rows per doc.

    Same scan-local kernel as :func:`with_minhash`, but the per-band bucket
    hash (a wrapping-uint64 linear mix of the band's signature rows) is
    computed inside the kernel too, so the banded table comes out of ONE
    Arrow pass with no JVM HOF explode / hash-of-slice step afterwards."""
    import numpy as np
    import pandas as pd

    assert num_hashes % bands == 0
    def band_keys(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bh = _band_hash_matrix(pdf[text_col], n, num_hashes, bands)
            n_docs = len(pdf)
            ids = np.repeat(np.asarray(pdf[id_col], dtype=np.int64), bands)
            yield pd.DataFrame(
                {
                    "doc": ids,
                    "band": np.tile(np.arange(bands, dtype=np.int32), n_docs),
                    "bh": bh.reshape(-1),
                }
            )

    return _parallelized(df).select(id_col, text_col).mapInPandas(
        band_keys, schema="doc long, band int, bh long"
    )


def _band_hash_matrix(texts, n: int, num_hashes: int, bands: int):
    """(len(texts) × bands) int64 band bucket hashes — the shared kernel
    behind :func:`with_band_keys` (batch index) and
    :func:`streaming_minhash_dedup` (at-ingest flagging), so both layers
    bucket documents IDENTICALLY and replay parity holds by construction."""
    import numpy as np

    rows = num_hashes // bands
    # odd multipliers make the per-row mix a bijection mod 2^64
    C = np.array(
        [
            ((2 * _mh_a(101 + r) + 1) * 2_862_933_555_777_941_757) % (1 << 64)
            for r in range(rows)
        ],
        dtype=np.uint64,
    )
    sig = _sig_matrix(texts, n, num_hashes).astype(np.uint64)
    bh = np.empty((len(texts), bands), dtype=np.uint64)
    for b in range(bands):
        block = sig[:, b * rows : (b + 1) * rows]
        bh[:, b] = (block * C[None, :]).sum(axis=1, dtype=np.uint64)
    return bh.view(np.int64)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates → exact-Jaccard verification.

    With 32 bands × 4 rows, a pair at J=0.8 is missed with probability
    (1−0.8⁴)³² ≈ 5e-8 — effectively exact output, at bucket-join cost.
    Output schema matches :func:`jaccard_pairs`.
    """
    assert num_hashes % bands == 0
    # Materialize the banded index once: it is tiny (``bands`` longs per
    # doc) but its lineage is the full shingle+sign kernel, which the band
    # self-join would otherwise recompute on BOTH sides. At warehouse scale
    # this is "write the band table, then join it" — localCheckpoint is the
    # single-job equivalent.
    banded = pin_intermediate(
        with_band_keys(
            df, num_hashes=num_hashes, bands=bands, n=n,
            text_col=text_col, id_col=id_col,
        ),
        eager=True,
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.expr("x.doc < y.doc"))
        .selectExpr("x.doc AS doc_a", "y.doc AS doc_b")
        .distinct()
    )
    # small: near-dup candidates only. Pinned LAZILY (round 17): the
    # first consumer is always a driver-side broadcast build (cand_ids
    # inside exact_jaccard_verify — a blocking job that runs before any
    # probe stage can reference cand again), so the checkpoint
    # materializes exactly once there and the standalone eager
    # materialization job bought nothing.
    cand = pin_intermediate(cand)
    return exact_jaccard_verify(
        df, cand, threshold=threshold, n=n, text_col=text_col, id_col=id_col
    )


def exact_jaccard_verify(
    df: DataFrame,
    cand: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram-Jaccard verification of a (doc_a, doc_b) candidate
    frame against the corpus: returns (doc_a, doc_b, jaccard) for pairs
    with J ≥ threshold — the shared verify stage behind
    :func:`minhash_lsh_pairs`, public so ANY candidate source closes its
    loop the same way (notably :func:`streaming_minhash_dedup` flags:
    ``flags.select(least(first_doc, doc_id), greatest(...)).distinct()``
    → this → the verified near-dups among what ingest flagged).

    Shape: only documents that appear in some candidate pair re-shingle
    (left-semi prune against the broadcast candidate id set) — the corpus
    never re-shingles for verification, so cost is O(|candidates|), not
    O(|corpus|)."""
    cand_ids = (
        cand.selectExpr("doc_a AS cid")
        .unionByName(cand.selectExpr("doc_b AS cid"))
        .distinct()
    )
    docs_cand = df.join(
        F.broadcast(cand_ids), F.expr(f"`{id_col}` = cid"), "left_semi"
    )
    sh = with_shingles(docs_cand, n=n, text_col=text_col).selectExpr(
        f"`{id_col}` AS doc", "shingles"
    )
    verified = (
        cand.join(sh.selectExpr("doc AS doc_a", "shingles AS sh_a"), "doc_a")
        .join(sh.selectExpr("doc AS doc_b", "shingles AS sh_b"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "round(CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
            "CAST(size(array_union(sh_a, sh_b)) AS DOUBLE), 6) AS jaccard",
        )
    )
    return verified.filter(F.expr(f"jaccard >= {float(threshold)!r}D"))


def dedup_clusters(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iters: int = 20,
    stats: "dict | None" = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the similar-pair
    graph, labeled by the minimum doc id in each component.

    ``stats`` (optional dict) is passed through to
    :func:`connected_components` and comes back with
    {rounds, max_iters, converged} — read it to size ``max_iters``
    headroom on real corpora instead of discovering the bound by
    crashing.

    The pair graph comes from :func:`minhash_lsh_pairs` (bucketed, exact-
    verified). Components are found by :func:`connected_components` —
    alternating large-star/small-star contraction (SoCC'14), so rounds
    are ~log₂(diameter) regardless of where the component minimum sits
    (2-3 in practice; chain-shaped components that would blow a
    diameter-bounded budget converge in ~12). The edge frame holds
    ONLY nodes that appear in some pair — at corpus scale the dup-involved
    subset is a sliver of the data, so each round costs O(|edges|), not
    O(|docs|); the untouched majority joins back as self-labeled
    singletons at the end. This is the deliberately non-SQL-shaped
    algorithm of the operator set — the DuckDB oracle uses a recursive CTE
    to derive the same labeling.

    Output: (doc_id, cluster_id) for EVERY document; singletons label
    themselves.
    """
    pairs = minhash_lsh_pairs(
        df, threshold=threshold, n=n, text_col=text_col, id_col=id_col,
    ).select("doc_a", "doc_b")
    labels = connected_components(pairs, max_iters=max_iters, stats=stats)
    # labels holds non-center rows only; component centers and the
    # singletons (the vast majority at scale) never entered it: join the
    # labels back over the full corpus, every other doc labels itself
    return (
        df.select(F.col(id_col))
        .join(
            labels.withColumnRenamed("doc", id_col), id_col, "left"
        )
        .select(
            id_col,
            F.coalesce("label", F.col(id_col)).alias("cluster_id"),
        )
    )


def _union_find_min_labels(edges: "list[tuple]") -> dict:
    """Exact union-find (path compression + min-root union) over an edge
    list that fits on the driver: node -> min node id of its component.
    The min-union invariant makes every root its component's minimum, so
    the final ``find`` pass IS the labeling — no second grouping pass."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _log_cc_stats(logger, door: str, batch_id, cc_stats: dict) -> None:
    """Per-micro-batch :func:`connected_components` telemetry for the
    streaming ingest doors (round-14 verdict #7): every batch's round
    count lands in the driver log at INFO, and a distributed run within
    2 rounds of ``max_iters`` escalates to WARNING — so an operator sees
    duplicate-chain depth creeping toward the bound batches before a
    deeper batch raises on it, instead of discovering the bound from
    the crash."""
    logger.info(
        "%s batch %s: connected_components %s", door, batch_id, cc_stats
    )
    if (
        "fastpath_edges" not in cc_stats
        and cc_stats.get("converged")
        and cc_stats["rounds"] >= cc_stats["max_iters"] - 2
        # floor: with a tiny max_iters (2-3) a comfortably-converged
        # rounds=1 run is within 2 of the bound by arithmetic, not by
        # creeping chain depth — no warning there (round-15 ADVICE).
        # But a FULLY exhausted budget (rounds == max_iters) is zero
        # headroom at any bound — always worth the warning.
        and (
            cc_stats["max_iters"] >= 5
            or cc_stats["rounds"] >= cc_stats["max_iters"]
        )
    ):
        logger.warning(
            "%s batch %s: component contraction used %d of max_iters=%d "
            "rounds — a deeper duplicate chain in a later batch will "
            "raise; raise max_iters (rounds grow ~log2(chain diameter))",
            door, batch_id, cc_stats["rounds"], cc_stats["max_iters"],
        )


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    stats: "dict | None" = None,
    driver_fastpath_max_edges: int = 100_000,
) -> DataFrame:
    """Connected components over an undirected pair graph — alternating
    LARGE-STAR / SMALL-STAR edge contraction (Kiveris, Lattanzi, Mirrokni,
    Rastogi & Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC'14): provably convergent in O(log² n) rounds, observed
    ~log₂(diameter)+2 rounds total — convergence is detected ON the round
    that produces the fixpoint, no extra detection round (a 4096-node
    path: 12 rounds, so ``max_iters`` must be ≥ 12 for it; the fuzz
    graphs close in 6 — tests/test_cc_fuzz.py).

    Each round rewrites the EDGE set (canonical ``u > v`` rows):

    - **large-star**: every node attaches its strictly-larger neighbors
      to the minimum of its neighborhood (including itself);
    - **small-star**: every node attaches itself and its smaller
      neighbors to the smallest of them.

    Both operations preserve connectivity and only ever lower the partner
    a node points at; the fixed point is a star forest whose centers are
    the component minima — the output labeling read directly off the
    final edge rows. Convergence is detected exactly and WITHOUT
    referencing the previous round: the round map's fixpoints are
    precisely the canonical star forests (each non-center node appears as
    the larger endpoint of exactly ONE edge and never as a center —
    sufficiency: both passes re-emit such a set verbatim; necessity: a
    node with two parents or a chain node playing both roles is rewritten
    by the very next round), so one narrow endpoint-role aggregation over
    ``new_edges`` replaces the former per-round ``count()`` +
    ``exceptAll`` against the previous round AND fires on the round that
    PRODUCES the fixpoint instead of one round later.

    This replaced a min-label-propagation + pointer-jump loop whose
    claimed O(log d) bound was FALSE in general: when the component
    minimum enters a chain mid-way, the far side's labels collapse into
    a flat star pointing at a stale local minimum, pointer chases gain
    nothing (label(label) is the same stale id), and convergence
    degenerates to Θ(graph distance) — the randomized fuzz
    (tests/test_cc_fuzz.py) surfaced it as a spurious non-convergence
    raise at max_iters=20 on a diameter-90 graph. Star contraction has
    no such degeneracy: the round count is topology-independent up to
    the proven bound.

    Per round: one neighborhood-min per star pass — a partial-aggregated
    groupBy + broadcastable join-back, so a giant star (every component
    contracts toward one center whose degree is the component size)
    never funnels its whole edge list through a single task — plus the
    exact fixpoint check, all O(|edges|); nodes not in any pair never
    enter the loop. Every round is pinned with :func:`pin_intermediate`:
    each round's plan references the previous round's edge frame ~a
    dozen times (two star passes + the convergence check), so kept
    lineage would grow the logical plan multiplicatively per round;
    truncated, plans stay round-sized. With a checkpoint directory
    configured the pins are reliable checkpoint files (the GraphX/ALS
    pattern); without one they are ``localCheckpoint`` blocks that
    accumulate until ``session.release_checkpoint_caches`` sweeps them.

    The canonical edge frame is the pair frame's ONLY consumer, so it is
    the one input pin: the upstream lineage (typically an LSH candidate +
    verification join) executes exactly once, fused with the
    canonicalize + distinct into one eager materialization job shared by
    the fastpath gate and the star loop's round 0.

    ``stats`` (optional dict) is populated in place with round telemetry:
    ``rounds`` (rounds executed), ``max_iters``, ``converged`` — so
    operators sizing ``max_iters`` on real corpora can read how much
    headroom a run had instead of discovering the bound by crashing.
    Populated on every exit, including the non-convergence raise.

    ``driver_fastpath_max_edges`` (round-15 verdict #3): when the
    canonical edge set is provably tiny, the edges are collected and
    labeled by exact union-find on the driver
    (:func:`_union_find_min_labels`), skipping the distributed loop
    entirely. Real near-dup graphs are a sliver of the corpus — at
    gate/bench scale the whole graph is a few hundred pairs and the star
    loop's cost was pure fixed per-job overhead (~0.4 s/run, SCALE.md).
    The 100 TB story is untouched: past the budget the star loop is the
    only path, and the budget itself (100k edges ≈ ~13 MB collected) is
    far below driver heap. The mapping comes back with a BROADCAST hint
    — it is ≤ budget rows by construction, but RDD-backed with unknown
    stats, so a consumer's corpus-scale join against it would otherwise
    plan SortMergeJoin and shuffle the corpus side; the unbounded
    star-loop output stays unhinted. ``0`` disables (the loop-behavior
    tests pin rounds/raises and must not be short-circuited); ``stats``
    records ``fastpath_edges`` and ``rounds=0`` when taken.

    Input: (doc_a, doc_b) pairs. Output: (doc, label) for every
    NON-CENTER node — a node in some pair whose label, the min node id
    of its component, differs from its id. Component centers and
    self-loop-only nodes are absent: a consumer left-joins the labels
    over its node set and coalesces a missing label to the id
    (:func:`dedup_clusters`), or rebuilds the members as
    ``labels ∪ {(label, label)}`` (every center of a size ≥ 2 component
    is some non-center's label).
    """
    edges = pin_intermediate(
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .distinct(),
        eager=True,
    )
    if driver_fastpath_max_edges > 0:
        # ONE action gates AND fetches (round 17): take(budget+1) both
        # answers "is the graph within budget" and, when it is, returns
        # the complete edge list. A result of exactly budget+1 rows means
        # over budget (an arbitrary subset — discarded, the star loop
        # starts from the pinned edges); ≤ budget rows IS the full
        # canonical edge set.
        edge_rows = edges.take(driver_fastpath_max_edges + 1)
        n_edges = len(edge_rows)
        if n_edges <= driver_fastpath_max_edges:
            # NULL endpoints cannot reach this frame (the canonical
            # `doc_a != doc_b` filter is NULL-rejecting), but Python
            # min/max would raise TypeError on one where the star
            # loop's least/greatest shrugs — drop them defensively so
            # the two paths can never diverge on failure mode
            # (round-15 ADVICE)
            labels = _union_find_min_labels(
                [
                    (r[0], r[1])
                    for r in edge_rows
                    if r[0] is not None and r[1] is not None
                ]
            )
            if stats is not None:
                stats.update(
                    rounds=0, max_iters=max_iters, converged=True,
                    fastpath_edges=n_edges,
                )
            from pyspark.sql.types import StructField, StructType

            spark = pairs.sparkSession
            mapping = spark.createDataFrame(
                # non-centers only, same as the star loop's converged
                # edge rows (u > v, centers absent).
                # ONE slice explicitly: PySpark's default parallelize
                # cuts the local list into defaultParallelism Python-RDD
                # slices, and every consumption pays one Python-runner
                # round-trip PER SLICE (32 near-empty worker calls per
                # run; a coalesce(1) is worse still — one task walking
                # all 32 python partitions serially, measured 6 s). A
                # ≤ budget (~13 MB) driver list is one partition's worth
                # of data by construction.
                spark.sparkContext.parallelize(
                    [(d, lab) for d, lab in labels.items() if d != lab], 1
                ),
                StructType([
                    StructField("doc", edges.schema["u"].dataType),
                    StructField("label", edges.schema["v"].dataType),
                ]),
            )
            return F.broadcast(mapping)

    def nbr_min(df: DataFrame, include_self: bool) -> DataFrame:
        """df(u, v, …) + column m = min(v [∪ {u}]) per u."""
        m = F.least(F.col("__mn"), F.col("u")) if include_self else F.col("__mn")
        mins = df.groupBy("u").agg(F.min("v").alias("__mn"))
        return df.join(mins, "u").withColumn("m", m).drop("__mn")

    converged = False
    rounds_used = 0
    for round_no in range(max_iters):
        # -- large-star: symmetrize; per node x, m = min(Γ(x) ∪ {x});
        # attach every strictly-larger neighbor to m. Emitted rows are
        # canonical by construction (nbr > x ≥ m). NOT deduped here: the
        # small-star min is duplicate-insensitive and new_edges' final
        # distinct subsumes it, so the intra-round exchange+aggregate a
        # distinct would cost buys nothing.
        sym = edges.select("u", "v").unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = pin_intermediate(
            nbr_min(sym, include_self=True)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v")),
            eager=True,
        )
        # -- small-star: rows are already directed larger→smaller; per
        # node u, m = min of its smaller neighbors; attach u and every
        # smaller neighbor to m. BOTH emissions ((u,m) per group —
        # deduped below — and (v,m) per row) explode out of one pass.
        edges = pin_intermediate(
            nbr_min(large, include_self=False)
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias("a"), F.col("m").alias("b")
                        ),
                        F.struct(
                            F.greatest("v", "m").alias("a"),
                            F.least("v", "m").alias("b"),
                        ),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            eager=True,
        )
        rounds_used = round_no + 1
        # exact fixpoint test — star-forest check on the new edges ALONE
        # (see docstring proof): a violation is a node with >1 parent or
        # one playing both leaf and center. One narrow shuffle on node
        # ids with map-side partial aggregation (a giant star's center
        # contributes |star| center-role rows, combined before the
        # exchange), no reference to the previous round's frame.
        roles = edges.select(
            F.col("u").alias("node"),
            F.lit(1).alias("leaf"),
            F.lit(0).alias("center"),
        ).unionByName(
            edges.select(
                F.col("v").alias("node"),
                F.lit(0).alias("leaf"),
                F.lit(1).alias("center"),
            )
        )
        violation = (
            roles.groupBy("node")
            .agg(F.sum("leaf").alias("leaf"), F.max("center").alias("center"))
            .filter(
                (F.col("leaf") > 1)
                | ((F.col("leaf") > 0) & (F.col("center") > 0))
            )
            .take(1)
        )
        if not violation:
            converged = True
            break
    if stats is not None:
        stats.update(
            rounds=rounds_used, max_iters=max_iters, converged=converged
        )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            "two-phase star rounds — beyond the observed ~log2(diameter)+2 "
            "for any graph this side of the SoCC'14 O(log² n) worst case; "
            "raise max_iters"
        )
    # fixed point = star forest: every non-center node appears exactly
    # once as the larger endpoint, pointing at its component minimum
    return edges.select(F.col("u").alias("doc"), F.col("v").alias("label"))


def _parquet_path_exists(spark, path: str) -> bool:
    """True when ``path`` is a readable parquet dataset. The portable
    existence probe for the ingest journal: schema inference raises
    PATH_NOT_FOUND on an absent directory, and AnalysisException only —
    an unreachable store or corrupt footer must propagate, not read as
    'journal absent' (which would re-apply a possibly-applied batch)."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path)
        return True
    except AnalysisException:
        return False


def _ingest_through_index(
    stream: DataFrame,
    *,
    door: str,
    logger,
    id_col: str,
    landed_path: str,
    checkpoint: str,
    available_now: bool,
    decide,
    pairs,
    add,
    journal: "str | None" = None,
):
    """The one ingest-through-index door, shared by the text
    (``streaming_index_ingest``) and embedding
    (``streaming_embedding_ingest``) indexes: a ``foreachBatch`` stream
    whose micro-batches are deduped against the index, landed under
    ``landed_path/batch=<id>/`` (``batch`` reads back as the audit-trail
    partition column) and appended, so batch N+1 dedups against batch
    N's survivors with no horizon bound. Returns the started query.

    Each micro-batch runs one fixed sequence:

    1. skip it if ``journal`` already holds ``batch=<id>``;
    2. ``decide(s, batch_df, batch_id) -> (kept, land)``: the family's
       drop decision against the index minus this batch;
    3. ``pairs(kept) -> (pinned kept, (doc_a, doc_b) edges)``: the
       family's intra-batch pairs (``pairs=None``: none), reduced by
       :func:`connected_components` to the min id per component;
    4. pin the survivors; 5. land them (or ``land(losers)``, the
       family's annotated frame) by OVERWRITING ``batch=<id>``;
    6. ``add(s, survivors)`` with the index state read at stream start;
    7. write the journal row (batch id, rows landed, rows added).

    Exactly-once is Structured Streaming's rule: a replayable source
    plus an idempotent or journaled sink. Every family decision keeps
    the survivor set a pure function of (index state without this
    batch, batch content), so a replay reproduces it. A crash before
    landing reruns plainly; between landing and add the rerun
    overwrites the landed batch with the same rows; between add and
    commit an id-idempotent add (text) re-adds nothing, while a blind
    append (embeddings) is journaled and its rerun appends the batch's
    survivors once more — duplicate rows that searches tolerate and
    ``ivf_compact(id_col=)`` sweeps (journaling before the append would
    instead lose the batch from the index). Single writer: do not add
    to, compact or rebuild an index a stream is ingesting into.
    """

    def ingest_batch(batch_df, batch_id):
        # foreachBatch hands frames bound to a CLONED session: run the
        # whole cycle through it so every table read resolves against the
        # catalog state the appends invalidate
        s = batch_df.sparkSession
        log = f"{journal}/batch={batch_id}" if journal else None
        if log and _parquet_path_exists(s, log):
            return  # journaled: landed and added, a replay is a no-op
        kept, land = decide(s, batch_df, batch_id)
        losers = None
        if pairs is not None:
            kept, edges = pairs(kept)
            # CC's edge pin is the pairs' one materialization; a batch
            # with no intra-batch pairs exits through its fastpath
            cc_stats: dict = {}
            losers = connected_components(edges, stats=cc_stats)
            _log_cc_stats(logger, door, batch_id, cc_stats)
            kept = kept.select(*batch_df.columns).join(
                losers.select(F.col("doc").alias("__drop")),
                F.col(id_col) == F.col("__drop"),
                "left_anti",
            )
        survivors = kept.localCheckpoint(eager=True)
        landed = survivors if land is None else land(losers)
        landed.write.mode("overwrite").parquet(
            f"{landed_path}/batch={batch_id}"
        )
        add(s, survivors)
        if log:
            s.createDataFrame(
                [(int(batch_id), landed.count(), survivors.count())],
                "batch_id long, n_landed long, n_added long",
            ).write.mode("overwrite").parquet(log)

    writer = stream.writeStream.foreachBatch(ingest_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: SimHash width. 60 bits = 15 hex chars of md5: the token hash
#: (conv(substr(md5(t),1,15),16,10)) computes IDENTICALLY in Spark and
#: DuckDB, so the whole fingerprint is oracle-reproducible — xxhash64 was
#: marginally cheaper but exists only in Spark.
SIMHASH_BITS = 60


def with_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """60-bit SimHash fingerprint: per-token md5-derived bit votes → sign
    bits, appended as ``out_col``.

    Scan-local Arrow kernel (same shape as :func:`with_minhash`): per doc,
    hash the distinct whitespace tokens with md5 (15 hex chars → int64 —
    the arithmetic DuckDB reproduces with ('0x'||substr(md5,1,15))::BIGINT),
    then the 60 bit-votes are one numpy broadcast. A column-expression
    formulation (60 HOF aggregates per row) measured ~77 s at sf0.1; the
    kernel is the identical function in vectorized form.

    Tokenization mirrors the SQL both engines agreed on —
    split(trim(text), '\\s+') keeps leading/trailing empty tokens when the
    text has non-space edge whitespace, and an all-space text yields the
    single empty token.
    """
    import hashlib
    import re

    import numpy as np

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    md5 = hashlib.md5
    ws = re.compile(r"\s+")

    def kern(batches):
        # token-hash memo across the whole task (round 17): natural-text
        # vocabularies are Zipfian, so the same tokens recur across
        # documents — md5 each distinct token once per task and look the
        # rest up (the testdata corpus hits the extreme: 31-token
        # vocabulary over 270k instances at sf0.1). Same hash values,
        # strictly fewer md5 calls; memory is bounded by task vocabulary.
        hcache: dict = {}

        def th(t):
            v = hcache.get(t)
            if v is None:
                v = int(md5(t.encode()).hexdigest()[:15], 16)
                hcache[t] = v
            return v

        for pdf in batches:
            if len(pdf) == 0:
                continue
            fps = np.empty(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                # NULL ≡ ''; SQL trim() strips spaces only
                t2 = (text or "").strip(" ")
                toks = set(ws.split(t2)) if t2 else {""}
                hs = np.fromiter(
                    (th(t) for t in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
                votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                fps[i] = int(((votes > 0).astype(np.uint64) << shifts).sum())
            out = pdf.copy()
            out[out_col] = fps
            yield out

    return _parallelized(df).mapInPandas(kern, out_schema)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash: chunk-banded candidates, Hamming verify.

    Hamming ≤ 3 over 60 bits ⇒ at least one of the 4 15-bit chunks is equal
    (pigeonhole), so candidates come from 4 equi-joins on chunk value — no
    all-pairs scan. Output: (doc_a, doc_b, hamming).

    The fingerprint table (2 longs per doc) is pinned eagerly before the
    chunk self-join: both join sides descend from the same Arrow kernel,
    and Spark plans them as two independent scans (no ReusedExchange
    across the mapInPandas boundary) — unpinned, the WHOLE corpus text
    would be read and fingerprinted twice. Same rationale as the banded
    MinHash table in :func:`minhash_lsh_pairs`.
    """
    assert max_hamming <= 3  # pigeonhole bound for 4 chunks
    # project BEFORE the Arrow kernel: with_simhash's mapInPandas schema
    # is input+simhash, so an unprojected call would round-trip every
    # document column (the whole text twice) through Arrow just to drop
    # them here
    sim = pin_intermediate(
        with_simhash(
            df.select(id_col, text_col), text_col=text_col
        ).select(F.col(id_col).alias("doc"), "simhash"),
        eager=True,
    )
    chunk_bits = SIMHASH_BITS // 4
    chunk_mask = (1 << chunk_bits) - 1
    # SQL-string expressions per the round-17 note in engine/relational.py
    structs = ", ".join(
        f"struct({c} AS chunk, "
        f"shiftrightunsigned(simhash, {chunk_bits * c}) & {chunk_mask} AS cv)"
        for c in range(4)
    )
    chunks = sim.selectExpr(
        "doc", "simhash", f"explode(array({structs})) AS ck"
    ).selectExpr("doc", "simhash", "ck.chunk", "ck.cv")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "cv"])
        .filter(F.expr("x.doc < y.doc"))
        .selectExpr(
            "x.doc AS doc_a",
            "y.doc AS doc_b",
            "bit_count(x.simhash ^ y.simhash) AS hamming",
        )
        .distinct()
    )
    return cand.filter(F.expr(f"hamming <= {int(max_hamming)}"))


def remove_dup_lines(
    df: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level boilerplate removal (the RefinedWeb/Dolma recipe):
    drop every LINE whose normalized form occurs ``min_count`` or more
    times across the corpus — navigation bars, cookie banners, footers,
    and license blurbs repeat across pages while real prose doesn't.

    Returns ``(id, text, lines_total, lines_removed)`` — one row per
    input document, ``text`` rebuilt from the surviving lines in their
    original order (documents whose every line is boilerplate come back
    as the empty string; NULL text stays NULL with zero counts).

    Occurrences are counted per APPEARANCE, not per document, matching
    the published recipes — a line pasted 3× inside one document with
    ``min_count=3`` is boilerplate by its own repetition. Line identity
    is ``md5(normalize_text(line))`` (case/whitespace-insensitive), the
    same normalization as exact document dedup, so the two stages agree
    on what "the same text" means. Blank/whitespace-only lines are
    never removed — they are document structure and would trivially
    exceed any count threshold.

    Scale shape: explode to lines once, count by 32-byte line digest
    (map-side partial combine — only digests shuffle), anti-join the
    over-represented digest set (linear, no broadcast of what can be a
    corpus-scale set), rebuild per document (one shuffle back on the
    doc id). Two linear shuffles of the line table, no pairwise term —
    run it once as a landing transform, not per query.
    """
    # three consumers (the count aggregation, the anti-join, the per-doc
    # totals) would each re-run the corpus-wide explode + per-line
    # regex/md5 without a pin — the dominant cost of the operator
    lines = pin_intermediate(
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        ).withColumn("lkey", F.md5(normalize_text(F.col("line")))),
        eager=True,
    )
    common = (
        # blank lines are structure, not boilerplate — they'd trivially
        # exceed any count threshold and collapse every paragraph break
        lines.filter(normalize_text(F.col("line")) != "")
        .groupBy("lkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("lkey")
    )
    kept = lines.join(common, "lkey", "left_anti")
    rebuilt = (
        lines.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("lines_total"))
        .join(
            kept.groupBy(id_col).agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s["line"],
                    ),
                    "\n",
                ).alias("__kept_text"),
                F.count(F.lit(1)).alias("__kept_n"),
            ),
            id_col,
            "left",
        )
    )
    # NULL-text docs never exploded: restore them with NULL text; docs
    # whose lines were all removed rebuild as ''
    return (
        df.select(id_col, F.col(text_col))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.coalesce("__kept_text", F.lit("")))
            .alias(text_col),
            F.coalesce("lines_total", F.lit(0)).alias("lines_total"),
            (
                F.coalesce("lines_total", F.lit(0))
                - F.coalesce("__kept_n", F.lit(0))
            ).alias("lines_removed"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    window: int = 13,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup REMOVAL — the excision counterpart of
    :func:`dup_span_stats`'s signal (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" ExactSubstr recipe,
    approximated with fixed ``window``-token spans instead of suffix
    arrays): every token covered by a ``window``-token span whose exact
    form occurs ``min_count``+ times in the corpus is removed, EXCEPT in
    the span's canonical occurrence — the (doc_id, start)-minimal one —
    which is kept, so exactly one copy of each duplicated span survives.
    A contiguous region duplicated between documents therefore stays
    intact in its lowest-id holder and is excised everywhere else
    (within-doc repeats count as occurrences, so a doc that pastes its
    own paragraph twice keeps the first paste). Caveat of the
    window-level approximation, stated honestly: the canonical copy of a
    span is protected from its OWN hash's flag, but an overlapping
    DIFFERENT duplicated span whose canonical copy lives elsewhere can
    still cover some of its tokens — pathological interleavings may
    over-remove; real boilerplate (contiguous regions) does not.

    Returns ``(id, text, n_tokens, tokens_removed)``, one row per input
    document: ``text`` rebuilt from the surviving tokens in order
    (single-space joined — affected documents lose their original
    whitespace; UNTOUCHED documents keep their text verbatim), NULL text
    stays NULL with zero counts, documents shorter than ``window``
    tokens are never touched (the window cannot see them — run
    :func:`exact_dedup` / :func:`remove_dup_lines` for short-form
    duplication), and a fully-covered document comes back as ``''``.

    Scale shape: one window explode (corpus tokens × 1 row each, md5
    window hashes — the same portable 13-gram convention as
    :func:`decontaminate` and :func:`dup_span_stats`), one
    map-side-combinable count + min-(doc,start) aggregate per hash, one
    equi-join back to flag non-canonical occurrences, then token-level
    work ONLY for affected documents (semi-join first): covered
    positions explode to ``window`` rows per flagged span, surviving
    tokens reassemble with one keyed shuffle. Everything is linear in
    corpus tokens with the token-row stage linear in AFFECTED-doc tokens
    — no per-doc quadratic coverage test, no pairwise term. Run it once
    as a landing transform, not per query.
    """
    if window < 2:
        raise ValueError("remove_dup_spans: window must be >= 2")
    d = df.select(
        F.col(id_col),
        F.col(text_col),
        F.split(
            F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
        ).alias("__toks"),
    )
    toks = F.col("__toks")
    # posexplode_outer for the same Catalyst reason as dup_span_stats:
    # plain explode re-inlines the window expression below the inferred
    # size()>0 filter (the array is never empty after the length filter)
    w = (
        d.filter(F.size(toks) >= window)
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode_outer(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (window - 1)),
                    lambda i: F.md5(F.array_join(F.slice(toks, i, window), " ")),
                )
            ).alias("i0", "wh"),
        )
        .select("doc", (F.col("i0") + 1).alias("start"), "wh")
    )
    # two consumers (the frequency aggregate and the flag join) would
    # each re-run the corpus-wide window explode without a pin
    w = pin_intermediate(w)
    freq = (
        w.groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            # canonical occurrence: min (doc, start) — deterministic,
            # fully map-side-combinable
            F.min(F.struct(F.col("doc"), F.col("start"))).alias("__keep"),
        )
        .filter(F.col("__c") >= min_count)
    )
    flagged = (
        w.join(freq, "wh")
        .filter(
            ~(
                (F.col("doc") == F.col("__keep").getField("doc"))
                & (F.col("start") == F.col("__keep").getField("start"))
            )
        )
        .select("doc", "start")
    )
    # covered token positions; three consumers (affected-doc set, the
    # anti-join, the removed-count totals)
    cov = pin_intermediate(
        flagged.select(
            "doc",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (window - 1))
            ).alias("pos"),
        ).distinct(),
    )
    affected = cov.select("doc").distinct()
    toks_rows = (
        d.join(affected, d[id_col] == F.col("doc"), "left_semi")
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode_outer(toks).alias("i0", "tok"),
        )
        .select("doc", (F.col("i0") + 1).alias("pos"), "tok")
    )
    kept = toks_rows.join(cov, ["doc", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("__kept_text")
    )
    removed = cov.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("tokens_removed")
    )
    return (
        d.select(id_col, F.col(text_col), F.size(toks).alias("__nt"))
        .join(removed.withColumnRenamed("doc", id_col), id_col, "left")
        .join(rebuilt.withColumnRenamed("doc", id_col), id_col, "left")
        .select(
            id_col,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            )
            .when(
                F.col("tokens_removed").isNotNull(),
                F.coalesce("__kept_text", F.lit("")),
            )
            .otherwise(F.col(text_col))
            .alias(text_col),
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.col("__nt"))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce("tokens_removed", F.lit(0))
            .cast("long")
            .alias("tokens_removed"),
        )
    )
