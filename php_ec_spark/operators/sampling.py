"""Sampling and mixing for training-data pipelines.

The operations a data-mixing stage runs before tokenization: seeded
per-stratum downsampling (quality/source quotas) and weighted interleave
of several corpora into one stream. Everything is expression-level —
deterministic given the seed, no Python in the row path, no shuffle beyond
what the caller's downstream already needs.

Determinism contract: sampling hashes ``(id, seed)`` with xxhash64 rather
than using ``rand()`` — the same row keeps the same fate across retries,
partitionings, and re-runs, which is what makes 100 TB sampling jobs
resumable and their outputs reproducible.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: xxhash64 output spans the full signed-64 space; this maps it to [0, 1).
_HASH_SPAN = float(1 << 64)


def _u(df_col, seed: int, op: str, hash: str = "xxhash64"):
    """Deterministic uniform [0,1) from a column + seed + operator tag.

    The tag domain-separates the hash: stratified_sample and weighted_mix
    at the same seed draw INDEPENDENT uniforms, so composing them
    multiplies keep rates instead of collapsing to min(rates) (identical
    hashes would make the second filter a no-op on survivors).

    ``hash="xxhash64"`` (default) is the fast JVM-native path.
    ``hash="md5"`` is the PORTABLE path: the uniform is the first 8 hex
    chars of ``md5(concat_ws(':', cast(col as string), op, seed))`` over
    2^32 — reproducible bit-for-bit in any engine with md5 (DuckDB,
    Trino, Postgres), for pipelines whose sampling decisions must survive
    an engine migration or be audited outside Spark. ~2-3× the hash cost
    of xxhash64; still expression-level, no Python, no shuffle."""
    if hash == "md5":
        hx = F.md5(
            F.concat_ws(":", df_col.cast("string"), F.lit(op), F.lit(str(seed)))
        )
        return F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") / F.lit(
            float(1 << 32)
        )
    if hash != "xxhash64":
        raise ValueError(f"unknown hash {hash!r}: use 'xxhash64' or 'md5'")
    return (F.xxhash64(df_col, F.lit(op), F.lit(seed)) / _HASH_SPAN) + 0.5


def stratified_sample(
    df: DataFrame,
    fractions: Mapping[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    hash: str = "xxhash64",
) -> DataFrame:
    """Keep each stratum at its quota: ``fractions`` maps stratum value →
    keep-probability (missing strata keep everything).

    Unlike ``DataFrame.sampleBy``, the keep decision is a pure hash of
    ``(id, seed)`` — re-running the job, changing partitioning, or
    retrying a task can never change which rows survive.
    """
    frac = None
    for value, p in sorted(fractions.items()):
        cond = F.col(strata_col).cast("string") == str(value)
        frac = F.when(cond, F.lit(float(p))) if frac is None else frac.when(
            cond, F.lit(float(p))
        )
    frac = F.lit(1.0) if frac is None else frac.otherwise(F.lit(1.0))
    return df.filter(_u(F.col(id_col), seed, "stratified_sample", hash) < frac)


def weighted_mix(
    sources: Mapping[str, DataFrame],
    weights: Mapping[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    source_col: str = "mix_source",
    hash: str = "xxhash64",
) -> DataFrame:
    """Mix corpora at target weights into one stream.

    Each source keeps rows with probability ``weight[name] /
    max(weights)`` (the largest-weight source passes whole; the others
    thin deterministically), then everything unions with a ``mix_source``
    tag. NOTE the contract precisely: these are per-source KEEP RATES,
    not a size-independent output mixture — the produced ratio is
    ``weight_i / weight_max`` scaled by each corpus's own size, so the
    output mixture equals the weight ratio only when the input corpora
    are equal-sized. To hit an exact output mixture, fold the measured
    corpus sizes into the weights (``weight_i / |corpus_i|``); up-
    sampling (weights above the max, i.e. per-epoch repetition) is the
    trainer's job.
    """
    if set(sources) != set(weights):
        raise ValueError(
            f"sources/weights keys differ: {sorted(sources)} vs {sorted(weights)}"
        )
    top = max(weights.values())
    if top <= 0:
        raise ValueError("weights must include a positive value")
    out = None
    for name in sorted(sources):
        keep_p = weights[name] / top
        part = sources[name].withColumn(source_col, F.lit(name))
        if keep_p < 1.0:
            # the source name joins the hash domain: corpora routinely
            # share id spaces (each numbers doc_id from 0), and a
            # name-blind hash would make keep/drop decisions CORRELATED
            # across sources instead of independent per-source thinning
            part = part.filter(
                _u(F.col(id_col), seed, f"weighted_mix:{name}", hash)
                < F.lit(keep_p)
            )
        out = part if out is None else out.unionByName(part)
    return out


def sample_to_token_budget(
    df: DataFrame,
    budget: int,
    token_col: "str | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    hash: str = "xxhash64",
    num_partitions: int | None = None,
    tokenizer: str = "ws",
) -> DataFrame:
    """Take an (approximately ``budget``-token) uniform sample of the
    corpus: documents are laid out in a deterministic pseudo-random
    order — the hash of ``(id, seed)``, same determinism contract as
    :func:`stratified_sample` — and the PREFIX whose cumulative token
    count fits within ``budget`` is kept. This is the mixture-building
    primitive "give me N tokens of source X": unlike a row-fraction
    sample, the stop condition is measured in tokens, which is the unit
    training budgets are written in.

    Semantics, precisely: a prefix take in a fixed random order — the
    first document whose inclusion would exceed ``budget`` ends the
    sample (documents after it in hash order are excluded even if they
    would individually fit; no bin-packing/backfill, which would bias
    the tail toward short documents). The kept token total is therefore
    ≤ ``budget``, within one document of it. Deterministic given
    ``(seed, corpus)`` across retries, partitionings and re-runs; a
    different ``seed`` is an independent redraw. ``hash='md5'`` switches
    to the engine-portable hash (see :func:`stratified_sample`) so an
    external auditor can recompute membership.

    ``token_col`` uses a precomputed token count; otherwise ``text_col``
    is counted by ``tokenizer``: ``'ws'`` (default) is the corpus
    single-space convention (same as
    :func:`~php_ec_spark.operators.packing.pack_sequences`); ``'bpe'``
    counts under the BPE-ish pre-split regex
    (:data:`~php_ec_spark.operators.text.BPE_ISH_RE` — the
    ``with_bpe_token_count`` kernel), so budgets can be written in
    approximate real-tokenizer units instead of whitespace words.
    ``tokenizer`` and ``token_col`` are mutually exclusive (a precomputed
    count already fixes the unit). A NULL
    count (NULL text) counts as ZERO tokens — the document contributes
    nothing to the running total and rides along if the prefix reaches
    it (coalesced before the sum: a window sum over leading NULLs would
    otherwise go NULL and silently drop partition-head rows, breaking
    partitioning invariance); filter NULLs upstream when that is not
    wanted. Returns the kept rows with all input columns plus
    ``n_tokens`` and ``cum_tokens`` (the running total through each kept
    document — the audit trail of the cutoff); those two output names
    are reserved and a frame already carrying either raises (pass
    ``token_col='n_tokens'`` to USE a precomputed count of that name).

    Scale shape: the cumulative count is the same two-pass distributed
    prefix sum as sequence packing
    (:func:`~php_ec_spark.operators.packing.running_prefix_sum` — range
    partition on the hash order, local window scans, driver-sized totals
    roll-up), so there is no global single-partition window anywhere —
    and, like ``pack_sequences``, the scan runs over a PROJECTED
    (id, hash, count) frame: corpus text is never range-shuffled or
    pinned, the kept ids join back to the input at the end.
    """
    if budget <= 0:
        raise ValueError(
            f"sample_to_token_budget: budget must be positive, got {budget}"
        )
    reserved = {"n_tokens", "cum_tokens"} & set(df.columns)
    if token_col == "n_tokens":
        reserved.discard("n_tokens")
    if reserved:
        # a precomputed n_tokens silently replaced by the whitespace
        # recount would measure the budget in the wrong unit
        raise ValueError(
            f"sample_to_token_budget: input already has column(s) "
            f"{sorted(reserved)} (reserved for the output); rename them, "
            f"or pass token_col='n_tokens' to use a precomputed count"
        )
    from .packing import running_prefix_sum

    if tokenizer not in ("ws", "bpe"):
        raise ValueError(
            f"sample_to_token_budget: tokenizer must be 'ws' or 'bpe', "
            f"got {tokenizer!r}"
        )
    if token_col is not None and tokenizer != "ws":
        raise ValueError(
            "sample_to_token_budget: token_col and tokenizer are mutually "
            "exclusive — a precomputed count already fixes the unit"
        )
    if token_col is not None:
        n_tokens = F.col(token_col).cast("long")
    elif tokenizer == "bpe":
        from .text import BPE_ISH_RE

        n_tokens = F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_RE), 0)
        ).cast("long")
    else:
        n_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    slim = df.select(
        F.col(id_col),
        F.coalesce(n_tokens, F.lit(0)).alias("n_tokens"),
        _u(F.col(id_col), seed, "token_budget", hash).alias("__u"),
    )
    kept = (
        running_prefix_sum(
            slim, ["__u", id_col], "n_tokens", num_partitions=num_partitions
        )
        .filter(F.col("__cum_end") <= budget)
        .select(
            F.col(id_col),
            "n_tokens",
            F.col("__cum_end").alias("cum_tokens"),
        )
    )
    # with token_col='n_tokens' the input column is superseded by the
    # (cast, coalesced) output column of the same name — drop it so the
    # join result carries exactly one
    base = df.drop("n_tokens") if token_col == "n_tokens" else df
    return base.join(kept, id_col)
