"""Sequence packing — concat-and-chunk documents into training sequences.

The standard LLM pre-training data layout: documents are concatenated in a
deterministic global order and the token stream is sliced into fixed-size
sequences (GPT-style "pack then chunk"); each document is assigned the
token-stream offset where it starts and the range of sequence ids it spans.
The reference has no such operator (php-ec is a CEP engine); this covers
the driver's training-data-pipeline requirement over the `documents` table.

100 TB design — the distributed prefix sum. A naive cumulative sum is a
global window (``Window.orderBy(doc_id)`` with no partitionBy), which
Spark executes on a SINGLE partition — a non-starter at scale. Instead:

1. project down to (doc_id, n_tokens) — 16 bytes/row, column-pruned at
   the parquet scan;
2. ``repartitionByRange(doc_id)`` so partition k holds a contiguous
   doc_id range (the only ordering guarantee the algorithm needs);
3. local cumulative sums per range partition (window over the stamped
   ``spark_partition_id``);
4. per-partition totals → exclusive running offsets via a window over the
   tiny totals frame (one row per partition — hundreds of rows on a
   thousand-executor cluster, not billions), broadcast-joined back.

Total cost: two shuffles of a 2-column frame plus one broadcast — the
classic two-pass parallel scan, wall-clock bounded by the narrow scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Default sequence length (tokens per training sequence).
DEFAULT_BUDGET = 512


def running_prefix_sum(
    df: DataFrame,
    order_cols: "list[str]",
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed INCLUSIVE prefix sum of ``value_col`` over rows in
    ``order_cols`` order — the two-pass parallel scan shared by
    :func:`pack_sequences` (document offsets in id order) and
    :func:`~php_ec_spark.operators.sampling.sample_to_token_budget`
    (budget cutoff in hashed order). Adds ``__cum_end``; the combination
    of ``order_cols`` values must be unique per row or the within-tie
    order (and so the split of the running sum among tied rows) is
    engine-dependent.

    Shape (see the module docstring): range-partition on the order key so
    partition k's keys all precede partition k+1's, local window scans per
    physical partition, then per-partition totals — ONE row each — roll up
    through a driver-sized window and broadcast back. The result is
    invariant to ``num_partitions``.
    """
    if num_partitions is None:
        # shuffle_partitions handles non-numeric conf values like 'auto'
        # (managed platforms) by falling back to defaultParallelism
        from ..session import shuffle_partitions

        num_partitions = shuffle_partitions(df.sparkSession)
    # Range-partition so partition k's keys are all below partition
    # k+1's, then stamp the physical partition id; spark_partition_id is
    # non-deterministic to the optimizer, which (correctly) pins it to
    # this exact exchange. Both consumers below (local cumsum +
    # per-partition totals) must see the SAME pid stamping: pin the
    # stamped frame so the scan + range exchange run once and the
    # branches read its blocks, instead of re-running two independent
    # range exchanges and trusting their sampled boundaries to agree.
    # Sweep with session.release_checkpoint_caches between queries.
    d = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    from .dedup import pin_intermediate

    d = pin_intermediate(d)
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("__local_cum", F.sum(value_col).over(local_w))
    # Exclusive running offset per partition: the totals frame has one row
    # per partition, so the unpartitioned window below is over hundreds of
    # rows, not the corpus. Ordered by each partition's min ORDER KEY (not
    # __pid) so correctness never rests on pid numbering.
    totals = d.groupBy("__pid").agg(
        F.sum(value_col).alias("__tot"),
        F.min(F.struct(*order_cols)).alias("__min_key"),
    )
    off_w = Window.orderBy("__min_key").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__tot").over(off_w), F.lit(0)).alias("__off"),
    )
    return (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn("__cum_end", F.col("__off") + F.col("__local_cum"))
        .drop("__pid", "__local_cum", "__off")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = DEFAULT_BUDGET,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
    token_col: "str | None" = None,
) -> DataFrame:
    """Assign each document its offset + sequence span in the packed stream.

    Documents are ordered by ``id_col`` (which must be UNIQUE — with
    duplicate ids the within-tie order, and therefore the offset
    assignment among the tied docs, is engine-dependent); ``n_tokens`` is
    the single-space word count (the corpus tokenization convention, see
    operators.text), or — with ``token_col`` — a PRECOMPUTED count, the
    same opt-in the token sampler has: pass the producing operator's own
    counts (e.g. ``split_documents``' ``n_tokens``, counted under ITS
    ``\\s+`` convention) so the packer's units agree with the producer's
    instead of re-counting under a different convention.
    Returns (id_col, n_tokens, start_offset, seq_first, seq_last) where
    ``start_offset`` is the exclusive prefix sum of token counts and
    ``seq_first``/``seq_last`` the first/last ``budget``-sized sequence
    the document lands in (documents may straddle a boundary — that is
    the point of concat-and-chunk packing).

    The result is invariant to ``num_partitions``: partitioning only
    changes where the local scans run, never the offsets (pinned by a
    partition-count sweep in tests/test_pipeline_ops.py).

    NULL text counts as ZERO tokens — the same contract as
    ``sample_to_token_budget``, and coalesced BEFORE the prefix sum (a
    windowed sum over leading NULLs goes NULL and silently breaks the
    partition-head rows' offsets — the exact class fixed in the sampler).
    A zero-token document gets ``start_offset`` = the stream position it
    occupies and ``seq_first = seq_last = start_offset DIV budget`` (the
    sequence it lands at while contributing nothing).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if token_col is None and "n_tokens" in df.columns:
        # the sampler's guard, mirrored: a precomputed n_tokens silently
        # replaced by the whitespace recount would measure offsets in
        # the wrong unit
        raise ValueError(
            "pack_sequences: input already has an n_tokens column; pass "
            "token_col='n_tokens' to pack by it, or drop/rename it to "
            "opt into the whitespace recount"
        )
    if token_col is not None:
        n_tokens = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    else:
        n_tokens = F.coalesce(
            F.size(F.split(F.col(text_col), " ")).cast("long"), F.lit(0)
        )
    d = df.select(F.col(id_col), n_tokens.alias("n_tokens"))
    out = running_prefix_sum(
        d, [id_col], "n_tokens", num_partitions=num_partitions
    ).select(
        F.col(id_col),
        F.col("n_tokens"),
        (F.col("__cum_end") - F.col("n_tokens")).alias("start_offset"),
    )
    # DIV (integer division) keeps sequence ids in exact int64 — a double
    # round-trip would lose exactness past 2^53 token offsets. Zero-token
    # docs pin seq_last to seq_first (the n_tokens-1 form would point one
    # sequence back at a boundary).
    return out.select(
        id_col,
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset DIV {budget}").alias("seq_first"),
        F.expr(
            f"(start_offset + greatest(n_tokens, 1) - 1) DIV {budget}"
        ).alias("seq_last"),
    )
