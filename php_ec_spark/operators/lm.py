"""Count-based n-gram language-model scoring (corpus quality filtering).

The standard corpus-curation quality signal (CCNet, Wenzek et al. 2020;
Gopher/MassiveText rules): score every document by its bits-per-token under
a language model, then drop or downweight the tails — gibberish and
boilerplate score high (surprising), templated spam scores abnormally low.
CCNet uses a pretrained KenLM; this operator implements the same signal
self-contained and fully distributed: a bigram model with Laplace
smoothing, trained on a reference corpus (by default the scored corpus
itself) with nothing but counting aggregates and keyed joins.

Model. For tokens lowercased and whitespace-split (the repo-wide
tokenization convention):

    P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)

where ``c(w1 w2)`` is the corpus bigram count, ``c(w1 ·)`` the count of
``w1`` as a bigram PREFIX (so the conditional sums to 1 over the smoothed
vocabulary), and ``V`` the distinct-token vocabulary size. A document with
s tokens has s−1 scored transitions; its score is the mean of
``−log2 P`` over them — bits per token. Documents with fewer than two
tokens (including NULL/empty text) carry NULL bits but are never dropped.

Scale design (100 TB lens):

- Training is two counting aggregates: explode transitions → groupBy
  (w1, w2), then groupBy w1 — map-side partial aggregation, output is
  VOCABULARY-sized (Zipf-bounded), not corpus-sized.
- Scoring is two keyed equi-joins of the transition stream against those
  count tables — AQE broadcasts them when they fit, falls back to a
  shuffle join keyed on the n-gram otherwise; skewed head tokens (`the`,
  `of`) are exactly the AQE skew-join case.
- The vocabulary size is the single driver-side scalar (one long —
  bounded by contract, same class as the chain type-list collects).
- No all-pairs term anywhere, no Python UDFs: pure codegen column
  expressions + joins, linear in corpus tokens.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: str):
    """Lowercased whitespace tokens; NULL text ≡ '' (a doc must never
    silently vanish from a corpus-contract operator)."""
    return F.split(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )


def _transitions(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, w1, w2) for every adjacent token pair; docs with < 2 tokens
    keep ONE null-pair row (explode_outer) so the doc survives to the
    final aggregate with zero scored transitions."""
    toks = F.col("__toks")
    pairs = F.when(
        F.size(toks) >= 2,
        # guard: F.sequence(1, 0) would produce a DESCENDING [1, 0]
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    return (
        df.select(F.col(id_col).alias("doc"), _tokens(text_col).alias("__toks"))
        .select("doc", F.explode_outer(pairs).alias("bg"))
        .select("doc", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def with_lm_bits(
    df: DataFrame,
    train_df: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram-LM bits-per-token over ``df``, trained on
    ``train_df`` (default: ``df`` itself — the self-scoring CCNet setup
    where the corpus's own statistics define "typical").

    Returns one row per input document: ``(doc_id, n_trans, lm_bits)``
    with ``lm_bits`` = mean −log2 P(w2|w1) rounded to 3 dp (cross-engine
    float-determinism convention) and NULL when the doc has no scorable
    transition (< 2 tokens). Transitions whose bigram never occurred in
    ``train_df`` still score finitely via Laplace smoothing — but only
    pairs present in the SCORED corpus reach the join, and self-training
    guarantees every such pair has a count; with a foreign ``train_df``
    unseen pairs would need an outer join, so this implementation left-
    joins and coalesces unseen counts to 0 (the smoothed floor).
    """
    from .dedup import pin_intermediate

    if train_df is None:
        # self-training: the exploded transition stream feeds BOTH the
        # count tables and the scoring join — pin it (the repo-wide
        # ≥2-consumers rule) so the corpus-linear explode runs once.
        score_trans = pin_intermediate(_transitions(df, text_col, id_col))
        tr_trans = score_trans.filter(F.col("w1").isNotNull())
        train = df
    else:
        train = train_df
        score_trans = _transitions(df, text_col, id_col)
        tr_trans = _transitions(train, text_col, id_col).filter(
            F.col("w1").isNotNull()
        )
    c2 = tr_trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    # vocabulary over ALL training tokens (incl. doc-final ones): the
    # smoothing denominator. One bounded scalar to the driver.
    vocab = (
        train.select(F.explode(_tokens(text_col)).alias("t"))
        .agg(F.countDistinct("t"))
        .collect()[0][0]
    ) or 1

    scored = (
        score_trans
        .join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .withColumn(
            "bits",
            F.when(
                F.col("w1").isNotNull(),
                -F.log2(
                    (F.coalesce("n2", F.lit(0)) + 1).cast("double")
                    / (F.coalesce("n1", F.lit(0)) + F.lit(vocab)).cast("double")
                ),
            ),
        )
    )
    return (
        scored.groupBy("doc")
        .agg(
            F.count("bits").alias("n_trans"),
            F.round(F.avg("bits"), 3).alias("lm_bits"),
        )
        .select(F.col("doc").alias(id_col), "n_trans", "lm_bits")
    )
