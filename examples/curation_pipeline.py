"""End-to-end pre-training data curation over the documents table.

The canonical LLM data pipeline, composed from the operators this repo
ships — every stage is the same code the registered oracle-checked
queries run, chained the way a real curation job would:

  1. exact dedup            (operators.dedup.exact_dedup)
  2. near-dup clustering    (operators.dedup.dedup_clusters, keep min id)
  3. substring-dup filter   (operators.dedup.dup_span_stats, Lee-et-al-
     style 13-token window duplication fraction)
  4. decontamination        (operators.dedup.decontaminate, 13-gram probe)
  4b. PII scrub             (operators.text.scrub_pii — emails/IPs/long
                             digit runs → placeholders, pre-scoring)
  5. quality + repetition   (operators.text: quality_score, Gopher-style
     filtering                repetition signals)
  5b. LM perplexity filter  (operators.lm.with_lm_bits, CCNet-style
                             bits-per-token tail cut)
  6. stratified sampling    (operators.sampling.stratified_sample)
  7. token counting         (operators.text.with_bpe_token_count)
  8. sequence packing       (operators.packing.pack_sequences)
  9. sharded export         (layout.export_training_shards — optional,
     pass export_path: globally shuffled reproducible training shards)

Run:  python examples/curation_pipeline.py [sf_dir]
      (default /root/testdata/sf0.01)

Prints the stage-by-stage funnel and the packed-stream summary. At scale
every stage is shuffle-bounded the same way its registered query is —
see PLANS.md; nothing here collects a corpus to the driver.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from php_ec_spark.operators.dedup import (
    decontaminate,
    dedup_clusters,
    dup_span_stats,
    exact_dedup,
)
from php_ec_spark.operators.lm import with_lm_bits
from php_ec_spark.operators.packing import pack_sequences
from php_ec_spark.operators.sampling import stratified_sample
from php_ec_spark.operators.text import (
    scrub_pii,
    with_bpe_token_count,
    with_quality_score,
    with_repetition_signals,
)
from php_ec_spark.layout import export_training_shards
from php_ec_spark.session import get_spark


def curate(
    spark,
    sf_dir: str,
    seed: int = 7,
    export_path: str | None = None,
    export_shards: int = 16,
    token_budget: int | None = None,
    budget_tokenizer: str = "ws",
):
    """Run the funnel; returns (per-stage counts dict, packed DataFrame).
    ``token_budget`` optionally caps the epoch at ~that many tokens
    (deterministic hash-order prefix, stage 6b); ``budget_tokenizer``
    picks the unit — ``'ws'`` whitespace words, ``'bpe'`` the BPE-ish
    pre-split count (approximate real-tokenizer units).

    Pinned intermediates are durable when the session has a checkpoint
    directory (``spark.sparkContext.setCheckpointDir``) — set one when
    the job runs long enough that losing an executor mid-funnel is a
    real possibility (see SCALE.md §Durability)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    funnel = {"input": docs.count()}

    # 1. exact dedup: keep each normalized text's min doc_id
    survivors = exact_dedup(docs).select("doc_id")
    docs = docs.join(survivors, "doc_id", "left_semi")
    funnel["exact_dedup"] = docs.count()

    # 2. near-dup clusters: keep the cluster representative (min doc_id)
    clusters = dedup_clusters(docs)
    docs = docs.join(
        clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
            "doc_id"
        ),
        "doc_id",
        "left_semi",
    )
    funnel["near_dedup"] = docs.count()

    # 3. substring-duplication filter: drop docs whose 13-token windows
    #    are mostly copies of other docs (cross-doc verbatim spans that
    #    survive document-level dedup — boilerplate, quoted chains)
    spans = dup_span_stats(docs, window=13, min_docs=2)
    docs = docs.join(
        spans.filter(F.col("dup_fraction") >= 0.8).select("doc_id"),
        "doc_id",
        "left_anti",
    )
    funnel["substring_dedup"] = docs.count()

    # 3b. span EXCISION for the survivors (remove_dup_spans — the Lee
    #     et al. ExactSubstr removal): docs below the drop cutoff can
    #     still carry shorter duplicated spans; excise every non-
    #     canonical copy so the quality/LM stats downstream score the
    #     deduplicated text. Rewrites text, drops no documents.
    from php_ec_spark.operators.dedup import remove_dup_spans

    rewritten = remove_dup_spans(docs, window=13).select("doc_id", F.col("text").alias("__excised"))
    docs = (
        docs.drop("text")
        .join(rewritten, "doc_id")
        .withColumnRenamed("__excised", "text")
    )
    funnel["span_excised"] = funnel["substring_dedup"]  # rewrite, no drops

    # 4. decontamination: drop docs overlapping the "benchmark" slice
    #    (stand-in: every 50th doc plays the benchmark corpus)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    hits = decontaminate(docs, bench, n=13)
    docs = docs.join(
        hits.filter(F.col("n_hits") > 0).select("doc_id"), "doc_id",
        "left_anti",
    )
    funnel["decontaminated"] = docs.count()

    # 4b. PII scrub (heuristic, curation-grade): emails / IPs / long
    #     digit runs become placeholder tokens BEFORE quality + LM stats
    #     so the scrubbed form is what gets scored and exported
    docs = scrub_pii(docs).drop("pii_matches")
    funnel["pii_scrubbed"] = funnel["decontaminated"]  # scrub drops nothing

    # 5. quality + repetition filters (Gopher-style cutoffs)
    docs = (
        with_repetition_signals(with_quality_score(docs))
        .filter(
            (F.col("quality_score") >= 0.3)
            & (F.col("dup_word_frac") <= 0.9)
            & (F.col("top_bigram_frac") <= 0.5)
        )
        .select("doc_id", "text", "lang", "source")
    )
    funnel["quality_filtered"] = docs.count()

    # 5b. LM perplexity filter (CCNet-style): drop the bits-per-token
    # tail — gibberish scores high under the corpus's own bigram model.
    # Self-trained on the post-dedup survivors (training on the raw
    # corpus would let boilerplate that dedup just removed define
    # "typical"); the cutoff keeps everything within 2× the corpus mean.
    lm = with_lm_bits(docs)
    mean_bits = (
        lm.agg(F.avg("lm_bits")).collect()[0][0]  # one bounded scalar
    )
    if mean_bits is not None:
        docs = docs.join(
            lm.filter(
                F.col("lm_bits").isNull()
                | (F.col("lm_bits") <= 2.0 * mean_bits)
            ).select("doc_id"),
            "doc_id",
        )
    funnel["lm_filtered"] = docs.count()

    # 6. stratified sample: thin the over-represented language
    docs = stratified_sample(docs, {"en": 0.8}, "lang", seed=seed).select(
        "doc_id", "text"
    )
    # 6b (optional): cap the epoch at a TOKEN budget — the unit training
    # runs are planned in — via the deterministic hash-order prefix take
    if token_budget is not None:
        from php_ec_spark.operators.sampling import sample_to_token_budget

        docs = sample_to_token_budget(
            docs, token_budget, seed=seed, tokenizer=budget_tokenizer,
        ).select("doc_id", "text")
    funnel["sampled"] = docs.count()

    # 7+8. token counts -> packed training sequences (512-token budget)
    packed = pack_sequences(docs, budget=512)
    funnel["packed_docs"] = packed.count()

    # 9. (optional) terminal write: globally shuffled, reproducible
    # training shards of the curated docs — layout.export_training_shards
    if export_path is not None:
        export_training_shards(
            docs, export_path, num_shards=export_shards, salt=seed,
            mode="overwrite",
        )
        funnel["shards_written"] = export_shards
    return funnel, packed


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="curation-pipeline-example", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    funnel, packed = curate(spark, sf_dir)
    for stage, n in funnel.items():
        print(f"{stage:>18}: {n}")
    stats = packed.agg(
        F.sum("n_tokens").alias("total_tokens"),
        (F.max("seq_last") + 1).alias("n_sequences"),
    ).collect()[0]
    print(f"{'total tokens':>18}: {stats['total_tokens']}")
    print(f"{'512-tok sequences':>18}: {stats['n_sequences']}")


if __name__ == "__main__":
    main()
