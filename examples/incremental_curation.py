"""Day-over-day curation: dedup each crawl increment against HISTORY.

examples/curation_pipeline.py sweeps one landed corpus;
examples/ingest_dedup.py gates the live stream at the door. This example
runs the third deployment shape — the one between them in every real
pipeline: a persistent dedup index over everything landed so far, probed
by each day's increment without rescanning history
(operators/dedup_index.py; same digest/band kernels as the other two, so
"duplicate" means one thing in all three places).

The loop, per increment:

  1. probe   — annotate the increment with exact_dup_of /
               near_dup_of+near_jaccard against the stored corpus
               (stored side: exchange-free bucketed scans; corpus text
               read only for verified candidates)
  2. filter  — drop exact dups; route near-dups to review or drop
  3. add     — append the survivors (idempotent: a retried step
               is a no-op)

Day 2 re-crawls some of day 1's documents, so its probe shows the index
learned day 1's survivors. Also shown: `semdedup` (embedding-space
dedup) over the embeddings table, sharing one k-means geometry with
ANN search.

Run:  python examples/incremental_curation.py [sf_dir]
      (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from php_ec_spark.operators.dedup_index import (
    dedup_index_add,
    dedup_index_build,
    dedup_index_compact,
    dedup_index_drop,
    dedup_index_probe,
)
from php_ec_spark.operators.similarity import (
    embedding_dup_probe,
    ivf_add,
    ivf_build,
    semdedup,
)
from php_ec_spark.session import get_spark


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    # NB main() never stops the session: under a test harness get_spark
    # returns the harness's shared session (and getActiveSession is
    # thread-local, so "did I create it?" cannot be answered reliably) —
    # the standalone __main__ block below owns the stop instead
    spark = get_spark(app_name="incremental-curation-example", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )

    # ---- day 0: the historical corpus, indexed once -------------------
    history = docs.filter(F.col("doc_id") < 300)
    dedup_index_build(history, "curation_ix", num_buckets=8)
    print(f"day 0: indexed {history.count()} docs")

    try:
        # ---- day 1: a crawl increment — some novel, some re-crawls ----
        novel1 = docs.filter(F.col("doc_id").between(300, 399)).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
        recrawl = history.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 2000).alias("doc_id"), "text"
        )
        day1 = novel1.unionByName(recrawl)

        probed = dedup_index_probe(spark, "curation_ix", day1, threshold=0.8)
        n_exact = probed.filter(F.col("exact_dup_of").isNotNull()).count()
        n_near = probed.filter(
            F.col("exact_dup_of").isNull() & F.col("near_dup_of").isNotNull()
        ).count()
        survivors = probed.filter(F.col("exact_dup_of").isNull()).select(
            "doc_id", "text"
        )
        print(
            f"day 1: {day1.count()} crawled -> {n_exact} exact dups dropped, "
            f"{n_near} near-dups flagged, {survivors.count()} landed"
        )
        dedup_index_add(spark, "curation_ix", survivors)

        # ---- day 2: re-crawls day-1 documents — the index learned them
        day2 = novel1.limit(25).select(
            (F.col("doc_id") + 5000).alias("doc_id"), "text"
        )
        probed2 = dedup_index_probe(spark, "curation_ix", day2)
        n_caught = probed2.filter(F.col("exact_dup_of").isNotNull()).count()
        print(
            f"day 2: {day2.count()} re-crawls of day-1 docs -> "
            f"{n_caught} caught against the updated index"
        )
        assert n_caught == 25, "day-1 survivors must be probeable on day 2"

        # ---- maintenance: squash the append generations ---------------
        report = dedup_index_compact(spark, "curation_ix")
        print(
            "compact: "
            + ", ".join(
                f"{p} {r['files_before']}->{r['files_after']} files"
                for p, r in report.items()
            )
        )
    finally:
        dedup_index_drop(spark, "curation_ix")

    # ---- embedding-space dedup over the same corpus's vectors ---------
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sd = semdedup(emb, n_clusters=8, threshold=0.95, sample_size=1000)
    kept = sd.filter("keep").count()
    groups = sd.groupBy("semdup_group").count().filter("count > 1").count()
    print(
        f"semdedup: {emb.count()} vectors -> {kept} kept "
        f"({groups} multi-member duplicate groups)"
    )

    # ---- and the INCREMENTAL form of it: probe new vectors against a
    #      persistent IVF index, append only the semantically novel ones
    import shutil
    import tempfile

    idx = tempfile.mkdtemp(prefix="ivf_curation_")
    try:
        ccol = ivf_build(emb, idx, n_clusters=8)
        inc_emb = emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )  # re-embeds of stored docs: every one should flag
        # the probe cogroups the increment against the pruned clusters
        # executor-side, so a real daily increment of any size never
        # transits the driver (shards='auto' self-sizes the skew valve
        # from live per-cluster counts when one cluster dominates). A
        # per-trigger foreachBatch caller would pass
        # verify_clusters=False (index health checked out-of-band, not
        # per micro-batch).
        probed_emb = embedding_dup_probe(
            spark, idx, inc_emb, threshold=0.999, cluster_col=ccol
        )
        novel = probed_emb.filter(F.col("dup_of").isNull()).select(
            "vec_id", "embedding"
        )
        n_dup = inc_emb.count() - novel.count()
        ivf_add(spark, idx, novel, cluster_col=ccol)
        print(
            f"embedding increment: {inc_emb.count()} vectors -> "
            f"{n_dup} semantic dups flagged, {novel.count()} appended"
        )
        assert n_dup == 50, "re-embedded vectors must all flag at cos~1"
    finally:
        shutil.rmtree(idx, ignore_errors=True)

    # ---- and the STREAMING form of it: exactly-once semantic dedup at
    #      the ingest door (journaled; batch N+1 dedups against batch N)
    import json

    from php_ec_spark.operators.similarity import streaming_embedding_ingest

    idx2 = tempfile.mkdtemp(prefix="ivf_ingest_idx_")
    stage = tempfile.mkdtemp(prefix="ivf_ingest_src_")
    landed_dir = tempfile.mkdtemp(prefix="ivf_ingest_landed_")
    ckpt = tempfile.mkdtemp(prefix="ivf_ingest_ckpt_")
    try:
        ccol2 = ivf_build(emb, idx2, n_clusters=8)
        stored = emb.filter(F.col("vec_id") < 25).collect()
        dim = len(stored[0].embedding)
        # batch 0: re-embeds of stored vectors (every one a semantic dup)
        with open(os.path.join(stage, "00.json"), "w") as f:
            for r in stored:
                f.write(json.dumps({
                    "vec_id": 200000 + r.vec_id,
                    "embedding": [float(x) for x in r.embedding],
                }) + "\n")
        # batch 1: genuinely novel directions (near-basis vectors; the
        # second coordinate keeps rows i and i+dim DISTINCT directions
        # on any dim >= 2, so the count asserts hold dataset-agnostically)
        with open(os.path.join(stage, "01.json"), "w") as f:
            for i in range(25):
                v = [0.0] * dim
                v[i % dim] = 100.0
                v[(i + 1) % dim] += 60.0 * (i // dim)
                f.write(json.dumps(
                    {"vec_id": 300000 + i, "embedding": v}
                ) + "\n")
        os.utime(os.path.join(stage, "00.json"), (1_700_000_000,) * 2)
        os.utime(os.path.join(stage, "01.json"), (1_700_000_010,) * 2)
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(stage)
        )
        q = streaming_embedding_ingest(
            spark, idx2, stream,
            landed_path=landed_dir, checkpoint=ckpt,
            threshold=0.99, nprobe=2, cluster_col=ccol2,
            available_now=True,
        )
        # the boolean return matters: a timeout would otherwise fall
        # through to the count asserts with an opaque partial state
        assert q.awaitTermination(120), "streaming ingest timed out"
        got = spark.read.parquet(landed_dir)
        n_land = got.count()
        n_jour = spark.read.parquet(f"{idx2}/ingest_log").count()
        print(
            f"streaming ingest: 50 staged -> {n_land} landed, "
            f"{50 - n_land} dropped as semantic dups "
            f"({n_jour} batches journaled)"
        )
        assert n_land == 25 and n_jour == 2
    finally:
        shutil.rmtree(idx2, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(landed_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":
    main(*sys.argv[1:])
    from pyspark.sql import SparkSession

    live = SparkSession.getActiveSession()
    if live is not None:
        live.stop()
