"""Deterministic scale-growth contract for the heavy dedup plans.

SCALE.md measures wall-time scaling (tools/scale_soak.py); wall time is
noisy, so the pinned regression here counts the DETERMINISTIC cost
drivers instead: the LSH banded-join candidate-pair count and the exact
inverted-index join volume (sum over kept shingles of c·(c−1)/2 — the
number of row comparisons the shingle equi-join performs). On a corpus
that grows by genuinely new content (the `distinct` regime: copies
share zero shingles), both must grow ~linearly with the document count.
A super-linear jump means a hot-shingle guard or band-hash regression
re-introduced an N² term — the exact class of silent scale-killer the
100 TB design cannot afford."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from php_ec_spark.operators.dedup import (
    prefix_candidates,
    with_band_keys,
    with_shingles,
)

SF_DOCS = "/root/testdata/sf0.01/documents.parquet"


def _corpus(spark, scale: int, modulus: int = 3):
    """scale× sf0.01 documents. ``modulus`` picks the growth regime:

    - 3 (`distinct`): in copy c>0 every token at position i % 3 == c % 3
      is replaced by a copy-salted token, so every 3-shingle of every
      pair of copies differs — growth is new content, planted intra-copy
      dups replicate (constant density).
    - 8 (`similar`): the same salting at i % 8 — copies stay ~0.45-Jaccard
      similar to each other, the adversarial co-occurrence regime for the
      inverted-index join."""
    docs = spark.read.parquet(SF_DOCS)
    if scale == 1:
        return docs.select("doc_id", "text")
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
    return docs.crossJoin(copies).select(
        (F.col("doc_id") * 100 + F.col("copy")).alias("doc_id"),
        F.when(F.col("copy") == 0, F.col("text")).otherwise(perturbed).alias("text"),
    )


def _lsh_candidates(docs) -> int:
    banded = with_band_keys(docs)
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .distinct()
        .count()
    )


def _jaccard_join_volume(docs, max_df: int) -> int:
    inv = with_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    per_shingle = inv.groupBy("shingle").agg(F.count("*").alias("c")).filter(
        F.col("c") <= max_df
    )
    row = per_shingle.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("vol")
    ).collect()[0]
    return int(row["vol"] or 0)


@pytest.mark.slow
def test_dedup_cost_drivers_scale_linearly(spark):
    s1, s3 = _corpus(spark, 1), _corpus(spark, 3)
    n1, n3 = s1.count(), s3.count()
    assert n3 == 3 * n1

    cand1, cand3 = _lsh_candidates(s1), _lsh_candidates(s3)
    # distinct-regime copies can only band-collide within their own copy
    # (zero shared shingles ⇒ independent signatures), so candidates
    # replicate per copy: expect ≈3×, allow 3.75× for random 64-bit
    # band-bucket collisions across copies before calling it a
    # regression. A re-introduced N² term would land at ~9×.
    assert cand1 > 0
    assert cand3 <= 3.75 * cand1, (
        f"LSH candidate pairs grew {cand3 / cand1:.2f}× for a 3× corpus "
        "(expected ~3×): banding degenerated toward all-pairs"
    )

    # max_df scales with the corpus exactly like pipe_jaccard_pairs does
    vol1 = _jaccard_join_volume(s1, max_df=max(1, int(n1 * 0.05)))
    vol3 = _jaccard_join_volume(s3, max_df=max(1, int(n3 * 0.05)))
    assert vol1 > 0
    assert vol3 <= 3.75 * vol1, (
        f"inverted-index join volume grew {vol3 / vol1:.2f}× for a 3× "
        "corpus (expected ~3× in the distinct regime): the stop-shingle "
        "guard or shingle normalization regressed"
    )


@pytest.mark.slow
def test_prefix_candidates_stay_linear_in_similar_regime(spark):
    """The adversarial pin for the round-8 prefix filter: in the
    `similar` regime (copies ~0.45-Jaccard similar — heavy shingle
    co-occurrence below the 0.8 threshold) the PLAIN inverted-index join
    volume grows super-linearly (~8× for a 3× corpus here — SCALE.md's
    alpha_hi 1.65 was this term), while the prefix+length+positional
    candidate set must keep replicating per copy (~3×): sub-threshold
    cross-copy pairs never share a PREFIX shingle or fail the positional
    overlap cap. A super-linear jump means the prefix bound, the global
    order, or the positional filter regressed."""
    s1, s3 = _corpus(spark, 1, modulus=8), _corpus(spark, 3, modulus=8)
    n1, n3 = s1.count(), s3.count()
    assert n3 == 3 * n1

    def cands(docs, n_docs):
        _, cand = prefix_candidates(
            docs, threshold=0.8, max_df=max(1, int(n_docs * 0.05))
        )
        return cand.count()

    c1, c3 = cands(s1, n1), cands(s3, n3)
    assert c1 > 0
    assert c3 <= 3.75 * c1, (
        f"prefix candidates grew {c3 / c1:.2f}× for a 3× similar-regime "
        "corpus (expected ~3×): the prefix filter degenerated toward the "
        "plain inverted-index join"
    )
    # and the plain join volume really IS super-linear here — the pin
    # above is meaningful (if this ever flips to ~3×, the adversarial
    # regime no longer stresses the index and the test should move)
    vol1 = _jaccard_join_volume(s1, max_df=max(1, int(n1 * 0.05)))
    vol3 = _jaccard_join_volume(s3, max_df=max(1, int(n3 * 0.05)))
    assert vol3 >= 5.0 * vol1


def _cep_stream(n_events: int, seed: int = 7):
    """Mixed single-key workload at constant match density: completing
    two-step sequences, arming-never-completing sequences (the dead-
    instance flood class), and noise the rules ignore. 1 s spacing so
    the 10 s timeout interleaves with completions."""
    import random

    rng = random.Random(seed)
    evs = []
    for i in range(n_events):
        r = rng.random()
        etype = "a" if r < 0.3 else ("b" if r < 0.5 else f"z{rng.randrange(3)}")
        evs.append((i, (i + 1) * 1_000_000_000, etype, 1.0))
    return evs


def test_cep_core_touches_scale_linearly():
    """The state-machine growth contract (no Spark): on a single key
    whose event stream grows 3×, the total instances EXAMINED by
    handle() (EngineCore.touches — the deterministic hot-loop cost
    driver) must grow ~3×, i.e. per-event work stays O(1). Super-linear
    growth means live/dead instances are accumulating across the replay
    — the exact class the bucket dispatch + periodic compaction exists
    to prevent (a pre-round-7 flat scan with a never-completing rule
    lands at ~N²/const here)."""
    from php_ec_spark.engine.core import EngineCore
    from php_ec_spark.rules import Rule

    def run(n):
        rules = [
            Rule("pair", (("a",), ("b",)), key="k", timeout=10.0),
            # arms on every 'a', waits for a type that never arrives —
            # the timeout flood that exercises heap firing + compaction
            Rule("never", (("a",), ("missing",)), key="k", timeout=10.0),
        ]
        core = EngineCore(rules, "k1")
        for ev in _cep_stream(n):
            core.handle(ev)
        core.finish(n * 1_000_000_000)
        return core.touches, len(core.rows)

    t1, r1 = run(3_000)
    t3, r3 = run(9_000)
    assert t1 > 0 and r1 > 0
    assert t3 <= 3.75 * t1, (
        f"EngineCore touches grew {t3 / t1:.2f}× for a 3× event stream "
        "(expected ~3×): instances are accumulating across the replay"
    )
    # emissions track the stream linearly too (constant match density)
    assert 2.5 * r1 <= r3 <= 3.5 * r1


@pytest.mark.slow
def test_index_probe_candidates_are_increment_bound(spark):
    """The incremental-index scale contract: growing the CORPUS by
    genuinely new content (distinct regime — added copies share zero
    shingles with copy 0) must leave a fixed increment's probe candidate
    volume ~UNCHANGED. Probe cost is O(|increment| + |candidates|) plus
    a bucketed index scan; if candidates grew with corpus size here,
    probing a daily crawl against a year of history would degrade into
    a corpus-scale job — the exact regression this pins against. Exact
    matches must stay constant too (new distinct content can't absorb
    the increment's digests)."""
    from php_ec_spark.operators.dedup import with_band_keys
    from php_ec_spark.operators.dedup_index import (
        dedup_index_build,
        dedup_index_drop,
        dedup_index_probe,
    )

    s1, s3 = _corpus(spark, 1), _corpus(spark, 3)
    # fixed increment: exact re-crawls of copy-0 texts under fresh ids
    # (copy 0 is the unperturbed original in both corpora)
    inc = (
        spark.read.parquet(SF_DOCS)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )

    def probe_counts(corpus, name):
        dedup_index_build(corpus, name, num_buckets=4)
        try:
            cand = (
                with_band_keys(inc)
                .withColumnRenamed("doc", "inc_doc")
                .join(
                    spark.table(f"{name}_bands").withColumnRenamed(
                        "doc", "idx_doc"
                    ),
                    ["band", "bh"],
                )
                .select("inc_doc", "idx_doc")
                .distinct()
                .count()
            )
            exact = (
                dedup_index_probe(spark, name, inc)
                .filter(F.col("exact_dup_of").isNotNull())
                .count()
            )
            return cand, exact
        finally:
            dedup_index_drop(spark, name)

    c1, e1 = probe_counts(s1, "sg_ix1")
    c3, e3 = probe_counts(s3, "sg_ix3")
    assert c1 > 0 and e1 == inc.count()  # every re-crawl exact-matches
    assert e3 == e1, "exact probe matches must not change with new content"
    # allow 25% for random 64-bit band-bucket collisions against the new
    # copies; candidate growth tracking corpus size (~3x) is the failure
    assert c3 <= 1.25 * c1, (
        f"probe candidates grew {c3 / c1:.2f}x for a 3x corpus of distinct "
        "content (expected ~1x): probe cost is no longer increment-bound"
    )


@pytest.mark.slow
def test_remove_dup_spans_work_tracks_duplicated_content(spark):
    """ExactSubstr excision's scale contract: in the distinct growth
    regime (every cross-copy 13-token window differs) the duplicated
    content replicates per copy at constant density, so the operator's
    real work — affected documents and removed tokens, the only part
    that runs token-level rows — must grow ~linearly with the corpus
    (×3 for a 3× corpus), never super-linearly; and untouched documents
    must come back byte-verbatim regardless of corpus size."""
    from php_ec_spark.operators.dedup import remove_dup_spans

    s1, s3 = _corpus(spark, 1), _corpus(spark, 3)

    def measure(corpus):
        out = remove_dup_spans(corpus, window=13)
        row = out.agg(
            F.sum(F.when(F.col("tokens_removed") > 0, 1).otherwise(0)).alias("a"),
            F.sum("tokens_removed").alias("t"),
        ).head()
        return int(row.a or 0), int(row.t or 0)

    a1, t1 = measure(s1)
    a3, t3 = measure(s3)
    assert a1 > 0, "sf0.01 plants duplicated spans; none excised"
    # constant per-copy density: ~3x, never super-linear (cross-copy
    # windows all differ in this regime, so no new dup structure)
    assert 2.4 * a1 <= a3 <= 3.6 * a1, (a1, a3)
    assert 2.4 * t1 <= t3 <= 3.6 * t1, (t1, t3)


@pytest.mark.parametrize("synth, name, table", [
    ("synthesize", "m3x1", "documents"),
    ("synthesize_events", "ev_x1", "events"),
    ("synthesize_embeddings", "emb_x1", "embeddings"),
])
def test_lens_rebuilds_unfinished_synthesized_dir(spark, tmp_path, synth, name, table):
    """A write killed mid-way leaves parquet without a _SUCCESS marker;
    the scale lens (tools/scale_soak.py) must rebuild it, never time the
    truncated corpus."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import scale_soak

    sf_dir = os.path.dirname(SF_DOCS)
    half = tmp_path / name / f"{table}.parquet"
    half.mkdir(parents=True)
    (half / "part-00000-killed.parquet").write_bytes(b"truncated")
    getattr(scale_soak, synth)(spark, sf_dir, 1, str(tmp_path))
    assert (half / "_SUCCESS").exists()
    want = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).count()
    assert spark.read.parquet(str(half)).count() == want
