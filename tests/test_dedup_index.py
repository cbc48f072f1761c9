"""Persistent incremental dedup index: probe an increment against a
stored corpus with no corpus rescan, no stored-side shuffle; appends keep
the index invariants and are idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from php_ec_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from php_ec_spark.operators.dedup_index import (
    dedup_index_add,
    dedup_index_build,
    dedup_index_drop,
    dedup_index_probe,
)

SF = "/root/testdata/sf0.001"
PARAMS = dict(num_hashes=64, bands=16, n=3, num_buckets=4)


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def split(spark, docs):
    """Index on the first ~60% of docs, increment = the rest + crafted
    rows: an exact copy, a whitespace/case variant, a near copy, a novel
    doc, and a NULL text."""
    base = docs.filter(F.col("doc_id") < 300)
    rest = docs.filter(F.col("doc_id") >= 300)
    sample = {r.doc_id: r.text for r in base.filter(F.col("doc_id") < 5).collect()}
    src_id = min(k for k, v in sample.items() if v and len(v.split()) > 20)
    src = sample[src_id]
    toks = src.split()
    near = " ".join(toks[:-2] + ["zq1", "zq2"])  # perturb 2 trailing tokens
    crafted = docs.sparkSession.createDataFrame(
        [
            (90001, src),
            (90002, "  " + src.upper() + "  "),
            (90003, near),
            (90004, "totally novel document zz yy xx ww vv uu tt ss rr qq"),
            (90005, None),
        ],
        "doc_id long, text string",
    )
    inc = rest.unionByName(crafted).localCheckpoint(eager=True)
    dedup_index_build(base, "dix", **PARAMS)
    yield {"base": base, "inc": inc, "src_id": src_id}
    dedup_index_drop(docs.sparkSession, "dix")


class TestProbe:
    def test_exact_near_and_novel_annotations(self, spark, split):
        out = dedup_index_probe(spark, "dix", split["inc"], threshold=0.6)
        rows = {r.doc_id: r for r in out.filter(F.col("doc_id") >= 90000).collect()}
        # exact copy and normalization variant hit the stored survivor
        assert rows[90001].exact_dup_of == split["src_id"]
        assert rows[90002].exact_dup_of == split["src_id"]
        # near copy: not exact, but a verified near-dup of SOME stored doc
        # (the testdata plants near-dup families, so the best match may
        # beat the perturbation source — probe picks the max-jaccard one)
        assert rows[90003].exact_dup_of is None
        assert rows[90003].near_dup_of is not None
        assert rows[90003].near_dup_of < 300  # a stored doc, not increment
        assert 0.6 <= rows[90003].near_jaccard < 1.0
        # novel doc: untouched
        assert rows[90004].exact_dup_of is None
        assert rows[90004].near_dup_of is None
        # NULL text digests to NULL → never matches the index
        assert rows[90005].exact_dup_of is None
        assert rows[90005].text_hash is None

    def test_probe_preserves_increment_rowcount(self, spark, split):
        out = dedup_index_probe(spark, "dix", split["inc"], threshold=0.6)
        assert out.count() == split["inc"].count()

    def test_exact_layer_matches_batch_sweep(self, spark, split):
        """Index-count + probe-survivor count == batch exact_dedup over the
        union corpus: the incremental path and the nightly sweep agree on
        how many distinct texts exist (NULL digests excluded — the batch
        groupBy pools NULLs, the index never matches them)."""
        base, inc = split["base"], split["inc"]
        probed = dedup_index_probe(spark, "dix", inc, threshold=0.6)
        survivors = probed.filter(
            F.col("exact_dup_of").isNull() & F.col("text_hash").isNotNull()
        )
        # increment-internal duplicates are out of probe scope: collapse
        n_inc_new = survivors.select("text_hash").distinct().count()
        n_index = spark.table("dix_digests").count()
        union = base.unionByName(inc)
        n_union = (
            exact_dedup(union).filter(F.col("text_hash").isNotNull()).count()
        )
        assert n_index + n_inc_new == n_union

    def test_near_layer_finds_batch_cross_pairs(self, spark, split):
        """Every cross-split near-dup pair the batch minhash_lsh_pairs job
        finds over the union is surfaced by the probe (same kernels, same
        verify formula → parity by construction)."""
        base, inc = split["base"], split["inc"]
        union = base.unionByName(inc)
        pairs = minhash_lsh_pairs(
            union, threshold=0.6,
            num_hashes=PARAMS["num_hashes"], bands=PARAMS["bands"],
            n=PARAMS["n"],
        ).collect()
        base_ids = {r.doc_id for r in base.collect()}
        inc_ids = {r.doc_id for r in inc.collect()}
        cross = {
            (a, b) if a in base_ids else (b, a)
            for a, b in ((r.doc_a, r.doc_b) for r in pairs)
            if (a in base_ids) != (b in base_ids)
        }
        probed = {
            r.doc_id: r
            for r in dedup_index_probe(spark, "dix", inc, threshold=0.6)
            .filter(F.col("near_dup_of").isNotNull())
            .collect()
        }
        for idx_doc, inc_doc in cross:
            assert inc_doc in probed, (idx_doc, inc_doc)
            # the probe's pick is SOME stored doc at >= threshold (ties /
            # better matches allowed), not necessarily this exact partner
            assert probed[inc_doc].near_jaccard >= 0.6


class TestAdd:
    def test_add_then_probe_sees_new_docs(self, spark, docs):
        base = docs.filter(F.col("doc_id") < 100)
        nov = spark.createDataFrame(
            [(80001, "fresh crawl text aa bb cc dd ee ff gg hh ii jj")],
            "doc_id long, text string",
        )
        dedup_index_build(base, "dax", **PARAMS)
        try:
            before = dedup_index_probe(spark, "dax", nov).head()
            assert before.exact_dup_of is None
            dedup_index_add(spark, "dax", nov)
            after = dedup_index_probe(spark, "dax", nov).head()
            assert after.exact_dup_of == 80001
            assert after.near_dup_of == 80001  # re-crawl self-signal
        finally:
            dedup_index_drop(spark, "dax")

    def test_add_is_idempotent_and_digest_unique(self, spark, docs):
        base = docs.filter(F.col("doc_id") < 100)
        dedup_index_build(base, "dix_add", **PARAMS)
        try:
            inc = spark.createDataFrame(
                [
                    (70001, "one two three four five six seven"),
                    (70002, "one  TWO three four five six seven"),  # same digest
                    (70003, "other text entirely for this row here"),
                ],
                "doc_id long, text string",
            )
            dedup_index_add(spark, "dix_add", inc)
            counts1 = {
                t: spark.table(f"dix_add_{t}").count()
                for t in ("digests", "docs", "bands")
            }
            # one digest row for the 70001/70002 pair, survivor = min id
            surv = (
                spark.table("dix_add_digests")
                .filter(F.col("doc_id").isin(70001, 70002))
                .collect()
            )
            assert [r.doc_id for r in surv] == [70001]
            assert counts1["docs"] == 100 + 3  # all rows retained as docs
            # a retried orchestration step adds nothing twice
            dedup_index_add(spark, "dix_add", inc)
            counts2 = {
                t: spark.table(f"dix_add_{t}").count()
                for t in ("digests", "docs", "bands")
            }
            assert counts1 == counts2
        finally:
            dedup_index_drop(spark, "dix_add")


class TestKeyCols:
    def test_multi_key_digest_and_null_key_matching(self, spark):
        base = spark.createDataFrame(
            [(1, "u1", "text a"), (2, None, "text b")],
            "doc_id long, url string, text string",
        )
        inc = spark.createDataFrame(
            [
                (11, "u1", "DIFFERENT text"),   # same url → dup
                (12, None, "also different"),   # NULL url == NULL url
                (13, "u9", "text a"),           # same text, new url → novel
            ],
            "doc_id long, url string, text string",
        )
        dedup_index_build(base, "dkx", key_cols=["url"], near=False, **PARAMS)
        try:
            rows = {
                r.doc_id: r
                for r in dedup_index_probe(spark, "dkx", inc).collect()
            }
            assert rows[11].exact_dup_of == 1
            assert rows[12].exact_dup_of == 2  # NULL key encodes, matches
            assert rows[13].exact_dup_of is None
        finally:
            dedup_index_drop(spark, "dkx")


class TestPlanShape:
    def test_bucketing_removes_stored_side_exchanges(self, spark, docs):
        """Differential proof that the stored-side scans are shuffle-free
        BECAUSE of the bucketed layout: the same probe planned with
        bucketed reads disabled needs strictly more exchanges."""
        base = docs.filter(F.col("doc_id") < 200)
        inc = docs.filter(F.col("doc_id") >= 400)
        dedup_index_build(base, "dpx", **PARAMS)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            from php_ec_spark.operators.dedup import with_band_keys

            def n_exchanges():
                # final probe plan (the candidate stage is pinned inside
                # probe, so its band join is measured separately below)
                plan = (
                    dedup_index_probe(spark, "dpx", inc, threshold=0.6)
                    ._jdf.queryExecution().executedPlan().toString()
                )
                bands = (
                    with_band_keys(inc, num_hashes=PARAMS["num_hashes"],
                                   bands=PARAMS["bands"], n=PARAMS["n"])
                    .withColumnRenamed("doc", "inc_doc")
                    .join(spark.table("dpx_bands"), ["band", "bh"])
                    ._jdf.queryExecution().executedPlan().toString()
                )
                return (plan + bands).count("Exchange hashpartitioning")

            bucketed = n_exchanges()
            spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
            unbucketed = n_exchanges()
            # three stored tables touched (digests, bands, docs); each one
            # shuffle-free only under the bucketed layout. The increment-
            # side verify joins intentionally keep the broadcast semi-
            # prune, so the delta is exactly the stored-side scans.
            assert bucketed + 3 <= unbucketed, (bucketed, unbucketed)
        finally:
            spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            dedup_index_drop(spark, "dpx")

    def test_exact_only_probe_single_increment_exchange(self, spark, docs):
        """near=False index: the whole probe is ONE hash exchange (the
        increment's digests) against the bucketed digest table."""
        base = docs.filter(F.col("doc_id") < 200)
        inc = docs.filter(F.col("doc_id") >= 400)
        dedup_index_build(base, "dex", near=False, **PARAMS)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = (
                dedup_index_probe(spark, "dex", inc)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange hashpartitioning") == 1, plan
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            dedup_index_drop(spark, "dex")


class TestReliableAdd:
    def test_add_under_checkpoint_dir_matches_local(
        self, spark, docs, checkpoint_dir
    ):
        """dedup_index_add pins the filtered increment with truncated
        lineage either way (a lost block recomputed against the
        half-appended store would drop rows); under a checkpoint dir the
        pin is a replicated checkpoint() and the appended index is
        identical to the localCheckpoint one."""
        base = docs.filter(F.col("doc_id") < 100)
        inc = spark.createDataFrame(
            [(60001, "reliably appended fresh text aa bb cc dd"),
             (60002, "a second fresh text ee ff gg hh ii")],
            "doc_id long, text string",
        ).unionByName(
            # an already-stored id: the add's id-level anti-join skips it
            base.filter(F.col("doc_id") == 1).select("doc_id", "text")
        )

        def index_rows(name):
            return {
                part: sorted(
                    (tuple(r) for r in spark.table(f"{name}_{part}").collect()),
                    key=repr,
                )
                for part in ("digests", "bands", "docs")
            }

        try:
            dedup_index_build(base, "drl", **PARAMS)
            dedup_index_add(spark, "drl", inc)
            dedup_index_build(base, "drx", **PARAMS)
            with checkpoint_dir() as ckpt:
                dedup_index_add(spark, "drx", inc)
                assert any(p.is_file() for p in ckpt.rglob("*"))
            assert index_rows("drx") == index_rows("drl")
            got = dedup_index_probe(
                spark, "drx", inc.filter(F.col("doc_id") == 60001)
            ).head()
            assert got.exact_dup_of == 60001
        finally:
            dedup_index_drop(spark, "drl")
            dedup_index_drop(spark, "drx")


class TestStreamingIngest:
    def test_ingest_through_index_is_exactly_once_and_dedups(
        self, spark, tmp_path
    ):
        """File-replayed micro-batches through streaming_index_ingest:
        cross-batch dups are dropped against the growing index,
        intra-batch digest repeats collapse to the min id, survivors
        land under batch=<id> partitions, and the index ends consistent
        with the landed corpus."""
        import json as _json
        import os

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        src = tmp_path / "src"
        src.mkdir()
        mtime = [1_700_000_000]

        def batch(fname, rows):
            p = src / fname
            with open(p, "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            os.utime(p, (mtime[0], mtime[0]))
            mtime[0] += 10

        batch("01.json", [
            {"doc_id": 1, "text": "alpha beta gamma"},
            {"doc_id": 2, "text": "delta epsilon zeta"},
        ])
        batch("02.json", [
            {"doc_id": 3, "text": "ALPHA  beta gamma"},   # dup of 1 (index)
            {"doc_id": 4, "text": "eta theta iota"},      # novel
            {"doc_id": 5, "text": "eta  THETA iota"},     # intra-batch dup of 4
        ])
        batch("03.json", [
            {"doc_id": 6, "text": "eta theta iota"},      # dup of 4 (index)
            {"doc_id": 7, "text": "kappa lambda mu"},     # novel
        ])

        dedup_index_build(
            spark.createDataFrame([], "doc_id long, text string"),
            "strix", **PARAMS,
        )
        landed = str(tmp_path / "landed")
        try:
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )
            q = streaming_index_ingest(
                spark, "strix", stream,
                landed_path=landed,
                checkpoint=str(tmp_path / "ckpt"),
                available_now=True,
            )
            q.awaitTermination(120)
            got = spark.read.parquet(landed)
            assert {r.doc_id for r in got.collect()} == {1, 2, 4, 7}
            # batch partition column = the audit trail
            assert "batch" in got.columns
            # index digest table consistent with the landed corpus
            assert spark.table("strix_digests").count() == 4
            # landed corpus itself contains no duplicate digests
            from php_ec_spark.operators.dedup import exact_dedup

            assert exact_dedup(got).filter("dup_count > 1").count() == 0
        finally:
            dedup_index_drop(spark, "strix")

    @pytest.mark.slow
    def test_jobs_per_trigger_is_pinned(self, spark, tmp_path):
        """Round-12 verdict #4, text-door half (the embedding door's pin
        lives in test_pipeline_ops): the per-micro-batch Spark-job count
        must be FLAT across batches — the streaming analog of the batch
        plan census, catching a per-batch estimate/verify job creeping
        into the hot loop. Marginal-batch measurement against the
        DAGScheduler job counter, identically-shaped all-novel batches,
        fresh index per run; AQE off so one action = one job (with AQE
        on, stage-materialization jobs shift with data sizes and mask
        the action count)."""
        import json as _json
        import os

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        def n_jobs():
            return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

        def run(tag, n_batches):
            name = f"jpt_{tag}"
            dedup_index_build(
                spark.createDataFrame([], "doc_id long, text string"),
                name, **PARAMS,
            )
            src = tmp_path / f"jsrc_{tag}"
            src.mkdir()
            for b in range(n_batches):
                p = src / f"{b:02d}.json"
                with open(p, "w") as f:
                    for i in range(2):
                        f.write(_json.dumps({
                            "doc_id": 100 + b * 10 + i,
                            "text": f"novel doc b{b} i{i} "
                                    + " ".join(f"w{b}{i}{j}" for j in range(8)),
                        }) + "\n")
                os.utime(p, (1_700_000_000 + b * 10,) * 2)
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )
            j0 = n_jobs()
            try:
                q = streaming_index_ingest(
                    spark, name, stream,
                    landed_path=str(tmp_path / f"jl_{tag}"),
                    checkpoint=str(tmp_path / f"jc_{tag}"),
                    available_now=True,
                )
                assert q.awaitTermination(120)
                return n_jobs() - j0
            finally:
                dedup_index_drop(spark, name)

        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            j1, j2, j3 = run("a", 1), run("b", 2), run("c", 3)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        m2, m3 = j2 - j1, j3 - j2
        assert m2 == m3, (
            f"jobs per trigger drifted between batches: {m2} vs {m3} "
            f"(totals {j1}/{j2}/{j3}) — a per-batch cost crept in"
        )
        # budget re-pinned deliberately on any justified change, never
        # silently (measured 10 on pyspark 4.1.2, 4 cores): the survivor
        # pin over the exact probe, the landed write, and the add's
        # fresh-id pin and bucketed appends. The meta table is read once
        # at stream start; at 12 jobs each trigger read it twice more
        # (probe and add).
        assert m3 <= 10, f"{m3} jobs per trigger, budget 10 (measured 10)"

    def test_drop_near_requires_near_index(self, spark, tmp_path):
        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        dedup_index_build(
            spark.createDataFrame([], "doc_id long, text string"),
            "strixe", near=False, **PARAMS,
        )
        try:
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .json(str(tmp_path))
            )
            with pytest.raises(ValueError, match="near=True"):
                streaming_index_ingest(
                    spark, "strixe", stream,
                    landed_path=str(tmp_path / "l"),
                    checkpoint=str(tmp_path / "c"),
                    drop_near=True,
                )
        finally:
            dedup_index_drop(spark, "strixe")

    def test_restart_resumes_from_checkpoint(self, spark, tmp_path):
        """Stop after draining, drop MORE files, restart with the SAME
        checkpoint: only the new files process (batch ids continue), the
        earlier landed partitions are untouched, and the new batch still
        dedups against everything the previous run indexed."""
        import json as _json
        import os

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        src = tmp_path / "src"
        src.mkdir()
        mtime = [1_700_000_000]

        def batch(fname, rows):
            p = src / fname
            with open(p, "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            os.utime(p, (mtime[0], mtime[0]))
            mtime[0] += 10

        def run():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )
            q = streaming_index_ingest(
                spark, "strir", stream,
                landed_path=str(tmp_path / "landed"),
                checkpoint=str(tmp_path / "ckpt"),
                available_now=True,
            )
            q.awaitTermination(120)

        batch("01.json", [{"doc_id": 1, "text": "alpha beta gamma"}])
        dedup_index_build(
            spark.createDataFrame([], "doc_id long, text string"),
            "strir", **PARAMS,
        )
        try:
            run()
            landed1 = {
                (r.doc_id, r.batch)
                for r in spark.read.parquet(str(tmp_path / "landed")).collect()
            }
            assert landed1 == {(1, 0)}
            # second run: one dup of run 1 (must be caught via the INDEX,
            # not in-memory state — the query object is new) + one novel
            batch("02.json", [
                {"doc_id": 2, "text": "ALPHA beta  gamma"},
                {"doc_id": 3, "text": "nu xi omicron"},
            ])
            run()
            landed2 = {
                (r.doc_id, r.batch)
                for r in spark.read.parquet(str(tmp_path / "landed")).collect()
            }
            assert landed2 == {(1, 0), (3, 1)}  # batch ids continued
            assert spark.table("strir_digests").count() == 2
        finally:
            dedup_index_drop(spark, "strir")


class TestCompact:
    @pytest.mark.slow
    def test_compact_shrinks_files_and_preserves_probes(self, spark, docs):
        """Five small appends leave five file generations per table;
        compaction rewrites each table to one generation with identical
        probe answers (bucket spec and sort from the meta table)."""
        from php_ec_spark.operators.dedup_index import dedup_index_compact

        base = docs.filter(F.col("doc_id") < 100)
        dedup_index_build(base, "dcx", **PARAMS)
        try:
            for i in range(5):
                inc = spark.createDataFrame(
                    [(50000 + i, f"increment number {i} text aa bb cc")],
                    "doc_id long, text string",
                )
                dedup_index_add(spark, "dcx", inc)
            probe_inc = spark.createDataFrame(
                [(91, "probe only zz"), (92, "increment number 3 text aa bb cc")],
                "doc_id long, text string",
            )
            before = {
                r.doc_id: (r.exact_dup_of, r.near_dup_of)
                for r in dedup_index_probe(spark, "dcx", probe_inc).collect()
            }
            counts_before = {
                t: spark.table(f"dcx_{t}").count()
                for t in ("digests", "bands", "docs")
            }
            report = dedup_index_compact(spark, "dcx")
            for part, r in report.items():
                assert r["files_after"] < r["files_before"], (part, r)
                assert r["files_after"] <= PARAMS["num_buckets"]
            counts_after = {
                t: spark.table(f"dcx_{t}").count()
                for t in ("digests", "bands", "docs")
            }
            assert counts_before == counts_after
            after = {
                r.doc_id: (r.exact_dup_of, r.near_dup_of)
                for r in dedup_index_probe(spark, "dcx", probe_inc).collect()
            }
            assert before == after
            assert after[92] == (50003, 50003)  # appended doc still found
            # the compacted layout still appends + probes normally
            dedup_index_add(
                spark, "dcx",
                spark.createDataFrame(
                    [(50010, "post compact addition dd ee ff")],
                    "doc_id long, text string",
                ),
            )
            got = dedup_index_probe(
                spark, "dcx",
                spark.createDataFrame(
                    [(93, "post compact addition dd ee ff")],
                    "doc_id long, text string",
                ),
            ).head()
            assert got.exact_dup_of == 50010
        finally:
            dedup_index_drop(spark, "dcx")


class TestProbeDifferential:
    """Differential fuzz: dedup_index_probe against a pure-Python
    reference over randomized small corpora (same style as the engine's
    test_core_differential). The reference recomputes the exact layer
    from first principles (md5 of normalized text, min-id survivor) and
    the near layer through the SHARED band kernel + an independent
    shingle-Jaccard implementation, so any Spark-side join/window/
    bucketing mistake shows up as a disagreement."""

    NH, BANDS, N, THR = 64, 16, 3, 0.5

    def _gen(self, seed):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]

        def doc():
            return " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 14)))

        base = [(i, doc()) for i in range(30)]
        inc = []
        for j in range(15):
            r = rng.random()
            if r < 0.25:  # exact or case/space variant of a base doc
                t = rng.choice(base)[1]
                if rng.random() < 0.5:
                    t = "  " + t.upper().replace(" ", "  ") + " "
            elif r < 0.5:  # perturb a base doc's tail (near-dup shape)
                toks = rng.choice(base)[1].split()
                toks[-1:] = [rng.choice(vocab), rng.choice(vocab)]
                t = " ".join(toks)
            elif r < 0.6:
                t = rng.choice([None, ""])  # degenerate docs
            else:
                t = doc()
            inc.append((100 + j, t))
        return base, inc

    def _py_reference(self, base, inc):
        import hashlib
        import re

        import pandas as pd

        from php_ec_spark.operators.dedup import _band_hash_matrix

        def norm(t):
            return re.sub(r"\s+", " ", t.strip().lower())

        def shingle_set(t):
            toks = re.split(r"\s+", (t or "").strip(" "))
            if len(toks) < self.N:
                return {" ".join(toks)}
            return {
                " ".join(toks[i : i + self.N])
                for i in range(len(toks) - self.N + 1)
            }

        digests = {}
        for i, t in sorted(base):
            if t is None:
                continue
            d = hashlib.md5(norm(t).encode()).hexdigest()
            digests.setdefault(d, i)
        bb = _band_hash_matrix(
            pd.Series([t for _, t in base]), self.N, self.NH, self.BANDS
        )
        ib = _band_hash_matrix(
            pd.Series([t for _, t in inc]), self.N, self.NH, self.BANDS
        )
        out = {}
        for j, (iid, itext) in enumerate(inc):
            exact = (
                digests.get(hashlib.md5(norm(itext).encode()).hexdigest())
                if itext is not None
                else None
            )
            matches = []
            ish = shingle_set(itext)
            for b, (bid, btext) in enumerate(base):
                if not any(ib[j, k] == bb[b, k] for k in range(self.BANDS)):
                    continue  # no band collision -> never a candidate
                bsh = shingle_set(btext)
                jac = round(len(ish & bsh) / len(ish | bsh), 6)
                if jac >= self.THR:
                    matches.append((bid, jac))
            best = max(matches, key=lambda m: (m[1], -m[0]), default=None)
            out[iid] = (exact, best[0] if best else None,
                        best[1] if best else None, frozenset(matches))
        return out

    @pytest.mark.parametrize("seed", [0, 1, 2, 3])
    @pytest.mark.slow
    def test_probe_matches_python_reference(self, spark, seed):
        base, inc = self._gen(seed)
        name = f"dfz{seed}"
        dedup_index_build(
            spark.createDataFrame(base, "doc_id long, text string"),
            name,
            num_hashes=self.NH, bands=self.BANDS, n=self.N, num_buckets=4,
        )
        try:
            inc_df = spark.createDataFrame(inc, "doc_id long, text string")
            got = {
                r.doc_id: (r.exact_dup_of, r.near_dup_of, r.near_jaccard)
                for r in dedup_index_probe(
                    spark, name, inc_df, threshold=self.THR
                ).collect()
            }
            ref = self._py_reference(base, inc)
            assert got == {
                k: v[:3] for k, v in ref.items()
            }, f"seed {seed}"
            # matches='all': the FULL verified match set per doc (one
            # NULL row for docs without matches), same exact layer
            allm = {}
            exacts = {}
            for r in dedup_index_probe(
                spark, name, inc_df, threshold=self.THR, matches="all"
            ).collect():
                exacts[r.doc_id] = r.exact_dup_of
                s = allm.setdefault(r.doc_id, set())
                if r.near_dup_of is not None:
                    s.add((r.near_dup_of, r.near_jaccard))
            assert exacts == {k: v[0] for k, v in ref.items()}, f"seed {seed}"
            assert allm == {
                k: set(v[3]) for k, v in ref.items()
            }, f"seed {seed}"
        finally:
            dedup_index_drop(spark, name)


class TestDropNear:
    @pytest.mark.slow
    def test_drop_near_drops_verified_near_dups_at_ingest(
        self, spark, tmp_path
    ):
        import json as _json

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        base = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        dedup_index_build(base, "strin", **PARAMS)
        src = tmp_path / "src"
        src.mkdir()
        with open(src / "01.json", "w") as f:
            # near-dup of doc 1 (last token changed: J ~ 0.78, band
            # miss probability ~7e-4 at 16x4) + a novel doc
            f.write(_json.dumps({
                "doc_id": 10,
                "text": "the quick brown fox jumps over the lazy dog now",
            }) + "\n")
            f.write(_json.dumps({
                "doc_id": 11, "text": "completely different content here",
            }) + "\n")
        try:
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .json(str(src))
            )
            q = streaming_index_ingest(
                spark, "strin", stream,
                landed_path=str(tmp_path / "landed"),
                checkpoint=str(tmp_path / "ckpt"),
                threshold=0.5,
                drop_near=True,
                available_now=True,
            )
            q.awaitTermination(120)
            landed = {
                r.doc_id
                for r in spark.read.parquet(str(tmp_path / "landed")).collect()
            }
            assert landed == {11}  # near-dup 10 dropped, novel 11 landed
        finally:
            dedup_index_drop(spark, "strin")

    @pytest.mark.slow
    def test_id_reuse_does_not_exempt_matches_to_old_stored_text(
        self, spark, tmp_path
    ):
        """'Mate' means id AND text: a batch that re-crawls a STORED
        doc_id with different text must not exempt another doc's genuine
        near-match to the OLD text behind that id. Doc 42 near-matches
        stored doc 7's text; the batch also carries a new, unrelated
        fetch under id 7 — with an id-only mate rule 42 would land (its
        match target '7' is in the batch); with id+text it drops. Replay
        must reproduce the same survivor set (the landed id-7 row keeps
        its NEW text, the stored doc keeps the old one — id-level add
        idempotence)."""
        import json as _json

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        t_old = " ".join(f"w{i:02d}" for i in range(1, 21))
        t_near = " ".join(t_old.split()[:-1] + ["zq"])  # J = 17/19 vs t_old
        t_new = "completely different re-crawled content for this url now"
        base = spark.createDataFrame(
            [(7, t_old)], "doc_id long, text string"
        )
        dedup_index_build(base, "didr", **PARAMS)
        src = tmp_path / "src"
        src.mkdir()
        with open(src / "01.json", "w") as f:
            f.write(_json.dumps({"doc_id": 7, "text": t_new}) + "\n")
            f.write(_json.dumps({"doc_id": 42, "text": t_near}) + "\n")
        landed = str(tmp_path / "landed")
        try:
            def run(ckpt):
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .json(str(src))
                )
                q = streaming_index_ingest(
                    spark, "didr", stream,
                    landed_path=landed,
                    checkpoint=str(tmp_path / ckpt),
                    threshold=0.5,
                    drop_near=True,
                    available_now=True,
                )
                q.awaitTermination(120)

            run("ckpt1")
            first = {
                r.doc_id for r in spark.read.parquet(landed).collect()
            }
            assert first == {7}, (
                "42 near-dups STORED content; reusing id 7 in the batch "
                "must not exempt it"
            )
            run("ckpt2")  # full replay on a fresh checkpoint
            second = {
                r.doc_id for r in spark.read.parquet(landed).collect()
            }
            assert second == {7}
            # old text stayed behind id 7 (id-level idempotence), and
            # both digests (old + re-crawl) are indexed
            assert spark.table("didr_docs").count() == 1
            assert spark.table("didr_digests").count() == 2
        finally:
            dedup_index_drop(spark, "didr")

    @pytest.mark.slow
    def test_near_self_recrawl_drops_but_exact_recrawl_lands(
        self, spark, tmp_path
    ):
        """Re-crawl corollaries under drop_near: a byte-identical
        re-fetch of a stored doc_id lands again (exact self-exemption),
        while an EDITED re-fetch still within threshold of its own
        stored copy drops like any other verified near-dup of stored
        content — the id+text mate rule does not exempt it (landing it
        would store a row whose text the id-idempotent add never
        indexes)."""
        import json as _json

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        t7 = " ".join(f"p{i:02d}" for i in range(1, 21))
        t8 = " ".join(f"q{i:02d}" for i in range(1, 21))
        t8_edit = " ".join(t8.split()[:-1] + ["edited"])  # J=17/19 vs t8
        base = spark.createDataFrame(
            [(7, t7), (8, t8)], "doc_id long, text string"
        )
        dedup_index_build(base, "drcr", **PARAMS)
        src = tmp_path / "src"
        src.mkdir()
        with open(src / "01.json", "w") as f:
            f.write(_json.dumps({"doc_id": 7, "text": t7}) + "\n")
            f.write(_json.dumps({"doc_id": 8, "text": t8_edit}) + "\n")
        try:
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .json(str(src))
            )
            q = streaming_index_ingest(
                spark, "drcr", stream,
                landed_path=str(tmp_path / "landed"),
                checkpoint=str(tmp_path / "ckpt"),
                threshold=0.5,
                drop_near=True,
                available_now=True,
            )
            q.awaitTermination(120)
            landed = {
                r.doc_id
                for r in spark.read.parquet(str(tmp_path / "landed")).collect()
            }
            assert landed == {7}
            # the stored texts are untouched either way
            stored = {
                r.doc_id: r.text
                for r in spark.table("drcr_docs").collect()
            }
            assert stored == {7: t7, 8: t8}
        finally:
            dedup_index_drop(spark, "drcr")

    @pytest.mark.slow
    def test_stored_match_drop_survives_replay_with_stronger_mate(
        self, spark, tmp_path
    ):
        """The replay-resurrection window: X near-matches stored S (J =
        0.538 ≥ threshold → dropped) AND batch-mate M at a HIGHER J
        (0.739). On a crash-replay M is in the index and would outrank S
        as X's single best match — an exemption applied after a global
        best-1 pick would flip to 'mate, keep' and resurrect X,
        rewriting the landed batch with a different survivor set. The
        drop decision must therefore be made on the best NON-mate match:
        X stays dropped on replay, bit-for-bit."""
        import json as _json

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        core = [f"c{i:02d}" for i in range(1, 17)]
        s_doc = " ".join(core + ["s1", "s2", "s3", "s4", "s5", "s6"])
        x_core = core
        x_doc = " ".join(x_core + ["x1", "x2", "x3", "x4", "x5", "x6"])
        m_core = core.copy()
        m_core[7] = "mz"  # one core change: far from S, still close to X
        m_doc = " ".join(m_core + ["x1", "x2", "x3", "x4", "x5", "x6"])
        # J(X,S)=14/26≈0.538, J(X,M)=17/23≈0.739, J(M,S)=11/29≈0.379
        base = spark.createDataFrame(
            [(100, s_doc)], "doc_id long, text string"
        )
        # 64 single-row bands: recall at J≈0.54 is 1-(1-J)^64 ≈ 1-4e-22,
        # so the S-match candidate is never lost to banding luck
        dedup_index_build(
            base, "dres", num_hashes=64, bands=64, n=3, num_buckets=4
        )
        src = tmp_path / "src"
        src.mkdir()
        with open(src / "01.json", "w") as f:
            f.write(_json.dumps({"doc_id": 10, "text": m_doc}) + "\n")
            f.write(_json.dumps({"doc_id": 20, "text": x_doc}) + "\n")
        landed = str(tmp_path / "landed")
        try:
            def run(ckpt):
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .json(str(src))
                )
                q = streaming_index_ingest(
                    spark, "dres", stream,
                    landed_path=landed,
                    checkpoint=str(tmp_path / ckpt),
                    threshold=0.5,
                    drop_near=True,
                    available_now=True,
                )
                q.awaitTermination(120)

            run("ckpt1")
            first = {
                r.doc_id for r in spark.read.parquet(landed).collect()
            }
            assert first == {10}  # X dropped (S match), M landed
            run("ckpt2")  # full replay on a fresh checkpoint
            second = {
                r.doc_id for r in spark.read.parquet(landed).collect()
            }
            assert second == {10}, (
                "replay resurrected a doc originally dropped for a stored "
                "near-match (mate outranked the stored match)"
            )
            assert spark.table("dres_digests").count() == 2  # S + M only
        finally:
            dedup_index_drop(spark, "dres")


class TestCrashWindows:
    def test_add_retry_after_docs_append_still_writes_digests(self, spark, docs):
        """Simulates an add whose first attempt crashed after the bands +
        docs appends but before the digest append: the retried add must
        still write the digest rows (they derive from the increment, not
        from the docs anti-join) or every later probe calls those texts
        novel forever."""
        from php_ec_spark.layout import write_bucketed
        from php_ec_spark.operators.dedup import with_band_keys

        base = docs.filter(F.col("doc_id") < 50)
        dedup_index_build(base, "dcw", **PARAMS)
        try:
            inc = spark.createDataFrame(
                [(40001, "crashed halfway through the append qq ww")],
                "doc_id long, text string",
            )
            # replay the first attempt's completed half manually
            write_bucketed(
                with_band_keys(inc, num_hashes=PARAMS["num_hashes"],
                               bands=PARAMS["bands"], n=PARAMS["n"]),
                "dcw_bands", ["band", "bh"], PARAMS["num_buckets"],
                sort_cols=["band", "bh"], mode="append",
            )
            write_bucketed(
                inc.select(F.col("doc_id"), F.col("text")),
                "dcw_docs", ["doc_id"], PARAMS["num_buckets"],
                sort_cols=["doc_id"], mode="append",
            )
            spark.catalog.refreshTable("dcw_docs")
            # the retry: id is already "known", digest must append anyway
            dedup_index_add(spark, "dcw", inc)
            got = dedup_index_probe(spark, "dcw", inc).head()
            assert got.exact_dup_of == 40001
        finally:
            dedup_index_drop(spark, "dcw")

    @pytest.mark.slow
    def test_replay_does_not_wipe_landed_batches(
        self, spark, tmp_path, caplog
    ):
        """The exactly-once claim under its worst window: re-running the
        WHOLE stream with a fresh checkpoint (every batch replays against
        an index that already contains its own survivors) must leave the
        landed directories with their original content — self-matches are
        exempt, the stored-corpus drop decision never consults batch-mate
        matches, and the intra-batch collapse (near-dup mates 1 and 2
        collapse to min-id survivor 1 at the door) recomputes
        identically."""
        import json as _json

        from php_ec_spark.operators.dedup_index import streaming_index_ingest

        src = tmp_path / "src"
        src.mkdir()
        with open(src / "01.json", "w") as f:
            # two docs that are near-dups of EACH OTHER (intra-batch:
            # min-id survivor 1 lands, 2 collapses) + one unique
            f.write(_json.dumps({
                "doc_id": 1,
                "text": "the quick brown fox jumps over the lazy dog",
            }) + "\n")
            f.write(_json.dumps({
                "doc_id": 2,
                "text": "the quick brown fox jumps over the lazy cat",
            }) + "\n")
            f.write(_json.dumps({
                "doc_id": 3, "text": "entirely different content",
            }) + "\n")
        dedup_index_build(
            spark.createDataFrame([], "doc_id long, text string"),
            "drw", **PARAMS,
        )
        landed = str(tmp_path / "landed")
        try:
            def run(ckpt):
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .json(str(src))
                )
                q = streaming_index_ingest(
                    spark, "drw", stream,
                    landed_path=landed,
                    checkpoint=str(tmp_path / ckpt),
                    threshold=0.5,
                    drop_near=True,
                    available_now=True,
                )
                q.awaitTermination(120)

            import logging as _logging

            with caplog.at_level(
                _logging.INFO, logger="php_ec_spark.operators.dedup_index"
            ):
                run("ckpt1")
            # round-14 verdict #7: the door's per-batch component
            # telemetry lands in the driver log (this batch's tiny pair
            # graph takes the round-15 driver fast path: rounds=0)
            cc_msgs = [
                r.getMessage() for r in caplog.records
                if "connected_components" in r.getMessage()
            ]
            assert cc_msgs and "fastpath_edges" in cc_msgs[0], cc_msgs
            first = {
                r.doc_id
                for r in spark.read.parquet(landed).collect()
            }
            assert first == {1, 3}
            run("ckpt2")  # full replay: fresh checkpoint, same batch ids
            second = {
                r.doc_id
                for r in spark.read.parquet(landed).collect()
            }
            assert second == first, "replay wiped or changed landed data"
            # and the index did not duplicate anything
            assert spark.table("drw_digests").count() == 2
        finally:
            dedup_index_drop(spark, "drw")


class TestBuildGeneration:
    @pytest.mark.slow
    def test_half_rebuilt_index_fails_loudly(self, spark, docs):
        """An in-place rebuild that dies before committing the meta row
        leaves data tables stamped with a NEWER build generation than
        meta records. Probes/adds against that state must raise — a
        silent answer would run new signatures against old parameters."""
        from php_ec_spark.operators.dedup_index import (
            _stamp_gen,
            dedup_index_compact,
        )

        base = docs.filter(F.col("doc_id") < 150)
        inc = docs.filter(F.col("doc_id") >= 400).limit(20)
        dedup_index_build(base, "dgen", **PARAMS)
        try:
            # healthy index probes fine
            dedup_index_probe(spark, "dgen", inc).collect()
            # simulate the crash window: one data table re-stamped by a
            # rebuild attempt whose meta write never happened
            _stamp_gen(spark, "dgen_bands", "deadbeefcafef00d")
            with pytest.raises(RuntimeError, match="half-rebuilt"):
                dedup_index_probe(spark, "dgen", inc)
            with pytest.raises(RuntimeError, match="half-rebuilt"):
                dedup_index_add(spark, "dgen", inc)
            # a completed rebuild repairs the agreement...
            dedup_index_build(base, "dgen", **PARAMS)
            assert dedup_index_probe(spark, "dgen", inc).count() == inc.count()
            # ...and compact carries the stamp through its drop/rename
            dedup_index_compact(spark, "dgen")
            assert dedup_index_probe(spark, "dgen", inc).count() == inc.count()
        finally:
            dedup_index_drop(spark, "dgen")


class TestProbeAllMatches:
    @pytest.mark.slow
    def test_matches_all_returns_every_verified_match(self, spark):
        """matches='all' emits one row per verified stored match (the
        consumer ranks after filtering); 'best' keeps the single top row
        (J desc, idx_doc asc); unmatched docs keep one NULL row either
        way; bad values raise."""
        toks = [f"t{i:02d}" for i in range(1, 21)]
        a = " ".join(toks)                          # stored id 1
        b = " ".join(toks[:18] + ["u", "v"])        # stored id 2, J(a,b)=0.8
        x = " ".join(toks[:19] + ["w"])             # probe: J(x,a)=17/19, J(x,b)=16/20
        base = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )
        inc = spark.createDataFrame(
            [(50, x), (51, "entirely unrelated content zz qq")],
            "doc_id long, text string",
        )
        dedup_index_build(base, "dall", **PARAMS)
        try:
            allm = dedup_index_probe(
                spark, "dall", inc, threshold=0.5, matches="all"
            ).collect()
            by_doc = {}
            for r in allm:
                by_doc.setdefault(r.doc_id, []).append(
                    (r.near_dup_of, r.near_jaccard)
                )
            assert sorted(by_doc[50]) == [
                (1, round(17 / 19, 6)), (2, round(16 / 20, 6))
            ]
            assert by_doc[51] == [(None, None)]
            best = {
                r.doc_id: (r.near_dup_of, r.near_jaccard)
                for r in dedup_index_probe(
                    spark, "dall", inc, threshold=0.5
                ).collect()
            }
            assert best[50] == (1, round(17 / 19, 6))
            assert best[51] == (None, None)
            with pytest.raises(ValueError, match="best|all"):
                dedup_index_probe(spark, "dall", inc, matches="top")
        finally:
            dedup_index_drop(spark, "dall")


class TestNearLayerSkip:
    def test_near_layer_false_skips_band_pipeline(self, spark):
        """near_layer=False must return exact-only annotations and plan
        WITHOUT touching the band/docs tables — it exists so exact-only
        consumers (streaming ingest with drop_near=False) don't pay the
        LSH candidate pipeline per micro-batch."""
        base = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "some other text here")],
            "doc_id long, text string",
        )
        dedup_index_build(base, "dnl", **PARAMS)
        try:
            inc = spark.createDataFrame(
                [(91001, "ALPHA  beta gamma delta"),
                 (91002, "utterly novel words qq zz")],
                "doc_id long, text string",
            )
            out = dedup_index_probe(spark, "dnl", inc, near_layer=False)
            assert "near_dup_of" not in out.columns
            assert "near_jaccard" not in out.columns
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "dnl_bands" not in plan and "dnl_docs" not in plan
            rows = {r.doc_id: r.exact_dup_of for r in out.collect()}
            assert rows[91001] == 1 and rows[91002] is None
        finally:
            dedup_index_drop(spark, "dnl")


class TestDigestVersion:
    def test_legacy_key_cols_index_refused_loudly(self, spark):
        """A key_cols index whose meta predates the byte-exact digest
        (v2) must refuse probes instead of silently reporting every
        duplicate as novel; a legacy default-text index (digest formula
        unchanged) keeps working."""
        base = spark.createDataFrame(
            [(1, "u1", "text a"), (2, "u2", "text b")],
            "doc_id long, url string, text string",
        )
        inc = spark.createDataFrame(
            [(11, "u1", "x")], "doc_id long, url string, text string"
        )
        dedup_index_build(base, "dver", key_cols=["url"], near=False,
                          **PARAMS)
        try:
            # simulate a pre-v2 index: meta without the digest_ver column
            # (materialize first — Spark refuses to overwrite a table it
            # is simultaneously reading)
            legacy = spark.table("dver_meta").drop("digest_ver")
            rows, schema = legacy.collect(), legacy.schema
            spark.createDataFrame(rows, schema).write.mode(
                "overwrite"
            ).saveAsTable("dver_meta")
            with pytest.raises(RuntimeError, match="digest"):
                dedup_index_probe(spark, "dver", inc)
            with pytest.raises(RuntimeError, match="digest"):
                dedup_index_add(spark, "dver", inc)
        finally:
            dedup_index_drop(spark, "dver")
        # default text digest: unversioned, legacy meta still probes
        tbase = spark.createDataFrame(
            [(1, "text a")], "doc_id long, text string"
        )
        tinc = spark.createDataFrame(
            [(11, "TEXT  a")], "doc_id long, text string"
        )
        dedup_index_build(tbase, "dver2", near=False, **PARAMS)
        try:
            legacy = spark.table("dver2_meta").drop("digest_ver")
            rows, schema = legacy.collect(), legacy.schema
            spark.createDataFrame(rows, schema).write.mode(
                "overwrite"
            ).saveAsTable("dver2_meta")
            got = dedup_index_probe(spark, "dver2", tinc).head()
            assert got.exact_dup_of == 1
        finally:
            dedup_index_drop(spark, "dver2")


class TestCrashResidue:
    """Round-15 verdict #2: one killed run left orphan table DIRECTORIES
    in the warehouse with no catalog entry; a fresh session's catalog
    never lists them, so the catalog-based sweep was blind and the next
    fixed-name ``dedup_index_build`` died with LOCATION_ALREADY_EXISTS
    (4 errors + 1 failure in an otherwise-green suite). These pins plant
    exactly that residue and assert the suite path now builds green."""

    @staticmethod
    def _warehouse(spark):
        from php_ec_spark.operators.dedup_index import _warehouse_dir

        wh = _warehouse_dir(spark)
        assert wh, "test session warehouse is not a local dir?"
        return wh

    def _plant(self, spark, table):
        import os

        d = os.path.join(self._warehouse(spark), table)
        os.makedirs(d, exist_ok=True)
        # a plausible residue shape: one part-file from the dead writer
        with open(os.path.join(d, "part-00000-dead.snappy.parquet"), "wb") as f:
            f.write(b"PAR1 residue")
        return d

    def test_build_over_orphan_dirs_goes_green(self, spark, docs):
        import os

        planted = [
            self._plant(spark, f"dix_orph_{p}")
            for p in ("digests", "bands", "docs", "meta")
        ]
        base = docs.filter(F.col("doc_id") < 50)
        dedup_index_build(base, "dix_orph", **PARAMS)
        try:
            assert spark.table("dix_orph_digests").count() > 0
            got = dedup_index_probe(
                spark, "dix_orph", base.limit(5)
            ).head()
            assert got.exact_dup_of is not None
        finally:
            dedup_index_drop(spark, "dix_orph")
        for d in planted:
            assert not os.path.isdir(d)

    def test_drop_removes_disowned_dirs(self, spark):
        import os

        d = self._plant(spark, "dix_orph2_digests")
        dedup_index_drop(spark, "dix_orph2")
        assert not os.path.isdir(d)

    def test_clear_orphan_never_touches_registered_tables(self, spark, docs):
        import os

        base = docs.filter(F.col("doc_id") < 30)
        dedup_index_build(base, "dix_live", near=False, **PARAMS)
        try:
            from php_ec_spark.operators.dedup_index import (
                _clear_orphan_location,
            )

            assert not _clear_orphan_location(spark, "dix_live_digests")
            loc = os.path.join(self._warehouse(spark), "dix_live_digests")
            assert os.path.isdir(loc)
            assert spark.table("dix_live_digests").count() > 0
        finally:
            dedup_index_drop(spark, "dix_live")

    def test_temp_view_does_not_shield_residue(self, spark):
        """A temp view sharing the orphan's name owns no warehouse
        directory — it must not mask real on-disk residue (the
        round-15 LOCATION_ALREADY_EXISTS would resurface silently)."""
        import os

        from php_ec_spark.operators.dedup_index import (
            _clear_orphan_location,
        )

        d = self._plant(spark, "dix_orph3_digests")
        spark.range(1).createOrReplaceTempView("dix_orph3_digests")
        try:
            assert _clear_orphan_location(spark, "dix_orph3_digests")
            assert not os.path.isdir(d)
        finally:
            spark.catalog.dropTempView("dix_orph3_digests")

    def test_append_mode_build_does_not_preclear(self, spark, docs):
        """The pre-clear is an OVERWRITE-semantics contract ("this name
        is mine now"); an append caller's premise is that the table
        exists, so residue must make the build fail loudly, not be
        silently deleted."""
        import os

        d = self._plant(spark, "dix_orph5_digests")
        base = docs.filter(F.col("doc_id") < 30)
        try:
            with pytest.raises(Exception):
                dedup_index_build(
                    base, "dix_orph5", near=False, mode="append", **PARAMS
                )
            assert os.path.isdir(d), "append build deleted residue"
        finally:
            dedup_index_drop(spark, "dix_orph5")
            assert not os.path.isdir(d)  # drop still clears it

    def test_non_default_database_is_a_safe_noop(self, spark):
        """Under USE otherdb the unqualified existence check and the
        default-warehouse path would disagree about which table owns
        the directory — the guard must skip (never delete) there: a
        registered default-db table's data is NOT residue just because
        the current database can't see it."""
        import os

        from php_ec_spark.operators.dedup_index import (
            _clear_orphan_location,
        )

        d = self._plant(spark, "dix_orph4_digests")
        spark.sql("CREATE DATABASE IF NOT EXISTS dix_scope_db")
        spark.catalog.setCurrentDatabase("dix_scope_db")
        try:
            assert not _clear_orphan_location(spark, "dix_orph4_digests")
            assert os.path.isdir(d), "guard deleted outside its scope"
        finally:
            spark.catalog.setCurrentDatabase("default")
            spark.sql("DROP DATABASE IF EXISTS dix_scope_db")
            import shutil

            shutil.rmtree(d, ignore_errors=True)

    def test_live_sibling_pid_dir_is_never_cleared(self, spark):
        """Round-16 ADVICE (medium): with the default in-memory catalog
        registration is per-process — "not in MY catalog" does not mean
        disowned. A pid-scoped dir whose owner is ALIVE may be a live
        sibling session's table; clearing it would be silent data
        deletion where the old behavior failed loudly. pid 1 is always
        alive and never us."""
        import os

        from php_ec_spark.operators.dedup_index import (
            _clear_orphan_location,
            dedup_index_drop,
        )

        d = self._plant(spark, "pipe_didx_1_beefcafe_digests")
        try:
            assert not _clear_orphan_location(
                spark, "pipe_didx_1_beefcafe_digests"
            )
            assert os.path.isdir(d), "cleared a live sibling's dir"
            # ...and a full drop reports the surviving residue
            assert dedup_index_drop(spark, "pipe_didx_1_beefcafe") is False
            assert os.path.isdir(d)
        finally:
            import shutil

            shutil.rmtree(d, ignore_errors=True)

    def test_dead_and_own_pid_dirs_still_clear(self, spark):
        """The liveness guard must not break the healing direction:
        dead-owner residue and THIS process's own disowned dirs (a
        failed build's half-write) clear as before."""
        import os

        from php_ec_spark.operators.dedup_index import (
            _clear_orphan_location,
        )

        dead = self._plant(spark, "pipe_didx_4000001_feed_digests")
        own = self._plant(spark, f"pipe_didx_{os.getpid()}_f00d_digests")
        assert _clear_orphan_location(
            spark, "pipe_didx_4000001_feed_digests"
        )
        assert _clear_orphan_location(
            spark, f"pipe_didx_{os.getpid()}_f00d_digests"
        )
        assert not os.path.isdir(dead) and not os.path.isdir(own)

    def test_drop_reports_residue_free(self, spark, docs):
        """dedup_index_drop returns True only when every part's
        warehouse directory is verifiably gone (round-16 ADVICE: the
        sweep counted surviving residue as swept)."""
        base = docs.filter(F.col("doc_id") < 30)
        dedup_index_build(base, "dix_ret", near=False, **PARAMS)
        assert dedup_index_drop(spark, "dix_ret") is True
        # idempotent: dropping a nonexistent index is clean too
        assert dedup_index_drop(spark, "dix_ret") is True

    def test_index_names_are_validated(self, spark, docs):
        """Round-16 ADVICE: names flow unquoted into SQL (DROP TABLE /
        SHOW TBLPROPERTIES f-strings) and into LIKE patterns where * /
        | are wildcards — every entry point rejects non-identifiers."""
        import pytest as _pytest

        from php_ec_spark.operators.dedup_index import (
            dedup_index_probe,
        )

        base = docs.filter(F.col("doc_id") < 10)
        for bad in ("x'y", "a*b", "a|b", "a b", "a-b", "", "1abc",
                    "x; DROP TABLE t"):
            with _pytest.raises(ValueError, match="identifier"):
                dedup_index_build(base, bad, near=False, **PARAMS)
            with _pytest.raises(ValueError, match="identifier"):
                dedup_index_drop(spark, bad)
            with _pytest.raises(ValueError, match="identifier"):
                dedup_index_probe(spark, bad, base)

    def test_sweep_sees_dead_pid_dirs_on_disk(self, spark):
        import os

        from php_ec_spark.queries_pipeline import sweep_stale_didx_tables

        # pid 4000000 is above kernel.pid_max's default ceiling — dead by
        # construction; the catalog has never heard of this index
        dead = self._plant(spark, "pipe_didx_4000000_deadbeef_digests")
        live = self._plant(
            spark, f"pipe_didx_{os.getpid()}_cafebabe_digests"
        )
        try:
            assert sweep_stale_didx_tables(spark) >= 1
            assert not os.path.isdir(dead), "dead-pid orphan not swept"
            assert os.path.isdir(live), "live-pid dir must survive"
        finally:
            import shutil

            shutil.rmtree(live, ignore_errors=True)
