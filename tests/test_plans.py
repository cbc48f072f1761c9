"""Physical-plan audits: the properties that make these queries survive a
1000-executor cluster. Each assertion pins a plan shape — filter pushdown
to the parquet scan, broadcast joins for dims, no Python in relational CEP
plans, bounded shuffle counts."""

from __future__ import annotations

import pytest

from php_ec_spark.catalog import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        all_queries()[name]
        .spark(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _optimized(spark, name: str) -> str:
    return str(
        all_queries()[name].spark(spark, SF)._jdf.queryExecution().optimizedPlan()
    )


class TestPushdownAndPruning:
    def test_q1_filter_reaches_scan(self, spark):
        plan = _plan(spark, "rel_q1_pricing")
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_q1_reads_only_needed_columns(self, spark):
        plan = _plan(spark, "rel_q1_pricing")
        # ReadSchema must not include unused columns like l_comment/l_partkey
        read = plan[plan.index("ReadSchema"):].split("\n")[0]
        assert "l_partkey" not in read and "l_suppkey" not in read

    def test_cep_sequence_type_filter_pushed(self, spark):
        plan = _plan(spark, "cep_seq_two_step")
        assert "PushedFilters" in plan and "In(event_type" in plan

    def test_cosine_topk_query_filter_pushed(self, spark):
        # the 10-vector query side must prune at the embeddings scan, not
        # after reading the full corpus twice
        plan = _plan(spark, "pipe_cosine_topk")
        assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id" in plan

    def test_text_stats_reads_only_needed_columns(self, spark):
        # documents has lang/source/text columns; token stats needs id+text
        plan = _plan(spark, "pipe_text_stats")
        read = plan[plan.index("ReadSchema"):].split("\n")[0]
        assert "text" in read and "lang" not in read and "source" not in read


class TestBroadcast:
    @pytest.mark.parametrize("name", ["rel_q5_region_revenue", "rel_rollup"])
    def test_dims_broadcast(self, spark, name):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan
        # the fact side must never be broadcast
        assert "SortMergeJoin" in plan or plan.count("BroadcastHashJoin") >= 2

    def test_memory_enrich_is_broadcast(self, spark):
        plan = _plan(spark, "cep_memory_enrich")
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


class TestNoPythonInRelationalCep:
    @pytest.mark.parametrize(
        "name",
        ["cep_seq_two_step", "cep_funnel_3step", "cep_gap_sessions",
         "cep_single_match", "cep_cron_hourly", "cep_control_messages"],
    )
    def test_no_python_operators(self, spark, name):
        plan = _plan(spark, name)
        assert "FlatMapGroupsInPandas" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestShuffleBudget:
    def test_two_step_sequence_single_shuffle(self, spark):
        plan = _plan(spark, "cep_seq_two_step")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_n_step_funnel_single_shuffle_no_joins(self, spark):
        # the N-way chase is window pointers over one exchange — adding
        # steps must never add joins or shuffles
        plan = _plan(spark, "cep_funnel_3step")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan

    def test_keyless_counter_uses_partial_agg(self, spark):
        from php_ec_spark.engine.relational import compile_counter
        from php_ec_spark.model import load_events
        from php_ec_spark.rules import match_single_continuously

        rule = match_single_continuously("c", ["*"], key=None, emit_final=True)
        plan = (
            compile_counter(load_events(spark, SF), rule)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # global agg = partial + final, never a groupBy(lit(1)) state machine
        assert "FlatMapGroupsInPandas" not in plan
        assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


class TestSequenceKernelPlan:
    """``compile_sequence`` stays linear in a key's events: one exchange,
    one sort and one ``Window`` per step after the first, and none of the
    per-row successor arrays (``collect_list`` + ``sort_array`` + lambda
    ``filter``) whose work grew with the square of a key's size. Counts
    operators in the executed plan, so it holds at any load."""

    @pytest.mark.parametrize("n", [2, 3, 4])
    def test_one_exchange_one_sort_n_minus_1_windows(self, spark, n):
        import datetime as dt
        import re

        from php_ec_spark.engine import compile_sequence
        from php_ec_spark.rules import sequence_rule

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), 1, "s0", 1.0, None)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        types = [f"s{i}" for i in range(n)]
        for timeout in ("PT10S", None):
            rule = sequence_rule("seq", types, key="user_id", timeout=timeout)
            plan = (
                compile_sequence(df, rule)
                ._jdf.queryExecution().executedPlan().toString()
            )
            nodes = [
                m.group(1)
                for m in re.finditer(r"^[\s:|+-]*([A-Za-z]+)", plan, re.M)
            ]
            assert nodes.count("Exchange") == 1, plan
            assert nodes.count("Sort") == 1, plan
            assert nodes.count("Window") == n - 1, plan
            for banned in ("collect_list", "sort_array", "lambdafunction"):
                assert banned not in plan, plan


class TestChainPlan:
    def test_chained_round_reuses_the_producer_shuffle(self, spark):
        """``chain_correlate`` feeds the reminder round from the very
        ``pay_check`` branch frame that round 0 emits, so the chain is one
        plan: after the action, the final adaptive plan runs the sequence
        shuffle once and reuses it for the chained round, and scans no
        pinned round."""
        import re

        df = all_queries()["cep_chain_reinject"].spark(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, plan
        nodes = [
            m.group(1)
            for m in re.finditer(r"^[\s:|+-]*(?:\*\(\d+\) )?([A-Za-z]+)", final, re.M)
        ]
        assert nodes.count("Exchange") == 1, final
        assert nodes.count("ReusedExchange") == 1, final
        assert "ExistingRDD" not in final, final


class TestCounterSkewPlans:
    """Skew-neutrality of the counter compiles: a 50% hot key must shuffle
    per-partition PARTIALS, not rows — the two-stage HashAggregate
    (partial -> final) IS the salted_agg pattern, emitted by Catalyst for
    every aggregate these paths use (count/sum/min_by/max_by/max)."""

    def _hot_df(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        base = dt.datetime(2024, 1, 1)
        # 50% of rows on user 7, rest spread over 1000 keys
        return (
            spark.range(20_000)
            .select(
                F.col("id").alias("event_id"),
                (F.lit(base) + F.make_interval(secs=F.col("id"))).alias("ts"),
                F.when(F.col("id") % 2 == 0, F.lit(7))
                .otherwise(F.col("id") % 1000)
                .alias("user_id"),
                F.lit("click").alias("event_type"),
                F.lit(1.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
        )

    def test_keyed_counter_two_stage_agg_under_hot_key(self, spark):
        from php_ec_spark.engine.relational import compile_counter
        from php_ec_spark.rules import match_single_continuously

        rule = match_single_continuously(
            "cnt", ["*"], key="user_id", emit_final=True
        )
        df = compile_counter(self._hot_df(spark), rule)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
        # partial aggregate BEFORE the exchange, final after — the hot key
        # crosses the wire as one row per input partition (min_by/max_by
        # order by a struct, so Catalyst picks SortAggregate; the partial/
        # final split is what matters)
        n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
        assert n_aggs >= 2 and "partial_" in plan, plan
        hot = {r["key"]: r["n_events"] for r in df.collect()}["7"]
        assert hot == 10_000 + 20  # 50% hot + its share of id % 1000

    def test_keyless_counter_two_stage_agg_under_hot_key(self, spark):
        from php_ec_spark.engine.relational import compile_counter
        from php_ec_spark.rules import match_single_continuously

        rule = match_single_continuously("c", ["*"], key=None, emit_final=True)
        plan = (
            compile_counter(self._hot_df(spark), rule)
            ._jdf.queryExecution().executedPlan().toString()
        )
        n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
        assert n_aggs >= 2 and "partial_" in plan, plan


class TestNoCartesianInPairOps:
    @pytest.mark.parametrize(
        "name", ["pipe_ann_ivf", "pipe_minhash_lsh", "pipe_jaccard_pairs"]
    )
    def test_no_cartesian_over_corpus(self, spark, name):
        # pair generation must never materialize the n² space as Spark rows:
        # candidates come from equi-joins / GEMM blocks, not row cartesians
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestNoDriverMaterialization:
    def test_embedding_dup_pairs_builds_lazily(self, spark, monkeypatch):
        """The bucketed dup-pairs path (the 'dup' branch of the
        consolidated pipe_cosine_topk): plan construction must trigger NO
        driver materialization — no toPandas, no collect, no count. (The
        exact path's broadcast-matrix collect is a deliberate small-corpus
        special case and is not registered; the topk branch's 10-row query
        collect is a small-side contract, so the lint targets the operator
        directly.)"""
        from pyspark.sql import DataFrame

        from php_ec_spark.operators.similarity import cosine_dup_pairs

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")

        def boom(self, *a, **k):
            raise AssertionError("driver materialization during plan construction")

        monkeypatch.setattr(DataFrame, "toPandas", boom)
        monkeypatch.setattr(DataFrame, "collect", boom)
        monkeypatch.setattr(DataFrame, "count", boom)
        q = cosine_dup_pairs(emb, threshold=0.4, cluster_col="label")
        assert q.columns == ["id_a", "id_b", "cos"]


class TestShingleComputedOnce:
    def test_inverted_index_plan_runs_split_once(self, spark):
        """Two past pathologies, pinned: (a) inlining the token split into
        the per-shingle slice lambda re-ran the regex O(T²) per doc; (b)
        plain explode made InferFiltersFromGenerate push a size()>0 filter
        that re-inlined the whole shingle expression below the projection.
        Either regression shows up as a second split() in the optimized
        plan of the un-checkpointed inverted index."""
        from pyspark.sql import functions as F

        from php_ec_spark.operators.dedup import with_shingles

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        sh = with_shingles(docs).select(
            F.col("doc_id").alias("doc"), "shingles",
            F.size("shingles").alias("n_sh"),
        )
        inv = sh.select(
            "doc", "n_sh", F.explode_outer("shingles").alias("shingle")
        )
        plan = str(inv._jdf.queryExecution().optimizedPlan())
        assert plan.count("split(") == 1, plan


class TestCatalogWideLint:
    """Every registered query, not just the hand-picked ones above: no plan
    in the catalog may contain a row-space cartesian or a row-at-a-time
    Python eval. These are the two shapes that silently stop scaling —
    CartesianProduct is O(n²) rows, BatchEvalPython is pickled per-row
    Python in the hot path (Arrow/Pandas eval is fine)."""

    def test_no_cartesian_or_rowwise_python_anywhere(self, spark):
        bad: list[str] = []
        for name, q in sorted(all_queries().items()):
            plan = (
                q.spark(spark, SF)._jdf.queryExecution().executedPlan().toString()
            )
            if "CartesianProduct" in plan:
                bad.append(f"{name}: CartesianProduct")
            if "BatchEvalPython" in plan:
                bad.append(f"{name}: BatchEvalPython (row-at-a-time UDF)")
        assert not bad, bad


class TestWholeStageCodegen:
    @pytest.mark.parametrize("name", ["rel_q1_pricing", "pipe_text_stats"])
    def test_codegen_spans_exist(self, spark, name):
        # codegen'd operators print with the "*(n)" stage prefix; AQE wraps
        # the plan lazily, so disable it for the shape check
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = _plan(spark, name)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert "*(1)" in plan


class TestNewPipelinePlanShapes:
    def test_repetition_signals_is_scan_local(self, spark):
        """The whole signal family must compile to one projection over the
        parquet scan: zero exchanges, zero Python, pruned read schema."""
        q = all_queries()["pipe_repetition_signals"].spark(spark, SF)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan and "InPandas" not in plan
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan

    def test_pack_sequences_prefix_sum_shape(self, spark):
        """The distributed prefix sum: the stamped range-partitioned frame
        is checkpointed (computed ONCE — both branches read ExistingRDD,
        never two independently-sampled range exchanges), the offsets side
        is broadcast, and the only SinglePartition stage is the tiny
        per-partition-totals window — never the corpus."""
        q = all_queries()["pipe_pack_sequences"].spark(spark, SF)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") == 2, plan
        assert "Exchange rangepartitioning" not in plan  # inside checkpoint
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # SinglePartition only downstream of the per-pid HashAggregate
        single = plan.count("Exchange SinglePartition")
        assert single == 1, plan


class TestUnregisteredOperatorPlans:
    """The round-9 operators live outside the 50-query catalog census, so
    they get their own anti-pattern gate: no CartesianProduct, no
    row-at-a-time Python (BatchEvalPython) anywhere in their plans. Arrow
    kernels (ArrowEvalPython / mapInPandas) are the sanctioned Python
    path and are allowed."""

    def _assert_clean(self, df, label):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{label}: CartesianProduct"
        assert "BatchEvalPython" not in plan, f"{label}: row-wise Python"

    def test_dedup_index_probe_plan(self, spark):
        from pyspark.sql import functions as F

        from php_ec_spark.operators.dedup_index import (
            dedup_index_build,
            dedup_index_drop,
            dedup_index_probe,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        dedup_index_build(
            docs.filter(F.col("doc_id") < 200), "plx", num_buckets=4
        )
        try:
            probe = dedup_index_probe(
                spark, "plx", docs.filter(F.col("doc_id") >= 400)
            )
            self._assert_clean(probe, "dedup_index_probe")
        finally:
            dedup_index_drop(spark, "plx")

    def test_semdedup_and_dup_probe_plans(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from php_ec_spark.operators.similarity import (
            embedding_dup_probe,
            ivf_build,
            semdedup,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        self._assert_clean(
            semdedup(emb, n_clusters=4, sample_size=200), "semdedup"
        )
        idx = str(tmp_path / "ivf")
        ccol = ivf_build(emb, idx, n_clusters=4)
        self._assert_clean(
            embedding_dup_probe(
                spark, idx, emb.filter(F.col("vec_id") < 3),
                cluster_col=ccol,
            ),
            "embedding_dup_probe",
        )

    def test_text_operators_plans(self, spark):
        from pyspark.sql import functions as F

        from php_ec_spark.operators.dedup import (
            exact_dedup,
            remove_dup_lines,
            remove_dup_spans,
        )
        from php_ec_spark.operators.text import normalize_url

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        self._assert_clean(remove_dup_lines(docs), "remove_dup_lines")
        self._assert_clean(remove_dup_spans(docs), "remove_dup_spans")
        from php_ec_spark.operators.sampling import sample_to_token_budget

        self._assert_clean(
            sample_to_token_budget(docs, 1000), "sample_to_token_budget"
        )
        self._assert_clean(
            exact_dedup(docs, keep="longest"), "exact_dedup_longest"
        )
        urls = docs.select(
            "doc_id", F.concat(F.lit("http://h/"), "doc_id").alias("url")
        )
        plan = (
            normalize_url(urls)._jdf.queryExecution().executedPlan().toString()
        )
        # pure column expressions: single codegen stage, no exchange at all
        assert "Exchange" not in plan and "BatchEvalPython" not in plan
