"""Pins for bench.py's load-independent exec-metrics collector.

Round-14 verdict #1: the cross-round performance trend must not lean on
wall-clock alone (this box's neighbor contention swings single runs by
±20% and more), so bench.py records per-query shuffle /
input / spill bytes and task counts off the JVM AppStatusStore. That
collector talks to Spark through a py4j signature
(``AppStatusStore.stageList(List, boolean, boolean, double[], List)``)
that a Spark upgrade could silently drift — in bench.py drift degrades
to ``metrics: null``; HERE it must fail loudly so the degradation is a
deliberate choice, not a surprise in the committed artifact.
"""

from __future__ import annotations

import bench
import pytest


@pytest.mark.slow
class TestExecMetrics:
    def test_mark_delta_attributes_a_known_job(self, spark):
        em = bench._ExecMetrics(spark)
        assert em._ok, "status-store probe failed — py4j signature drift"
        m0 = em.mark()
        (
            spark.range(0, 200_000, 1, 4)
            .selectExpr("id % 13 k", "id v")
            .groupBy("k")
            .sum("v")
            .collect()
        )
        got = em.delta(m0)
        assert got is not None
        # a groupBy is one exchange: bytes written by the map side equal
        # bytes read by the reduce side, both nonzero; 4 input tasks +
        # at least 1 reduce task; both stages attributed
        assert got["shuffle_write"] > 0
        assert got["shuffle_read"] == got["shuffle_write"]
        assert got["input_records"] == 200_000
        assert got["tasks"] >= 5
        assert got["stages"] >= 2
        assert got["spill_mem"] == 0 and got["spill_disk"] == 0

    def test_delta_is_scoped_to_the_window(self, spark):
        """Work done BEFORE mark() must not leak into delta(): the
        per-query attribution in bench.py depends on the stage-id fence
        plus the listener-bus drain on both sides."""
        em = bench._ExecMetrics(spark)
        # outside the window: a shuffling job
        spark.range(0, 100_000, 1, 4).selectExpr("id % 7 k").groupBy(
            "k"
        ).count().collect()
        m0 = em.mark()
        # inside the window: a genuinely shuffle-free scan+filter
        # (df.count() would NOT do — its global aggregate is itself a
        # two-stage exchange of partial counts)
        rows = spark.range(0, 50_000, 1, 2).where("id < 0").collect()
        assert rows == []
        got = em.delta(m0)
        assert got is not None
        assert got["shuffle_read"] == 0 and got["shuffle_write"] == 0
        assert got["input_records"] == 50_000
        assert got["stages"] == 1

    def test_disabled_collector_degrades_to_none(self, spark):
        em = bench._ExecMetrics(spark)
        em._disable(RuntimeError("simulated py4j drift"))
        assert em.mark() == -1
        assert em.delta(-1) is None


class TestOutputSplit:
    """Round-15 postmortem: the inline ``metrics`` block grew the single
    stdout JSON line to 3,973 chars; the driver keeps only the LAST
    2000 chars of tail, so the committed BENCH_r15.json lost its totals
    (``parsed: null``) and poisoned the delta chain.
    These pins hold the new contract: bulky metrics ride a separate
    earlier line + committed sidecar, and the FINAL line stays compact
    enough to survive the tail capture with margin."""

    @staticmethod
    def _full_size_out():
        """Synthetic result dict at REAL size: the actual 13 headline
        query names + state_machine, every optional block populated."""
        from php_ec_spark.catalog import all_queries

        names = sorted(n for n, q in all_queries().items() if q.headline)
        assert len(names) >= 13
        metrics = {
            n: {
                "shuffle_read": 123_456_789, "shuffle_write": 123_456_789,
                "spill_mem": 1_073_741_824, "spill_disk": 536_870_912,
                "input_bytes": 9_876_543_210, "input_records": 12_345_678,
                "output_bytes": 123_456, "tasks": 1234, "stages": 42,
            }
            for n in names + ["state_machine"]
        }
        out = {
            "metric": "headline_total_runtime",
            "value": 18.854,
            "unit": "sec",
            "queries": {n: 2.123 for n in names},
            "state_machine_eps": 156829,
            "state_machine_eps_pure": 275123,
            "plan_fp": "a1b2c3d4e5f6",
            "sf": 0.1,
            "master": "local[32]",
            "default_parallelism": 32,
            "loadavg": {"start": 0.52, "end": 14.37},
            "metrics": metrics,
            "delta_vs_prev": {
                **{n: -0.123 for n in names},
                "state_machine_eps": 0.163,
                "state_machine_eps_pure": 0.042,
            },
            "delta_baseline": "BENCH_r14.json",
        }
        return out

    def test_final_line_survives_the_2000_char_tail(self):
        import json

        compact, side = bench.split_output(self._full_size_out())
        line = json.dumps(compact)
        assert len(line) <= 1800, (
            f"final stdout line is {len(line)} chars — the driver tail "
            "keeps 2000; headroom gone, move something off the line"
        )
        # the record fields the trend/delta machinery needs all survived
        for k in ("value", "queries", "plan_fp", "default_parallelism",
                  "delta_vs_prev"):
            assert k in compact
        assert "metrics" not in compact
        # ...and the metrics line carries the block + the (sf,
        # parallelism) scope every sidecar comparison filters on
        assert side["metric"] == "exec_metrics"
        assert side["sf"] == 0.1
        assert side["default_parallelism"] == 32
        assert len(side["metrics"]) == 14

    def test_split_without_metrics_keeps_the_failure_signal(self):
        """Round-16 ADVICE: popping a ``metrics: null`` silently turned
        the documented "status-store probe failed" signal into mere key
        absence — the compact line must carry an explicit marker."""
        out = self._full_size_out()
        out["metrics"] = None
        compact, side = bench.split_output(out)
        assert side is None
        assert "metrics" not in compact
        assert compact["metrics_probe_failed"] is True
        # ...and a populated-metrics run carries no marker
        compact2, _ = bench.split_output(self._full_size_out())
        assert "metrics_probe_failed" not in compact2

    def test_new_compact_fields_survive_the_split(self):
        """plan_fp (round-16 verdict #1) is a HEADLINE field — it must
        ride the compact final line, not the bulky metrics line."""
        compact, side = bench.split_output(self._full_size_out())
        assert compact["plan_fp"] == "a1b2c3d4e5f6"
        # the effective core configuration must ride the compact line:
        # the driver's scaling lens needs proof of which core count took
        # effect, and plan_fp is core-count-specific (round-17 verdict #2)
        assert compact["master"] == "local[32]"
        assert compact["default_parallelism"] == 32
        # the sidecar line carries the fp too, so a sidecar-only reader
        # can match entries to rounds without the artifact
        assert side["plan_fp"] == "a1b2c3d4e5f6"

    def test_sidecar_appends_parseable_lines(self, tmp_path):
        import json

        _, side = bench.split_output(self._full_size_out())
        p = tmp_path / "BENCH_METRICS.jsonl"
        bench.append_metrics_sidecar(side, str(p))
        bench.append_metrics_sidecar(side, str(p))
        lines = p.read_text().strip().splitlines()
        assert len(lines) == 2
        rec = json.loads(lines[-1])
        assert rec["utc"].startswith("20")
        assert rec["metrics"]["state_machine"]["tasks"] == 1234
        assert rec["value"] == 18.854
        assert rec["default_parallelism"] == 32


class TestPlanFingerprint:
    """Round-16 verdict #1: the compact headline line must carry a
    load-independent plan identity. The fingerprint reads ONLY the
    (shuffle_read, shuffle_write, tasks) triples — plan structure —
    never wall-times, spill, or telemetry extras."""

    M = {
        "qa": {"shuffle_read": 1_000, "shuffle_write": 1_000,
               "spill_mem": 0, "spill_disk": 0, "input_bytes": 5,
               "input_records": 5, "output_bytes": 0, "tasks": 8,
               "stages": 3},
        "qb": {"shuffle_read": 0, "shuffle_write": 0, "spill_mem": 9,
               "spill_disk": 9, "input_bytes": 0, "input_records": 0,
               "output_bytes": 0, "tasks": 4, "stages": 2},
    }

    def test_same_plan_same_fp_regardless_of_order_and_noise(self):
        import copy

        fp = bench.plan_fingerprint(self.M)
        assert isinstance(fp, str) and len(fp) == 12
        # key order must not matter (dict-order is an artifact of the
        # measurement loop, not of the plan)
        reordered = {k: self.M[k] for k in reversed(list(self.M))}
        assert bench.plan_fingerprint(reordered) == fp
        # spill / input / telemetry extras must not matter — they vary
        # with memory pressure and ride the same dict without being
        # plan structure (the jaccard cand_pairs telemetry lands there)
        noisy = copy.deepcopy(self.M)
        noisy["qa"]["spill_mem"] = 1 << 30
        noisy["qa"]["input_bytes"] = 42
        noisy["qa"]["cand_pairs"] = 123_456
        assert bench.plan_fingerprint(noisy) == fp

    def test_codec_jitter_does_not_flip_fp(self):
        """Round 18: identical runs measured shuffle bytes 18,831,322 vs
        18,831,367 (compressed-size jitter, ±2.4e-6 relative) and the
        raw-byte fp flipped between two values. The log-quantized basis
        must absorb sub-0.01%-relative byte noise."""
        import copy

        big = copy.deepcopy(self.M)
        big["qa"]["shuffle_read"] = 18_831_322
        big["qa"]["shuffle_write"] = 18_831_322
        fp = bench.plan_fingerprint(big)
        jit = copy.deepcopy(big)
        jit["qa"]["shuffle_read"] = 18_831_367
        jit["qa"]["shuffle_write"] = 18_831_367
        assert bench.plan_fingerprint(jit) == fp

    def test_plan_change_changes_fp(self):
        import copy

        fp = bench.plan_fingerprint(self.M)
        # byte changes at plan-regression scale (≥ percents) and ANY
        # task-count change flip the fp; sub-bucket byte noise does not
        # (see test_codec_jitter_does_not_flip_fp)
        for field, bump in (("shuffle_read", 100), ("shuffle_write", 100),
                            ("tasks", 1)):
            changed = copy.deepcopy(self.M)
            changed["qa"][field] += bump
            assert bench.plan_fingerprint(changed) != fp, field

    def test_degraded_collector_yields_none(self):
        assert bench.plan_fingerprint(None) is None
        assert bench.plan_fingerprint({}) is None
        assert bench.plan_fingerprint({"qa": None}) is None
        # a partially-degraded run still fingerprints what it has
        assert bench.plan_fingerprint(
            {"qa": self.M["qa"], "qb": None}
        ) == bench.plan_fingerprint({"qa": self.M["qa"]})


class TestDeltaNormalization:
    """Deltas are raw (``new / old - 1``), with no load normalization:
    a legacy artifact's load ratio is ignored, and the baseline is
    always taken at the same parallelism (see TestDeltaBaseline)."""

    def test_real_regression_still_shows_through_the_window(self):
        prev = {
            "queries": {},
            "calib": {"ratio": 1.3},   # legacy field, ignored
            "state_machine_eps": 200_000,
        }
        deltas = bench.compute_deltas({}, 140_000, 0.0, prev)
        assert deltas == {"state_machine_eps": -0.3}

    def test_quiet_window_raw_improvement_cannot_flip_sign(self):
        """Round-17 verdict #3/#5: dividing by a sub-1 load ratio once
        flipped two raw improvements (simhash −18%, top2 −10% raw) into
        "+14%/+25%" regressions. Raw deltas keep the sign of the raw
        change whatever ratio the baseline artifact recorded."""
        prev = {
            "queries": {"qa": 2.0},
            "calib": {"ratio": 0.9},
            "state_machine_eps": 100_000,
        }
        deltas = bench.compute_deltas(
            timings={"qa": 1.8},        # raw −10%
            eps=110_000,                # raw +10%
            eps_pure=0.0,
            prev=prev,
        )
        assert deltas == {"qa": -0.1, "state_machine_eps": 0.1}

    def test_missing_ratio_falls_back_to_raw(self):
        prev = {
            "queries": {"qa": 2.0},
            "state_machine_eps": 100_000,
        }
        deltas = bench.compute_deltas({"qa": 1.0}, 120_000, 0.0, prev)
        assert deltas["qa"] == -0.5
        assert deltas["state_machine_eps"] == 0.2

    def test_no_prev_artifact_yields_empty(self):
        assert bench.compute_deltas({"qa": 1.0}, 1.0, 1.0, None) == {}


class TestDeltaBaseline:
    """The prev-artifact lookup must skip crippled artifacts — the
    committed BENCH_r15.json (parsed: null) would otherwise suppress
    delta_vs_prev for every future round — and artifacts measured at
    another parallelism."""

    @staticmethod
    def _write(root, n, parsed):
        import json

        if parsed is not None:
            parsed = {"default_parallelism": 4, **parsed}
        (root / f"BENCH_r{n:02d}.json").write_text(
            json.dumps({"n": n, "tail": "...", "parsed": parsed})
        )

    def test_skips_null_parsed_and_falls_back(self, tmp_path):
        good = {"value": 18.8, "queries": {"q": 1.0}}
        self._write(tmp_path, 14, good)
        self._write(tmp_path, 15, None)
        got = bench.newest_parseable_artifact(str(tmp_path), 4)
        assert got is not None
        name, parsed = got
        assert name == "BENCH_r14.json"
        assert parsed["value"] == 18.8

    def test_numeric_round_order(self, tmp_path):
        self._write(tmp_path, 9, {"value": 1.0, "queries": {"q": 1.0}})
        self._write(tmp_path, 15, {"value": 2.0, "queries": {"q": 2.0}})
        name, parsed = bench.newest_parseable_artifact(str(tmp_path), 4)
        assert name == "BENCH_r15.json"

    def test_empty_dir_yields_none(self, tmp_path):
        assert bench.newest_parseable_artifact(str(tmp_path), 4) is None

    def test_unreadable_artifact_skipped(self, tmp_path):
        (tmp_path / "BENCH_r16.json").write_text("{not json")
        self._write(tmp_path, 15, {"value": 2.0, "queries": {"q": 2.0}})
        name, _ = bench.newest_parseable_artifact(str(tmp_path), 4)
        assert name == "BENCH_r15.json"

    def test_skips_other_or_missing_parallelism(self, tmp_path):
        """A local[4] run diffed against a local[32] baseline read
        −60% to −75% on every query from core count alone; an artifact
        that never recorded its parallelism is just as incomparable."""
        self._write(tmp_path, 16, {"value": 3.0, "queries": {"q": 3.0}})
        self._write(tmp_path, 17, {"value": 2.0, "queries": {"q": 2.0},
                                   "default_parallelism": None})
        self._write(tmp_path, 18, {"value": 1.0, "queries": {"q": 1.0},
                                   "default_parallelism": 32})
        name, _ = bench.newest_parseable_artifact(str(tmp_path), 4)
        assert name == "BENCH_r16.json"
        name, _ = bench.newest_parseable_artifact(str(tmp_path), 32)
        assert name == "BENCH_r18.json"
        assert bench.newest_parseable_artifact(str(tmp_path), 8) is None


class TestTailCaptureRehearsal:
    """End-to-end rehearsal of the downstream capture: combined
    stdout+stderr stream -> keep the LAST 2000 chars -> extract the last
    parseable JSON line. Round 15 failed exactly this gauntlet (the
    committed tails show stage-progress stderr interleaved around the
    record, and the 3,973-char single line lost its head); this pin
    proves the r16 two-line contract survives it with margin."""

    def test_full_size_run_survives_capture(self):
        import json

        compact, side = bench.split_output(
            TestOutputSplit._full_size_out()
        )
        # the stream as the capture sees it: noisy stderr diagnostics
        # before, between-run progress, the metrics line, the final
        # line, and a late stderr straggler after
        stream = (
            "# pipe_simhash: 2.091s (271530 rows)\n"
            "[Stage 2665:=========>            (19 + 13) / 32]\r\r\n"
            + json.dumps(side) + "\n"
            + json.dumps(compact) + "\n"
            + "# late shutdown message\n"
        )
        tail = stream[-2000:]
        parsed = None
        for line in tail.splitlines():
            try:
                cand = json.loads(line)
            except ValueError:
                continue
            if isinstance(cand, dict):
                parsed = cand
        assert parsed is not None, "no parseable JSON line in the tail"
        # the record the driver needs, intact after capture
        assert parsed["metric"] == "headline_total_runtime"
        for k in ("value", "queries", "plan_fp", "default_parallelism",
                  "delta_vs_prev"):
            assert k in parsed, f"capture lost {k}"

    def test_each_line_fits_one_atomic_pipe_write(self):
        """Both stdout lines must stay under the 4096-byte PIPE_BUF
        atomicity bound individually (bench.py flushes them separately
        for exactly this guarantee) — a torn final line is the r15
        failure all over again."""
        import json

        compact, side = bench.split_output(
            TestOutputSplit._full_size_out()
        )
        assert len(json.dumps(compact)) + 1 < 4096
        assert len(json.dumps(side)) + 1 < 4096
