"""Unit tests for clock semantics (clamp, historical) and strategy parity
of the new relational compilers against the state machine."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from php_ec_spark.engine import (
    compile_gap_sessions,
    compile_sequence,
    correlate,
    correlate_state_machine,
)
from php_ec_spark.model import (
    CONTROL_MSG_START,
    CONTROL_MSG_STOP,
    clamp_event_time,
    with_control_messages,
)
from php_ec_spark.rules import match_single_continuously, sequence_rule

T0 = dt.datetime(2024, 1, 1)


def _mk(spark, rows):
    """rows: (event_id, seconds_offset, user, type, value)"""
    data = [
        (eid, T0 + dt.timedelta(seconds=s), int(u), t, float(v), None)
        for eid, s, u, t, v in rows
    ]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


def _rows(df):
    cols = ["rule", "key", "outcome", "fire_ts", "start_event_id",
            "last_event_id", "n_events"]
    out = [tuple(r[c] for c in cols) + (round(r["value_sum"], 6) if r["value_sum"] is not None else None,)
           for r in df.collect()]
    return sorted(out, key=lambda x: (str(x), ))


class TestClampEventTime:
    def test_skewed_events_get_server_time(self, spark):
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 700, 1, "a", 1), (2, 300, 1, "a", 1)])
        now = F.lit("2024-01-01 00:00:00").cast("timestamp")
        out = {r["event_id"]: r["ts"] for r in clamp_event_time(df, now=now).collect()}
        assert out[0] == T0  # within tolerance, untouched
        assert out[1] == T0  # |700| > 600 → clamped to now
        assert out[2] == T0 + dt.timedelta(seconds=300)  # within, untouched

    def test_boundary_not_clamped(self, spark):
        df = _mk(spark, [(0, 600, 1, "a", 1)])
        now = F.lit("2024-01-01 00:00:00").cast("timestamp")
        out = clamp_event_time(df, now=now).collect()[0]
        assert out["ts"] == T0 + dt.timedelta(seconds=600)  # exactly 600 s: kept


class TestHistoricalIgnoreTimeout:
    RULE = sequence_rule(
        "h", ["a", "b"], key="user_id", timeout="PT10S",
        historical_ignore_timeout=True,
    )

    def test_late_completion_survives_history(self, spark):
        # b arrives 100 s after a — well past PT10S; in historical mode the
        # instance must stay alive and complete (AEventProcessor.php:377-383)
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 100, 1, "b", 2)])
        rows = _rows(correlate(df, [self.RULE], historical=True))
        assert len(rows) == 1
        assert rows[0][2] == "completed" and rows[0][6] == 2

    def test_no_timeout_rows_in_history(self, spark):
        df = _mk(spark, [(0, 0, 1, "a", 1)])  # never completed
        assert _rows(correlate(df, [self.RULE], historical=True)) == []

    def test_live_mode_still_times_out(self, spark):
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 100, 1, "b", 2)])
        rows = _rows(correlate(df, [self.RULE], historical=False))
        assert [r[2] for r in rows] == ["timeout"]


class TestSequenceCompilerParity:
    CASES = [
        # overlapping funnels, shared middle events, late steps
        [(0, 0, 1, "a", 1), (1, 5, 1, "b", 2), (2, 8, 1, "c", 3),
         (3, 2, 1, "a", 10), (4, 50, 1, "b", 4), (5, 51, 1, "c", 5),
         (6, 100, 2, "a", 1), (7, 101, 2, "c", 1)],
        # timeout at each step position
        [(0, 0, 1, "a", 1), (1, 100, 1, "b", 2), (2, 0, 2, "a", 1),
         (3, 5, 2, "b", 2), (4, 200, 2, "c", 3)],
    ]

    @pytest.mark.parametrize("rows", CASES)
    def test_three_step_matches_state_machine(self, spark, rows):
        rule = sequence_rule("f3", ["a", "b", "c"], key="user_id", timeout="PT10S")
        df = _mk(spark, rows)
        assert _rows(compile_sequence(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    def test_no_timeout_sequence(self, spark):
        rule = sequence_rule("f3", ["a", "b", "c"], key="user_id", timeout=None)
        df = _mk(spark, self.CASES[0])
        assert _rows(compile_sequence(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    def test_rejects_other_shapes(self, spark):
        gap = match_single_continuously("g", ["*"], key="user_id", timeout="PT10S")
        with pytest.raises(ValueError, match="does not compile to 'sequence-window'"):
            compile_sequence(_mk(spark, self.CASES[0]), gap)

    def test_plan_has_no_python(self, spark):
        rule = sequence_rule("f3", ["a", "b", "c"], key="user_id", timeout="PT10S")
        plan = compile_sequence(_mk(spark, self.CASES[0]), rule)._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan and "ArrowEvalPython" not in plan


class TestSequenceCompilerEdgeRows:
    """Rows the state machine never sees from ``load_events`` but a caller
    can hand ``compile_sequence``: NULL ts, NULL event_id, NULL key, ties
    on ts and one (ts, event_id) shared by two rows. The expected
    emissions were recorded from the sorted-successor-array kernel this
    compiler replaced, so they pin its exact semantics: a NULL-ts row
    never starts a chain nor joins one, and a tie joins a chain only with
    a greater event_id. The rows of the NULL-event_id starter (id None at
    5 s) are what ``correlate_state_machine`` emits for it: a NULL
    event_id sorts first among its ts, and a NULL-id step counts."""

    ROWS = [
        # (event_id, seconds offset, user, type, value)
        (0, 0, 1, "a", 1.0), (1, 0, 1, "b", 2.0), (None, 0, 1, "b", 3.0),
        (2, 5, 1, "a", 4.0), (None, 5, 1, "a", 5.0), (3, 5, 1, "b", 6.0),
        (None, 7, 1, "b", 7.0), (4, 7, 1, "b", 8.0), (5, 7, 1, "c", 9.0),
        (6, None, 1, "a", 10.0), (7, None, 1, "b", 11.0),
        (8, 9, 1, "b", 13.0), (8, 9, 1, "c", 12.0), (None, 9, 1, "c", 14.0),
        (9, 50, 1, "a", None), (None, 50, 1, "b", None), (10, 51, 1, "c", 2.5),
        (11, 0, 2, "a", 1.0), (12, 0, 2, "b", 1.0), (13, 0, 2, "c", 1.0),
        (14, 0, 2, "a", 1.0), (15, 0, 2, "b", 1.0), (16, 0, 2, "c", 1.0),
        (17, 100, 2, "a", 1.0), (18, 100, 2, "b", 2.0), (19, 200, 2, "c", 3.0),
        (20, 300, 2, "a", 1.0), (21, 300, 2, "b", 5.0), (21, 300, 2, "b", 2.0),
        (22, 300, 2, "c", 4.0),
        (23, 0, None, "a", 1.0), (24, 1, None, "b", 1.0), (25, 2, None, "c", 1.0),
    ]
    # (key, outcome, fire offset s, start id, last id, n_events, value_sum)
    EXPECTED = {
        ("t2", ("a", "b"), "PT10S"): [
            ("1", "completed", 0, 0, 1, 2, 3.0),
            ("1", "completed", 5, 2, 3, 2, 10.0),
            ("1", "completed", 5, None, 3, 2, 11.0),
            ("1", "timeout", 60, 9, 9, 1, None),
            ("1", "timeout", None, 6, 6, 1, 10.0),
            ("2", "completed", 0, 11, 12, 2, 2.0),
            ("2", "completed", 0, 14, 15, 2, 2.0),
            ("2", "completed", 100, 17, 18, 2, 3.0),
            ("2", "completed", 300, 20, 21, 2, 3.0),
            (None, "completed", 1, 23, 24, 2, 2.0),
        ],
        ("t3", ("a", "b", "c"), "PT30S"): [
            ("1", "completed", 7, 0, 5, 3, 12.0),
            ("1", "completed", 7, 2, 5, 3, 19.0),
            ("1", "completed", 7, None, 5, 3, 20.0),
            ("1", "timeout", 80, 9, 9, 1, None),
            ("1", "timeout", None, 6, 6, 1, 10.0),
            ("2", "completed", 0, 11, 13, 3, 3.0),
            ("2", "completed", 0, 14, 16, 3, 3.0),
            ("2", "completed", 300, 20, 22, 3, 7.0),
            ("2", "timeout", 130, 17, 18, 2, 3.0),
            (None, "completed", 2, 23, 25, 3, 3.0),
        ],
        ("n3", ("a", "b", "c"), None): [
            ("1", "completed", 7, 0, 5, 3, 12.0),
            ("1", "completed", 7, 2, 5, 3, 19.0),
            ("1", "completed", 7, None, 5, 3, 20.0),
            ("2", "completed", 0, 11, 13, 3, 3.0),
            ("2", "completed", 0, 14, 16, 3, 3.0),
            ("2", "completed", 200, 17, 19, 3, 6.0),
            ("2", "completed", 300, 20, 22, 3, 7.0),
            (None, "completed", 2, 23, 25, 3, 3.0),
        ],
    }

    @staticmethod
    def _frame(spark, rows):
        data = [
            (e, None if s is None else T0 + dt.timedelta(seconds=s), u, t, v, None)
            for e, s, u, t, v in rows
        ]
        return spark.createDataFrame(
            data,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    @staticmethod
    def _got(emissions):
        return sorted((
            (r["key"], r["outcome"],
             None if r["fire_ts"] is None
             else int((r["fire_ts"] - T0).total_seconds()),
             r["start_event_id"], r["last_event_id"], r["n_events"],
             r["value_sum"])
            for r in emissions.collect()
        ), key=str)

    @pytest.mark.parametrize("case", list(EXPECTED), ids=lambda c: c[0])
    def test_matches_recorded_emissions(self, spark, case):
        name, types, timeout = case
        rule = sequence_rule(name, list(types), key="user_id", timeout=timeout)
        got = self._got(compile_sequence(self._frame(spark, self.ROWS), rule))
        assert got == self.EXPECTED[case]

    def test_null_ts_timeout_is_null_in_both_strategies(self, spark):
        """A NULL-ts event arms a timeout whose instant is NULL too: the
        state machine used to arm NaT-sentinel + timeout, a 1677 instant
        Arrow refused to cast (the whole query failed)."""
        df = self._frame(spark, [(1, 0, 1, "a", 1.0), (2, None, 1, "a", 2.0)])
        rule = sequence_rule("ab", ["a", "b"], key="user_id", timeout="PT30S")
        want = [
            ("1", "timeout", 30, 1, 1, 1, 1.0),
            ("1", "timeout", None, 2, 2, 1, 2.0),
        ]
        assert self._got(compile_sequence(df, rule)) == want
        assert self._got(correlate_state_machine(df, [rule])) == want

    def test_edge_rows_run_through_the_state_machine(self, spark):
        rule = sequence_rule("t3", ["a", "b", "c"], key="user_id", timeout="PT30S")
        got = self._got(
            correlate_state_machine(self._frame(spark, self.ROWS), [rule])
        )
        assert ("1", "completed", 7, 0, 5, 3, 12.0) in got


class TestGapSessionParity:
    @pytest.mark.parametrize("rows", [
        [(0, 0, 1, "a", 1), (1, 5, 1, "b", 2), (2, 30, 1, "a", 3),
         (3, 31, 1, "b", 1), (4, 100, 1, "a", 1),
         (5, 0, 2, "a", 7)],
        [(0, 0, 1, "a", 1), (1, 10, 1, "a", 1), (2, 20, 1, "a", 1)],
    ])
    def test_sessions_match_state_machine(self, spark, rows):
        rule = match_single_continuously("g", ["*"], key="user_id", timeout="PT10S")
        df = _mk(spark, rows)
        assert _rows(compile_gap_sessions(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    def test_exact_gap_boundary_stays_in_session(self, spark):
        # gap == timeout exactly: accepted (ts <= deadline) → one session
        rule = match_single_continuously("g", ["a"], key="user_id", timeout="PT10S")
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 10, 1, "a", 1)])
        rows = _rows(compile_gap_sessions(df, rule))
        assert len(rows) == 1 and rows[0][6] == 2

    def test_rejects_other_shapes(self, spark):
        # a raised error, not an assert: ``python -O`` strips asserts
        seq = sequence_rule("s", ["a", "b"], key="user_id", timeout="PT10S")
        with pytest.raises(ValueError, match="does not compile to 'gap-sessions'"):
            compile_gap_sessions(_mk(spark, [(0, 0, 1, "a", 1)]), seq)


class TestCronExpressions:
    def _span(self, spark, start, end):
        return _mk(spark, [(0, 0, 1, "a", 1)]).select(
            F.lit(0).alias("event_id"),
            F.explode(F.array(
                F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
            )).alias("ts"),
            F.lit(1).alias("user_id"), F.lit("a").alias("event_type"),
            F.lit(1.0).alias("value"), F.lit(None).cast("string").alias("props"),
        )

    def test_fields_and_steps(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-02 00:00:00")
        fires = [r["fire_ts"] for r in
                 cron_expression_fires(ev, "15 */8 * * *").orderBy("fire_ts").collect()]
        # day-2 00:15 falls past the stream's max ts and must not fire
        assert [f.hour for f in fires] == [0, 8, 16]
        assert all(f.minute == 15 for f in fires)

    def test_day_of_week(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        # 2024-01-01 is a Monday; dow=1 should fire Mondays only
        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-14 23:59:00")
        fires = [r["fire_ts"] for r in
                 cron_expression_fires(ev, "0 12 * * 1").orderBy("fire_ts").collect()]
        assert [f.day for f in fires] == [1, 8]

    def test_dow_range_with_seven(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        # 2024-01-05 is a Friday; 5-7 = Fri,Sat,Sun (7 ≡ 0 ≡ Sunday)
        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-08 23:59:00")
        fires = [r["fire_ts"] for r in
                 cron_expression_fires(ev, "0 12 * * 5-7").orderBy("fire_ts").collect()]
        assert [f.day for f in fires] == [5, 6, 7]

    def test_range_step_anchors_at_range_start(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        # standard cron: 10-30/15 on minutes fires at :10 and :25
        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-01 00:59:00")
        fires = [r["fire_ts"].minute for r in
                 cron_expression_fires(ev, "10-30/15 * * * *").orderBy("fire_ts").collect()]
        assert fires == [10, 25]

    def test_timezone_evaluation(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-01 23:59:00")
        # 09:00 in UTC+9 is 00:00 UTC
        fires = [r["fire_ts"] for r in
                 cron_expression_fires(ev, "0 9 * * *", tz="Asia/Tokyo").collect()]
        assert len(fires) == 1 and fires[0].hour == 0

    def test_macro_tokens_expand(self, spark):
        """Cron.php:38-45 sugar: @hourly ≡ '0 * * * *', @daily ≡ '0 0 * * *'."""
        from php_ec_spark.functions import cron_expression_fires

        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-03 00:00:00")
        for token, expr in [("@hourly", "0 * * * *"), ("@daily", "0 0 * * *"),
                            ("@weekly", "0 0 * * 0")]:
            a = [r["fire_ts"] for r in
                 cron_expression_fires(ev, token).orderBy("fire_ts").collect()]
            b = [r["fire_ts"] for r in
                 cron_expression_fires(ev, expr).orderBy("fire_ts").collect()]
            assert a == b and (token == "@weekly" or len(a) > 0)

    def test_reboot_fires_on_start_control_row(self, spark):
        """@reboot ≡ fire when the initialisation event arrives
        (Cron.php:50,118-132 — initialAcceptedEvents)."""
        from php_ec_spark.functions import cron_expression_fires
        from php_ec_spark.model import with_control_messages

        ev = self._span(spark, "2024-01-01 05:00:00", "2024-01-02 00:00:00")
        fires = cron_expression_fires(
            with_control_messages(spark, ev), "@reboot", name="boot"
        ).collect()
        assert len(fires) == 1
        assert str(fires[0]["fire_ts"]) == "2024-01-01 05:00:00"
        assert fires[0]["rule"] == "boot" and fires[0]["outcome"] == "scheduled"
        # without the control injection there is nothing to fire on
        assert cron_expression_fires(ev, "@reboot").count() == 0

    def test_shutdown_fires_on_stop_control_row(self, spark):
        from php_ec_spark.functions import cron_expression_fires
        from php_ec_spark.model import with_control_messages

        ev = self._span(spark, "2024-01-01 05:00:00", "2024-01-02 00:00:00")
        fires = cron_expression_fires(
            with_control_messages(spark, ev), "@shutdown"
        ).collect()
        assert len(fires) == 1
        assert str(fires[0]["fire_ts"]) == "2024-01-02 00:00:00"


class TestPrioritySuppressCompiler:
    def test_matches_state_machine(self, spark):
        from php_ec_spark.engine.relational import compile_priority_suppress
        from php_ec_spark.rules import match_single

        rules = [
            match_single("err", ["a"], key="user_id", suppress=True),
            match_single("all", ["*"], key="user_id"),
        ]
        rows = [(0, 0, 1, "a", 1), (1, 1, 1, "b", 2), (2, 2, 2, "a", 3),
                (3, 3, 2, "c", 4)]
        df = _mk(spark, rows)
        fast = sorted(map(str, compile_priority_suppress(df, rules).collect()))
        slow = sorted(map(str, correlate_state_machine(df, rules).collect()))
        assert fast == slow

    def test_plan_is_stateless(self, spark):
        from php_ec_spark.engine import correlate
        from php_ec_spark.rules import match_single

        rules = [
            match_single("err", ["a"], key="user_id", suppress=True),
            match_single("all", ["*"], key="user_id"),
        ]
        plan = correlate(_mk(spark, [(0, 0, 1, "a", 1)]), rules)._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan

    def test_chain_accessors(self):
        from php_ec_spark.rules.chain import (
            chain_duration_s,
            chain_value_sum,
            events_of_type,
            first_event,
            first_event_of_type,
            last_event,
        )

        chain = [
            {"event_id": 0, "ts_ns": 0, "event_type": "a", "value": 1.0},
            {"event_id": 1, "ts_ns": 5_000_000_000, "event_type": "b", "value": 2.0},
            {"event_id": 2, "ts_ns": 9_000_000_000, "event_type": "a", "value": None},
        ]
        assert first_event(chain)["event_id"] == 0
        assert last_event(chain)["event_id"] == 2
        assert [e["event_id"] for e in events_of_type(chain, "a")] == [0, 2]
        assert first_event_of_type(chain, "b")["event_id"] == 1
        assert chain_value_sum(chain) == 3.0
        assert chain_duration_s(chain) == 9.0
        assert first_event([]) is None and chain_value_sum([]) is None


class TestKeyedCounterParity:
    """compile_counter (groupBy + two-stage agg) must emit exactly
    what the state machine would for the keyed continuous counter shape —
    per-key chain stats in stream order, fired at the key's last event."""

    CASES = [
        # several keys, interleaved times, a duplicate timestamp tie
        [(0, 0, 1, "a", 1), (1, 5, 2, "a", 2), (2, 5, 1, "b", 3),
         (3, 9, 2, "a", 4), (4, 1, 3, "b", 5), (5, 0, 1, "a", 7)],
        # single hot key plus a singleton
        [(0, 0, 1, "a", 1), (1, 1, 1, "a", 1), (2, 2, 1, "a", 1),
         (3, 3, 1, "a", 1), (4, 4, 2, "a", 9)],
    ]

    @pytest.mark.parametrize("rows", CASES)
    def test_matches_state_machine(self, spark, rows):
        from php_ec_spark.engine.relational import compile_counter

        rule = match_single_continuously(
            "cnt", ["*"], key="user_id", emit_final=True
        )
        df = _mk(spark, rows)
        assert _rows(compile_counter(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    def test_type_filtered_counter(self, spark):
        from php_ec_spark.engine.relational import compile_counter

        rule = match_single_continuously(
            "cnt", ["a"], key="user_id", emit_final=True
        )
        df = _mk(spark, self.CASES[0])
        assert _rows(compile_counter(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    def test_correlate_routes_keyed_counter_off_state_machine(self, spark):
        rule = match_single_continuously(
            "cnt", ["*"], key="user_id", emit_final=True
        )
        plan = (
            correlate(_mk(spark, self.CASES[0]), [rule])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


class TestPlanReport:
    def test_strategies(self):
        from php_ec_spark.engine import strategies
        from php_ec_spark.rules import (
            match_single,
            match_single_continuously,
            sequence_rule,
        )

        rules = [
            sequence_rule("seq", ["a", "b", "c"], key="user_id", timeout="PT1M"),
            match_single_continuously("gap", ["*"], key="user_id", timeout="PT1M"),
            match_single("one", ["a"], key="user_id"),
            match_single_continuously("cnt", ["*"], key=None, emit_final=True),
            match_single_continuously("kcnt", ["*"], key="user_id", emit_final=True),
            sequence_rule("dup", ["a", "a"], key="user_id", timeout="PT1M"),
        ]
        assert strategies(rules) == {
            "seq": "sequence-window",
            "gap": "gap-sessions",
            "one": "single-match",
            "cnt": "keyless-counter",
            "kcnt": "keyed-counter",
            "dup": "state-machine",  # repeated types need per-class dedup
        }
        # historical mode pushes timeout-bearing H_I_T rules off the window plan
        h = sequence_rule("h", ["a", "b"], key="user_id", timeout="PT1M",
                          historical_ignore_timeout=True)
        assert strategies([h], historical=True) == {"h": "state-machine"}
        sup = [match_single("s", ["a"], key="user_id", suppress=True),
               match_single("r", ["*"], key="user_id")]
        assert strategies(sup) == {"s": "priority-suppress", "r": "priority-suppress"}

    def test_boundary_shapes(self):
        """Each shape sits next to a relational one and differs from it in
        one flag, so each takes the state machine."""
        from php_ec_spark.engine import strategies
        from php_ec_spark.rules import (
            Rule,
            match_single,
            match_single_continuously,
            sequence_rule,
        )

        rules = [
            # gap-sessions, but with an end-of-stream 'final' row
            match_single_continuously("gap_final", ["*"], key="user_id",
                                      timeout="PT1M", emit_final=True),
            # gap-sessions, but keyless
            match_single_continuously("gap_keyless", ["*"], key=None,
                                      timeout="PT1M"),
            # keyed-counter, but nothing reports the count
            match_single_continuously("cnt_silent", ["*"], key="user_id"),
            # single-match, but with a 'final' row
            match_single("one_final", ["a"], key="user_id", emit_final=True),
            # sequence-window, but one step is a wildcard
            sequence_rule("seq_any", ["a", "*"], key="user_id", timeout="PT1M"),
            # sequence-window, but trimmed
            sequence_rule("seq_trim", ["a", "b"], key="user_id",
                          timeout="PT1M", chain_limit=1),
            # sequence-window, but one step accepts two types
            Rule("seq_multi", [["a"], ["b", "c"]], key="user_id",
                 timeout="PT1M"),
        ]
        assert strategies(rules) == dict.fromkeys(
            (r.name for r in rules), "state-machine"
        )
        # a suppressing set is priority-routed only if every rule in it is
        # a single match; one continuous rule makes the whole set serial
        sup = [match_single("s", ["a"], key="user_id", suppress=True),
               match_single_continuously("c", ["*"], key="user_id",
                                         emit_final=True)]
        assert strategies(sup) == {"s": "state-machine", "c": "state-machine"}

    def test_historical_ignore_timeout_single_match(self, spark):
        """A one-group non-continuous rule completes on its first event and
        never waits on a deadline, so HISTORICAL_IGNORE_TIMEOUT under
        historical replay changes nothing it emits: it stays a single
        match, alone and inside a suppressing set."""
        from php_ec_spark.engine import strategies
        from php_ec_spark.rules import Rule, match_single

        hit = Rule("hit", [["a"]], key="user_id", timeout="PT10S",
                   historical_ignore_timeout=True)
        assert strategies([hit], historical=True) == {"hit": "single-match"}
        sup = [match_single("s", ["b"], key="user_id", suppress=True), hit]
        assert strategies(sup, historical=True) == dict.fromkeys(
            ("s", "hit"), "priority-suppress"
        )
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 30, 1, "a", 2),
                         (2, 31, 1, "b", 3), (3, 5, 2, "a", 4)])
        for rules in ([hit], sup):
            assert _rows(correlate(df, rules, historical=True)) == _rows(
                correlate_state_machine(df, rules, historical=True)
            )


class TestNullEventId:
    """A NULL event_id reaches EngineCore as None: the batch runner and
    the live handler share one event feed (``batch._event_tuples``)."""

    def test_state_machine_takes_null_event_id_step(self, spark):
        rule = sequence_rule("ab", ["a", "b"], key="user_id", timeout="PT10S")
        df = _mk(spark, [(0, 0, 1, "a", 1), (None, 2, 1, "b", 2)])
        assert _rows(correlate_state_machine(df, [rule])) == [
            ("ab", "1", "completed", T0 + dt.timedelta(seconds=2), 0, None,
             2, 3.0),
        ]

    def test_sequence_kernel_takes_null_event_id_step(self, spark):
        """``compile_sequence`` counts an accepted step whatever its id, so
        it emits what the state machine emits for the same rows."""
        rule = sequence_rule("ab", ["a", "b"], key="user_id", timeout="PT10S")
        df = _mk(spark, [(0, 0, 1, "a", 1), (None, 2, 1, "b", 2)])
        assert _rows(compile_sequence(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    def test_event_tuples_null_id_and_value(self):
        import numpy as np

        from php_ec_spark.engine.batch import _event_tuples

        evs = _event_tuples(
            np.array([1.0, np.nan, 3.0]),  # a nullable bigint with a NULL
            np.array([10, 20, 30], dtype="int64"),
            np.array(["a", "b", None], dtype=object),
            np.array([0.5, np.nan, 2.0]),
        )
        assert evs == [(1, 10, "a", 0.5), (None, 20, "b", None),
                       (3, 30, None, 2.0)]
        assert [type(e[0]) for e in evs] == [int, type(None), int]
        assert all(type(e[1]) is int for e in evs)
        # a NULL-free id column stays int64 and passes through as ints
        (ev,) = _event_tuples(np.array([7], dtype="int64"),
                              np.array([1], dtype="int64"),
                              np.array(["a"], dtype=object), np.array([1.0]))
        assert ev == (7, 1, "a", 1.0) and type(ev[0]) is int


class TestErrorQuarantine:
    """The reference panics when a rule throws (Scheduler.php:339-349);
    we quarantine the failure per instance instead."""

    def test_throwing_on_complete_emits_error_row(self, spark):
        from php_ec_spark.rules import sequence_rule

        def boom(chain, key):
            raise RuntimeError("bad rule")

        rule = sequence_rule("b", ["a", "b"], key="user_id", timeout="PT10S",
                             on_complete=boom)
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 1, 1, "b", 2),
                         (2, 0, 2, "a", 5)])
        rows = correlate_state_machine(df, [rule]).collect()
        by = {(r["key"], r["outcome"]) for r in rows}
        assert ("1", "error") in by        # quarantined, not crashed
        assert ("2", "timeout") in by      # other keys unaffected
        err = [r for r in rows if r["outcome"] == "error"][0]
        assert "bad rule" in err["payload"]

    def test_throwing_accept_rejects_and_reports(self, spark):
        from php_ec_spark.rules import match_single

        def bad_accept(ev, chain):
            if ev["event_type"] == "a":
                raise ValueError("nope")
            return True

        rule = match_single("m", ["a", "b"], key="user_id", accept=bad_accept)
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 1, 1, "b", 2)])
        rows = correlate_state_machine(df, [rule]).collect()
        outcomes = sorted((r["outcome"], r["start_event_id"]) for r in rows)
        assert outcomes == [("completed", 1), ("error", 0)]


class TestControlMessages:
    def test_start_sorts_before_stream_and_stop_after(self, spark):
        df = _mk(spark, [(0, 0, 1, "a", 1), (1, 5, 1, "b", 2)])
        out = with_control_messages(spark, df).orderBy("ts", "event_id").collect()
        assert out[0]["event_type"] == CONTROL_MSG_START
        assert out[0]["event_id"] == -1 and out[0]["ts"] == T0
        assert out[-1]["event_type"] == CONTROL_MSG_STOP
        assert out[-1]["event_id"] == 2

    def test_empty_input(self, spark):
        df = _mk(spark, []).limit(0)
        out = with_control_messages(spark, df).collect()
        assert {r["event_type"] for r in out} == {CONTROL_MSG_START, CONTROL_MSG_STOP}


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


class TestCronStandardSemantics:
    """Round-6 review fixes: the Vixie day-matching OR rule, 'N/step'
    expansion, and loud rejection of impossible field values."""

    def _span(self, spark, lo, hi):
        import datetime as dtm

        f = "%Y-%m-%d %H:%M:%S"
        return spark.createDataFrame(
            [(0, dtm.datetime.strptime(lo, f), 1, "x", 1.0, None),
             (1, dtm.datetime.strptime(hi, f), 1, "x", 1.0, None)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    def test_dom_dow_or_rule(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        # standard cron: when BOTH dom and dow are restricted the day
        # matches if EITHER does. Jan 2024: the 13th is a Saturday;
        # Fridays are 5,12,19,26 — '0 0 13 * 5' must fire on ALL of
        # 5,12,13,19,26 (an AND would fire on none of them).
        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-31 23:59:00")
        fires = sorted(
            r["fire_ts"].day
            for r in cron_expression_fires(ev, "0 0 13 * 5").collect()
        )
        assert fires == [5, 12, 13, 19, 26]

    def test_dom_only_and_dow_only_still_exact(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-31 23:59:00")
        dom_only = sorted(
            r["fire_ts"].day
            for r in cron_expression_fires(ev, "0 0 13 * *").collect()
        )
        assert dom_only == [13]
        dow_only = sorted(
            r["fire_ts"].day
            for r in cron_expression_fires(ev, "0 0 * * 5").collect()
        )
        assert dow_only == [5, 12, 19, 26]

    def test_value_slash_step_expands_to_max(self, spark):
        from php_ec_spark.functions import cron_expression_fires

        # standard cron: '5/15' in the minute field = 5-59/15 = 5,20,35,50
        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-01 00:59:00")
        fires = [r["fire_ts"].minute for r in
                 cron_expression_fires(ev, "5/15 * * * *")
                 .orderBy("fire_ts").collect()]
        assert fires == [5, 20, 35, 50]

    def test_out_of_range_value_raises(self, spark):
        import pytest as _pytest

        from php_ec_spark.functions import cron_expression_fires

        ev = self._span(spark, "2024-01-01 00:00:00", "2024-01-01 00:59:00")
        with _pytest.raises(ValueError, match="out of range"):
            cron_expression_fires(ev, "99 * * * *")
        with _pytest.raises(ValueError, match="out of range"):
            cron_expression_fires(ev, "0 0 32 * *")


class TestCronFuzz:
    """cron_expression_fires vs an INDEPENDENT minute-loop evaluator (no
    engine code shared): random field specs over a 3-day span."""

    def _py_fires(self, expr, start, end):
        import datetime as dt

        def field_ok(spec, value, lo, hi, dow=False):
            if spec == "*":
                return True
            allowed = set()
            for part in spec.split(","):
                step = 1
                if "/" in part:
                    part, s = part.split("/", 1)
                    step = int(s)
                if part == "*":
                    rng = range(lo, hi + 1)
                elif "-" in part:
                    a, b = part.split("-", 1)
                    rng = range(int(a), int(b) + 1)
                else:
                    rng = range(int(part), int(part) + 1)
                vals = [v for v in rng if (v - rng.start) % step == 0]
                allowed.update((v % 7 for v in vals) if dow else vals)
            return value in allowed

        m, h, dom, mon, dow = expr.split()
        out, t = [], start.replace(second=0, microsecond=0)
        while t <= end:
            # python weekday(): Mon=0..Sun=6; cron: Sun=0
            cron_dow = (t.weekday() + 1) % 7
            if (field_ok(m, t.minute, 0, 59) and field_ok(h, t.hour, 0, 23)
                    and field_ok(dom, t.day, 1, 31) and field_ok(mon, t.month, 1, 12)
                    and field_ok(dow, cron_dow, 0, 7, dow=True)):
                out.append(t)
            t += dt.timedelta(minutes=1)
        return out

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        minute=st.sampled_from(["*", "0", "30", "*/15", "10-40/10", "5,35"]),
        hour=st.sampled_from(["*", "0", "12", "*/6", "8-18/3", "1,13"]),
        dow=st.sampled_from(["*", "0", "1-5", "5-7", "*/2"]),
    )
    def test_expression_fuzz_vs_minute_loop(self, spark, minute, hour, dow):
        import datetime as dt

        from php_ec_spark.functions import cron_expression_fires

        expr = f"{minute} {hour} * * {dow}"
        ev = TestCronExpressions._span(
            TestCronExpressions(), spark,
            "2024-03-30 06:30:00", "2024-04-02 01:10:00",  # month boundary
        )
        got = [r["fire_ts"] for r in
               cron_expression_fires(ev, expr).orderBy("fire_ts").collect()]
        want = self._py_fires(
            expr, dt.datetime(2024, 3, 30, 6, 30), dt.datetime(2024, 4, 2, 1, 10)
        )
        assert got == want, expr
