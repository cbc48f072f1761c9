"""Property-based strategy parity: on random event streams, the relational
compilers must produce byte-identical emissions to the state machine.

Each hypothesis example costs a Spark round-trip, so examples are few but
adversarial: duplicate timestamps, interleaved users, all-group timeouts,
boundary gaps. Shrinking still gives a minimal counterexample on failure.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from php_ec_spark.engine import (
    compile_gap_sessions,
    compile_sequence,
    correlate_state_machine,
)
from php_ec_spark.rules import match_single_continuously, sequence_rule

T0 = dt.datetime(2024, 1, 1)

# events: (seconds offset 0..120 with collisions, user 1..2, type a/b/c)
EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120),
        st.integers(min_value=1, max_value=2),
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=1,
    max_size=14,
)


def _df(spark, evs):
    rows = [
        (i, T0 + dt.timedelta(seconds=s), u, t, float(i), None)
        for i, (s, u, t) in enumerate(evs)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


def _rows(df):
    out = []
    for r in df.collect():
        out.append(
            (
                r["rule"], r["key"], r["outcome"], r["fire_ts"],
                r["start_event_id"], r["last_event_id"], r["n_events"],
                None if r["value_sum"] is None else round(r["value_sum"], 6),
            )
        )
    return sorted(out, key=str)


@pytest.mark.slow
class TestPropertyParity:
    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=EVENTS)
    def test_sequence_parity(self, spark, evs):
        rule = sequence_rule("s", ["a", "b", "c"], key="user_id", timeout="PT30S")
        df = _df(spark, evs)
        assert _rows(compile_sequence(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=EVENTS)
    def test_no_timeout_sequence_parity(self, spark, evs):
        # never-times-out: only the outcome = 'completed' rows survive
        rule = sequence_rule("s", ["a", "b", "c"], key="user_id", timeout=None)
        df = _df(spark, evs)
        assert _rows(compile_sequence(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=1, max_value=2),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2, max_size=16,
    ))
    def test_dense_tie_sequence_parity(self, spark, evs):
        # four distinct timestamps for up to 16 events: most steps are
        # ordered by event_id alone, and the 2 s timeout cuts some chains
        rule = sequence_rule("s", ["a", "b", "c"], key="user_id", timeout="PT2S")
        df = _df(spark, evs)
        assert _rows(compile_sequence(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=EVENTS)
    def test_gap_session_parity(self, spark, evs):
        rule = match_single_continuously("g", ["*"], key="user_id", timeout="PT20S")
        df = _df(spark, evs)
        assert _rows(compile_gap_sessions(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=1, max_value=2),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=2, max_size=16,
    ))
    def test_four_step_sequence_parity(self, spark, evs):
        rule = sequence_rule("s4", ["a", "b", "c", "d"], key="user_id", timeout="PT40S")
        df = _df(spark, evs)
        assert _rows(compile_sequence(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=EVENTS)
    def test_chain_trim_vs_pandas_reference(self, spark, evs):
        """trimEventChain semantics checked against an INDEPENDENT model:
        the final rolling buffer per key must equal the last-N rows of a
        plain pandas groupby (no engine code shared)."""
        import pandas as pd

        rule = match_single_continuously(
            "roll", ["a"], key="user_id", chain_limit=3, emit_final=True
        )
        df = _df(spark, evs)
        got = {
            r["key"]: (r["n_events"], r["start_event_id"], r["last_event_id"],
                       round(r["value_sum"], 6))
            for r in correlate_state_machine(df, [rule]).collect()
        }
        pdf = pd.DataFrame(
            [(i, s, u, t) for i, (s, u, t) in enumerate(evs)],
            columns=["event_id", "ts", "user_id", "event_type"],
        )
        pdf = pdf[pdf.event_type == "a"].sort_values(["ts", "event_id"])
        expected = {}
        for uid, g in pdf.groupby("user_id"):
            tail = g.tail(3)
            expected[str(uid)] = (
                len(tail),
                int(tail.event_id.iloc[0]),
                int(tail.event_id.iloc[-1]),
                round(float(tail.event_id.sum()), 6),  # value == event_id in _df
            )
        assert got == expected

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=EVENTS)
    def test_priority_suppress_parity_fixed_flags(self, spark, evs):
        # NOTE: this must not share a name with the random-flags variant
        # below — a duplicate method name silently shadows the first def
        # and pytest collects only one of them
        from php_ec_spark.engine.relational import compile_priority_suppress
        from php_ec_spark.rules import match_single

        rules = [
            match_single("s1", ["a"], key="user_id", suppress=True),
            match_single("s2", ["b", "c"], key="user_id", suppress=True),
            match_single("rest", ["*"], key="user_id"),
        ]
        df = _df(spark, evs)
        assert _rows(compile_priority_suppress(df, rules)) == _rows(
            correlate_state_machine(df, rules)
        )

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        evs=EVENTS,
        sup=st.tuples(st.booleans(), st.booleans(), st.booleans()),
    )
    def test_priority_suppress_parity(self, spark, evs, sup):
        """Random suppression flags over a 3-rule single-match stack (the
        shape strategies() priority-routes — stateless, non-continuous):
        the relational plan must equal the serial state machine for every
        flag combination (F8 ordering semantics)."""
        from php_ec_spark.engine.relational import (
            compile_priority_suppress,
            strategies,
        )
        from php_ec_spark.rules import match_single

        rules = [
            match_single("r_a", ["a"], key="user_id", suppress=sup[0]),
            match_single("r_bc", ["b", "c"], key="user_id", suppress=sup[1]),
            match_single("r_all", ["*"], key="user_id", suppress=sup[2]),
        ]
        # without a suppressor the set is three plain single matches
        assert set(strategies(rules).values()) == (
            {"priority-suppress"} if any(sup) else {"single-match"}
        )
        df = _df(spark, evs)
        assert _rows(compile_priority_suppress(df, rules)) == _rows(
            correlate_state_machine(df, rules)
        )

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(evs=EVENTS)
    def test_keyed_counter_parity(self, spark, evs):
        """The round-5 keyed-counter compile (two-stage aggregate) must be
        emission-identical to the state machine on adversarial streams —
        duplicate timestamps, interleaved keys, type-filtered subsets."""
        from php_ec_spark.engine.relational import compile_counter

        rule = match_single_continuously(
            "cnt", ["a", "b"], key="user_id", emit_final=True
        )
        df = _df(spark, evs)
        assert _rows(compile_counter(df, rule)) == _rows(
            correlate_state_machine(df, [rule])
        )
