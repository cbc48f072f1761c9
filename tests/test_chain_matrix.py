"""``chain_correlate`` against a pure-Python chain replay with
``EngineCore``, over the rule-set shapes whose rounds the chain builds
differently: a relational producer (one lazy plan), a state-machine
producer and a suppressing round (pinned and counted), a ``'*'`` cycle
(the pinned loop, stopped by the first empty round), a depth-3 chain and
a gap-session producer, each at two depth caps, with and without
historical replay."""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

import pytest

from php_ec_spark.engine import chain as chain_mod
from php_ec_spark.engine import chain_correlate
from php_ec_spark.engine.chain import OUTCOME_CODES, _OUTCOME_STRIDE
from php_ec_spark.engine.core import EngineCore
from php_ec_spark.rules import (
    Rule,
    match_single,
    match_single_continuously,
    sequence_rule,
)
from php_ec_spark.rules.base import EVENT_MATCH_ANY

EPOCH = dt.datetime(1970, 1, 1)
T0 = dt.datetime(2024, 1, 1)

# (event_id, seconds offset, user, type, value)
EVENTS = [
    (0, 0, 1, "a", 1.0), (1, 4, 1, "b", 7.0), (2, 30, 1, "a", 2.0),
    (3, 45, 1, "b", 3.0), (4, 50, 1, "a", 9.0), (5, 52, 1, "c", 1.0),
    (6, 3, 2, "a", 4.0), (7, 20, 2, "a", 5.0), (8, 21, 2, "b", 6.0),
    (9, 40, 2, "c", 2.0), (10, 41, 2, "b", 1.0),
    (11, 10, 3, "b", 2.0), (12, 11, 3, "a", 8.0), (13, 90, 3, "a", 1.0),
]


SHAPES = {
    "relational_producer": lambda: [
        sequence_rule("pay", ["a", "b"], timeout="PT10S"),
        match_single("remind", ["pay:timeout"]),
    ],
    "state_machine_producer": lambda: [
        # accept steps worth at most 5 (a lambda pickles by value, so
        # the Python workers need not import this module)
        sequence_rule("pay", ["a", "b"], timeout="PT10S",
                      accept=lambda ev, chain: (ev["value"] or 0.0) <= 5.0),
        match_single("remind", ["pay:timeout"]),
    ],
    "suppressing_round0": lambda: [
        match_single("s", ["a"], suppress=True),
        match_single("r", ["a", "b"]),
        match_single("t", ["r:completed"]),
    ],
    "wildcard_cycle": lambda: [Rule("pair", [["*"], ["*"]], key="user_id")],
    "depth3": lambda: [
        sequence_rule("p", ["a", "b"], timeout="PT10S",
                      historical_ignore_timeout=True),
        match_single("q", ["p:completed", "p:timeout"]),
        match_single("z", ["q:completed"]),
    ],
    "gap_session_producer": lambda: [
        match_single_continuously("sess", ["a", "b"], timeout="PT10S"),
        match_single("after", ["sess:timeout"]),
    ],
}


def _df(spark):
    rows = [(e, T0 + dt.timedelta(seconds=s), u, t, v, None)
            for e, s, u, t, v in EVENTS]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _replay_round(rules, events, historical) -> list:
    """One round: each rule alone over each key's events of the types it
    consumes, or the whole set in one serial pass when a rule suppresses
    (rule order is then semantic). ``events``: (id, ts_ns, type, value,
    key) tuples."""
    by_key: dict = defaultdict(list)
    for ev in sorted(events, key=lambda e: (e[1], e[0])):
        by_key[ev[4]].append(ev[:4])
    groups = [rules] if any(r.suppress for r in rules) else [[r] for r in rules]
    rows: list = []
    for group in groups:
        types = {t for r in group for g in r.events for t in g}
        for key, evs in by_key.items():
            mine = [e for e in evs if EVENT_MATCH_ANY in types or e[2] in types]
            if not mine:
                continue
            core = EngineCore(group, key, historical=historical)
            for ev in mine:
                core.handle(ev)
            core.finish(mine[-1][1])
            rows.extend(core.take_rows())
    return rows


def _chain_replay(rules, events, max_depth, historical) -> list:
    """Every rule runs each round (a rule that can consume no derived
    type emits nothing); emissions become events as
    ``emissions_to_events`` maps them; the first empty round stops."""
    index = {r.name: i for i, r in enumerate(rules)}
    out: list = []
    for _ in range(max_depth):
        rows = _replay_round(rules, events, historical)
        if not rows:
            break
        out.extend(rows)
        events = []
        for rule, key, outcome, fire_ns, _s, last, _n, vsum, _p in rows:
            m = last * 2 if last >= 0 else last * -2 - 1
            code = OUTCOME_CODES.get(outcome, len(OUTCOME_CODES))
            eid = -((m * len(index) + index[rule]) * _OUTCOME_STRIDE + code) - 2
            events.append((eid, fire_ns, f"{rule}:{outcome}", vsum, key))
    return out


def _canonical(rows) -> list:
    return sorted(
        (rule, key, outcome, fire_us, start, last, n,
         None if vsum is None else round(vsum, 6))
        for rule, key, outcome, fire_us, start, last, n, vsum in rows
    )


def _spark_rows(df) -> list:
    return _canonical(
        (r["rule"], r["key"], r["outcome"],
         (r["fire_ts"] - EPOCH) // dt.timedelta(microseconds=1),
         r["start_event_id"], r["last_event_id"], r["n_events"], r["value_sum"])
        for r in df.collect()
    )


def _reference_rows(rules, max_depth, historical) -> list:
    events = [(e, (T0 - EPOCH + dt.timedelta(seconds=s)) // dt.timedelta(
        microseconds=1) * 1000, t, v, str(u)) for e, s, u, t, v in EVENTS]
    return _canonical(
        (rule, key, outcome, fire_ns // 1000, start, last, n, vsum)
        for rule, key, outcome, fire_ns, start, last, n, vsum, _p
        in _chain_replay(rules, events, max_depth, historical)
    )


@pytest.mark.parametrize("historical", [False, True], ids=["live", "historical"])
@pytest.mark.parametrize("max_depth", [2, 5])
@pytest.mark.parametrize("shape", list(SHAPES))
def test_matches_engine_core_chain_replay(spark, shape, max_depth, historical):
    rules = SHAPES[shape]()
    want = _reference_rows(rules, max_depth, historical)
    assert want, "every shape emits in round 0"
    got = _spark_rows(
        chain_correlate(_df(spark), rules, max_depth=max_depth,
                        historical=historical)
    )
    assert got == want


def test_relational_chain_builds_without_a_job(spark):
    """The online-shop chain shape (a sequence rule's timeouts feed a
    single match) is one lazy plan: building it starts no Spark job."""
    rules = SHAPES["relational_producer"]()
    events = _df(spark)
    sc = spark.sparkContext
    sc.setJobGroup("chain-build", "chain_correlate construction")
    try:
        out = chain_correlate(events, rules, max_depth=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("chain-build")) == []
    assert {r["rule"] for r in out.collect()} == {"pay", "remind"}


def test_wildcard_cycle_stops_at_first_empty_round(spark, monkeypatch):
    """A '*' rule makes the rule set cyclic, so the static pruning never
    ends the chain: every round but the last is pinned and counted, and
    the first empty round ends the chain before ``max_depth``. Two events
    per key pair up once in round 0; round 1's single derived event per
    key pairs with nothing."""
    rounds: list = []
    pins: list = []
    branches, pin = chain_mod._branches, chain_mod.pin_intermediate
    monkeypatch.setattr(chain_mod, "_branches",
                        lambda *a: rounds.append(a[1]) or branches(*a))
    monkeypatch.setattr(chain_mod, "pin_intermediate",
                        lambda df: pins.append(df) or pin(df))
    events = _df(spark).filter("event_id IN (0, 1, 6, 7)")
    out = chain_correlate(events, SHAPES["wildcard_cycle"](), max_depth=5)
    assert len(rounds) == 2 and len(pins) == 2
    assert sorted((r["key"], r["outcome"]) for r in out.collect()) == [
        ("1", "completed"), ("2", "completed"),
    ]
