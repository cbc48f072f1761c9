"""Unit tests of the benchmark's own helpers (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pytest

import gen
import metrics
import reference
from cep_replay import _count_exchanges
from spans import Span, Tracer, self_time
from stats import Ops, PeakRss, median, percentile


# -- generators ----------------------------------------------------------

def test_events_same_seed_same_inputs():
    a = gen.gen_events(7, 2000, 100, 3600)
    b = gen.gen_events(7, 2000, 100, 3600)
    for k in a:
        np.testing.assert_array_equal(a[k], b[k])
    c = gen.gen_events(8, 2000, 100, 3600)
    assert not np.array_equal(a["user_id"], c["user_id"])


def test_events_are_time_ordered_with_zipf_hot_key():
    ev = gen.gen_events(1, 50_000, 5_000, 86400)
    assert np.all(np.diff(ev["ts_us"]) >= 0)
    assert np.all(np.diff(ev["event_id"]) == 1)
    _, counts = np.unique(ev["user_id"], return_counts=True)
    assert 0.05 <= counts.max() / len(ev["user_id"]) <= 0.15
    assert set(ev["event_type"]) == set(gen.EVENT_TYPES)


def test_live_schedule_fixed_rate_and_seeded():
    cols, due = gen.live_schedule(3, 1000, 50, 2.0, 100.0, 500)
    cols2, due2 = gen.live_schedule(3, 1000, 50, 2.0, 200.0, 500)
    np.testing.assert_array_equal(cols["user_id"], cols2["user_id"])
    assert len(due) == 2000 and due[0] == 100_000_000
    assert due[1000] - due[0] == 1_000_000  # 1000 events per second
    np.testing.assert_array_equal(due2 - due, 100_000_000)
    assert cols["event_id"][0] == 500


def test_corpus_same_seed_same_truth():
    a, b = gen.Corpus(5, 300), gen.Corpus(5, 300)
    assert a.texts == b.texts
    assert a.pairs_truth() == b.pairs_truth()
    ia, ta = a.increment(30)
    ib, tb = b.increment(30)
    assert ia == ib and ta == tb


def test_corpus_planted_copies():
    c = gen.Corpus(2, 400)
    pairs = c.pairs_truth()
    assert pairs and all(j >= 0.9 for j in pairs.values())
    clusters = c.clusters_truth()
    for a, b in pairs:
        assert clusters[a] == clusters[b] == min(a, b, clusters[a])
    # an increment's flags point only at stored docs; survivors get stored
    stored = set(c.stored)
    rows, truth = c.increment(60)
    for doc, (exact, near) in truth.items():
        assert exact is None or exact in stored
        assert near is None or near in stored
    survivors = [d for d, f in truth.items() if f == (None, None)]
    assert survivors and set(survivors) <= set(c.stored)


# -- percentiles ---------------------------------------------------------

@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(q):
    rng = random.Random(q)
    xs = [rng.uniform(0, 100) for _ in range(37)]
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_edges():
    assert percentile([], 50) == 0.0
    assert percentile([4.0], 90) == 4.0
    assert median([3, 1, 2]) == 2
    assert percentile([1, 2], 50) == 1.5


# -- spans ---------------------------------------------------------------

def _span(start, end, parent=None, name="s"):
    s = Span(name, f"{name}{start}", parent, "t", start)
    s.end = end
    return s


def test_self_time_subtracts_union_of_children():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 3.0), _span(2.0, 5.0), _span(8.0, 12.0)]
    # covered: [1, 5] and [8, 10] → 6 of 10
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_no_children_and_disjoint():
    parent = _span(2.0, 4.0)
    assert self_time(parent, []) == pytest.approx(2.0)
    assert self_time(parent, [_span(5.0, 6.0), _span(0.0, 1.0)]) == pytest.approx(2.0)
    assert self_time(parent, [_span(0.0, 9.0)]) == pytest.approx(0.0)


def test_tracer_records_tree_only_when_enabled(tmp_path):
    clock = iter(range(100)).__next__
    tr = Tracer(True, clock=clock)
    with tr.span("op") as t:
        with tr.span("construct"):
            pass
        with tr.span("action"):
            pass
    assert t.seconds >= 0
    op, con, act = tr.spans
    assert con.parent == op.span_id and act.parent == op.span_id
    assert {s.trace_id for s in tr.spans} == {tr.trace_id}
    assert (op.start, op.end) == (0, 5)
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    rows = json.loads(path.read_text())["spans"]
    assert rows[0]["self_s"] == pytest.approx(5 - 2)
    off = Tracer(False)
    with off.span("op") as t:
        pass
    assert off.spans == [] and t.seconds >= 0


# -- failure accounting --------------------------------------------------

def test_ops_ok_share():
    ops = Ops()
    assert ops.ok_share() == 0.0  # nothing attempted, nothing right
    ops.attempt(10)
    assert ops.ok_share() == 1.0
    ops.fail(2)
    assert ops.ok_share() == pytest.approx(0.8)
    ops.fail(20)  # task retries can outnumber operations
    assert ops.ok_share() == 0.0
    assert (ops.attempted, ops.failed) == (10, 22)


def test_peak_rss_reads_own_process():
    rss = PeakRss()
    rss.sample()
    assert rss.peak_mb() > 1.0


# -- reference replay ----------------------------------------------------

def test_derived_event_ids_follow_emissions_to_events():
    rows = [("r1", "7", "timeout", 5_000, 3, 3, 1, None, None),
            ("r0", "7", "completed", 6_000, -4, -4, 1, 2.5, None)]
    d = reference.derived_events(rows, {"r0": 0, "r1": 1})
    # m = 2·3 = 6 → −((6·2 + 1)·6 + 1) − 2; m = 4·2 − 1 = 7 → −((7·2)·6) − 2
    assert [e[0] for e in d] == [-81, -86]
    assert d[0][1:] == (5_000, "r1:timeout", None, "7")


def test_chain_replay_runs_the_chained_round():
    from php_ec_spark.rules import match_single, sequence_rule

    rules = [sequence_rule("a_b", ["a", "b"], timeout=10),
             match_single("late", ["a_b:timeout"])]
    s = 1_000_000_000
    events = [(1, 0, "a", None, "k"), (2, 20 * s, "b", None, "k")]
    rows, rounds, derived = reference.chain_replay(rules, events)
    assert rounds == 2 and derived == 1
    assert sorted((r[0], r[2], r[3]) for r in rows) == [
        ("a_b", "timeout", 10 * s), ("late", "completed", 10 * s)]


def test_count_exchanges():
    plan = ("AdaptiveSparkPlan isFinalPlan=false\n"
            "+- Union\n"
            "   :- Window [x]\n"
            "   :  +- Exchange hashpartitioning(key#1, 4)\n"
            "   +- BroadcastExchange HashedRelationBroadcastMode\n"
            "      +- *(2) Exchange SinglePartition\n")
    assert _count_exchanges(plan) == 2


# -- BENCHMARK.json ------------------------------------------------------

def test_benchmark_json_matches_metric_definitions():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert doc == metrics.benchmark_json()
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    assert all(len(n) <= 64 for n in names)
    known = {n for n, *_ in metrics.END_TO_END}
    for _, _, _, moves in metrics.PER_LAYER:
        for target, workload in moves:
            assert target in known
            assert workload == "all" or workload in metrics.WORKLOADS


def test_steal_share():
    from stats import cpu_ticks, steal_share

    before = [100, 0, 10, 50, 0, 0, 0, 5, 0, 0]
    after = [160, 0, 20, 70, 0, 0, 0, 15, 0, 0]
    assert steal_share(before, after) == pytest.approx(10 / 100)
    assert steal_share(before, before) == 0.0
    assert len(cpu_ticks()) >= 8
