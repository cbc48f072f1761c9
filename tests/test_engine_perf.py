"""Pinned throughput floor for the state-machine hot loop.

The per-event Python cost of ``EngineCore.handle`` is the engine's
throughput ceiling at scale (the Spark plan around it is one shuffle +
one mapInPandas; at 100 TB the partition runner is where the cycles go).
BENCH_r03→r04 showed a 21% eps drift that turned out to be measurement
noise (cold-plan first iteration in the bench loop) — this test pins the
PURE-PYTHON cost so a real hot-loop regression can never hide behind
box noise again.

Floor choice: the runner sustains ~280k events/s single-threaded on
this box (post round-7 bucket-dispatch + deadline-heap rewrite; ~144k
before it under load, and the round-5 "~330k" was a quiet-window best
case of the old loop). The floor is set at 100k — ~2.8× headroom for CI
noise — so it only trips on a real algorithmic regression (e.g.
reintroducing the per-instance wants() scan or the fire_due full-state
recompute), not on a slow runner box.
"""

from __future__ import annotations

import time

import pandas as pd
import pytest

from php_ec_spark.engine.batch import _make_partition_runner
from php_ec_spark.rules import match_single_continuously, sequence_rule

FLOOR_EPS = 100_000
N_EVENTS = 60_000


def _synth_events(n: int) -> pd.DataFrame:
    """Deterministic event stream shaped like the bench's: 200 keys,
    4 event types, sorted (key, ts, event_id) like the partition runner
    receives post-shuffle."""
    rows = []
    types = ("signup", "click", "purchase", "view")
    for i in range(n):
        key = f"u{i % 200}"
        rows.append((key, i, i * 1_000_000_000, types[(i * 7) % 4], float(i % 50)))
    rows.sort(key=lambda r: (r[0], r[2], r[1]))
    pdf = pd.DataFrame(rows, columns=["__key", "event_id", "ts", "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ns")
    return pdf


@pytest.mark.slow
def test_state_machine_throughput_floor():
    rules = [
        match_single_continuously(
            "roll", ["purchase"], key="user_id", chain_limit=5, emit_final=True
        ),
        sequence_rule(
            "seq", ["signup", "click", "purchase"], key="user_id", timeout="PT12H"
        ),
        match_single_continuously("gap", ["*"], key="user_id", timeout="PT6H"),
    ]
    runner = _make_partition_runner(rules, False)
    pdf = _synth_events(N_EVENTS)

    # one warmup (interning, branch warm), then best-of-3 — same policy as
    # bench.py: the min is the reproducible steady-state number. If the
    # first rounds land under the floor, back off and retry up to twice:
    # a REAL regression stays under it on a quiet box too, but a noisy
    # neighbor burst (the suite's own lingering JVM, parallel CI) should
    # not fail a single-thread CPU measurement.
    list(runner([pdf]))
    eps = 0.0
    for attempt in range(3):
        if attempt:
            time.sleep(2.0)
        for _ in range(3):
            t0 = time.perf_counter()
            out = list(runner([pdf]))
            eps = max(eps, N_EVENTS / (time.perf_counter() - t0))
        if eps >= FLOOR_EPS:
            break
    assert sum(len(o) for o in out) > 0
    assert eps >= FLOOR_EPS, (
        f"state-machine hot loop at {eps:,.0f} events/s — below the "
        f"{FLOOR_EPS:,} floor across 3 backed-off rounds; a real "
        "per-event cost regressed (see engine/core.py hot-path notes)"
    )


@pytest.mark.slow
def test_live_path_throughput_floor(tmp_path):
    """Floor for the applyInPandasWithState catch-up path: a 400k-event
    catch-up at 8 state partitions must sustain ≥50k events/s end-to-end
    (query start → awaitTermination, including the trailing empty
    watermark batch), asserted unscaled. Measured ~83-92k warm on a
    32-core box and ~59-62k at local[4] after the two
    round-6 fixes: (a) the handler rewrite (numpy lexsort + shared
    empty-emission frame + one-shot tolist; per-key fixed cost
    1.9 ms → 0.6 ms), and (b) the ActionDispatcher eager localCheckpoint
    (toLocalIterator on the raw stateful plan was executing state
    partitions SERIALLY — the round-5 "0.5 s/partition" tax). An untimed
    warmup query absorbs the one-time session/plan compile, and the
    timed run is min-of-2 against box noise. Catches a silent live-path
    regression of the kind either fix addressed (a reintroduced
    sort_values, a per-row state round trip, or a serialized batch
    consumer)."""
    import json as _json

    from php_ec_spark.rules import sequence_rule
    from php_ec_spark.session import get_spark
    from php_ec_spark.streaming import (
        ActionDispatcher,
        ndjson_dir_source,
        start_correlation,
    )

    spark = get_spark(app_name="php-ec-spark-tests", shuffle_partitions=8)
    n = 400_000
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "bulk.json", "w") as f:
        for i in range(n):
            f.write(_json.dumps({
                "event_id": i,
                # day advances with i so the 400k-event span stays
                # monotonic — a %24 wrap would drop wrapped rows as late
                "ts": f"2024-01-{1 + i // 86400:02d}"
                      f"T{(i // 3600) % 24:02d}:"
                      f"{(i // 60) % 60:02d}:{i % 60:02d}Z",
                "user_id": i % 500,
                "event_type": ["signup", "click", "purchase", "view"][(i * 7) % 4],
                "value": 1.0, "props": None,
            }) + "\n")

    rules = [sequence_rule("seq", ["signup", "click", "purchase"],
                           key="user_id", timeout="PT12H")]

    def one_run(tag: str) -> float:
        d = ActionDispatcher()
        d.register("cap", fn=lambda rows: None)
        t0 = time.perf_counter()
        q = start_correlation(
            ndjson_dir_source(spark, str(src)), rules,
            str(tmp_path / f"ck_{tag}"), dispatcher=d, trigger_once=True,
            watermark_delay="1 hour", state_partitions=8,
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        assert q.exception() is None
        return dt

    one_run("warmup")  # untimed: session/plan compile, worker pool spin-up
    dt = min(one_run("m0"), one_run("m1"))
    eps = n / dt
    assert eps >= 50_000, (
        f"live catch-up at {eps:,.0f} events/s ({dt:.1f}s for {n:,} at 8 "
        "state partitions) — below the 50k floor; check the stateful "
        "handler's per-key path (engine/streaming.py hot-path notes)"
    )


@pytest.mark.slow
def test_live_path_skew_floor(tmp_path):
    """Hot-key skew soak for the live path: 50% of all events land on ONE
    correlation key. Per-key ordering means that key serializes inside a
    single state partition — the worst case for the
    applyInPandasWithState plan — and the cost model says throughput
    should degrade gracefully (the hot partition runs the pure-Python
    loop single-threaded, ~280k eps standalone), not collapse. Measured
    on this box: ~77k eps skewed vs ~90k uniform (~0.85×) — the hot
    partition's Python loop absorbs the extra 200k events well under
    the partition-count overhead. Floor is set at 30k events/s
    end-to-end so it trips on a real serialization pathology (e.g. a
    per-row state round trip on the hot key), not box noise."""
    import json as _json

    from php_ec_spark.rules import sequence_rule
    from php_ec_spark.session import get_spark
    from php_ec_spark.streaming import (
        ActionDispatcher,
        ndjson_dir_source,
        start_correlation,
    )

    spark = get_spark(app_name="php-ec-spark-tests", shuffle_partitions=8)
    n = 400_000
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "bulk.json", "w") as f:
        for i in range(n):
            f.write(_json.dumps({
                "event_id": i,
                "ts": f"2024-01-{1 + i // 86400:02d}"
                      f"T{(i // 3600) % 24:02d}:"
                      f"{(i // 60) % 60:02d}:{i % 60:02d}Z",
                # every other event on key 0; the rest spread over 499
                "user_id": 0 if i % 2 == 0 else 1 + (i % 499),
                "event_type": ["signup", "click", "purchase", "view"][(i * 7) % 4],
                "value": 1.0, "props": None,
            }) + "\n")

    rules = [sequence_rule("seq", ["signup", "click", "purchase"],
                           key="user_id", timeout="PT12H")]

    def one_run(tag: str) -> float:
        d = ActionDispatcher()
        d.register("cap", fn=lambda rows: None)
        t0 = time.perf_counter()
        q = start_correlation(
            ndjson_dir_source(spark, str(src)), rules,
            str(tmp_path / f"ck_{tag}"), dispatcher=d, trigger_once=True,
            watermark_delay="1 hour", state_partitions=8,
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        assert q.exception() is None
        return dt

    one_run("warmup")
    dt = min(one_run("m0"), one_run("m1"))
    eps = n / dt
    assert eps >= 30_000, (
        f"skewed live catch-up at {eps:,.0f} events/s ({dt:.1f}s for "
        f"{n:,}, 50% on one key, 8 state partitions) — below the 30k "
        "floor; the hot-key partition is serializing pathologically "
        "(engine/streaming.py hot-path notes)"
    )
