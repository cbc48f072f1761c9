"""Workload ``live_ingest``: the Structured Streaming path.

Phase 1 catches up on an NDJSON backlog with ``start_correlation(...,
trigger_once=True)`` wired to an ``ActionDispatcher`` and a ``MemoryHub``.
Phase 2 restarts the query on the same checkpoint with the default
trigger while ``live_gen.py`` — a separate process on a fixed schedule —
writes files at a fixed event rate; each emission's latency is the time
the dispatcher receives it minus the due time of its last event. The
output check: ``completed`` emissions of both phases equal those of the
batch engine over the same events, each exactly once."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter

import gen
from cep_replay import big_pay
from stats import percentile

BACKLOG_EVENTS = 20_000
N_KEYS = 100
RATE = 1_000  # events/s of the open loop
BACKLOG_SPAN_S = 600
LIVE_ID_BASE = 10_000_000


def live_rules():
    from php_ec_spark.rules import match_single, sequence_rule

    return [
        sequence_rule("cart_to_pay", ["cart", "pay"], timeout="PT30S"),
        sequence_rule("funnel", ["view", "cart", "checkout"], timeout="PT60S"),
        match_single("refund_seen", ["refund"]),
        sequence_rule("big_pay", ["checkout", "pay"], timeout="PT20S",
                      accept=big_pay),
    ]


def write_ndjson(path: str, cols: dict, ts_us, lo: int, hi: int) -> None:
    from live_gen import event_lines

    with open(path, "w") as f:
        f.write(event_lines(cols, ts_us, lo, hi))


class Recorder:
    """Closure action: keeps every emission with the wall time the
    dispatcher handed it over."""

    def __init__(self):
        self.rows: list = []

    def __call__(self, rows) -> None:
        now = time.time()
        self.rows.extend((now, r) for r in rows)


def _timed_dispatcher(b):
    """ActionDispatcher whose ``__call__`` and a MemoryHub whose ``absorb``
    are timed by thin wrappers; returns (dispatcher, hub, recorder,
    timings)."""
    from php_ec_spark.streaming import ActionDispatcher, MemoryHub

    times = {"dispatch": [], "absorb": [], "writes": 0}

    class TimedDispatcher(ActionDispatcher):
        def __call__(self, df, batch_id=-1, pre_materialized=False):
            with b.tracer.span("streaming.sinks.dispatch") as t:
                super().__call__(df, batch_id, pre_materialized)
            times["dispatch"].append(t.seconds)

    class TimedHub(MemoryHub):
        def absorb(self, emissions):
            with b.tracer.span("memory.absorb") as t:
                n = super().absorb(emissions)
            times["absorb"].append(t.seconds)
            times["writes"] += n
            return n

    rec = Recorder()
    disp = TimedDispatcher()
    disp.register("record", fn=rec)
    return disp, TimedHub(), rec, times


def run(b) -> dict:
    from php_ec_spark.engine import correlate_state_machine
    from php_ec_spark.model import EVENT_SCHEMA
    from php_ec_spark.streaming import ndjson_dir_source, start_correlation

    rules = live_rules()
    src = b.path("source")
    os.makedirs(src)
    start = time.time()
    backlog = gen.gen_events(b.seed, BACKLOG_EVENTS, N_KEYS, BACKLOG_SPAN_S,
                             t0_us=int((start - 2 * BACKLOG_SPAN_S) * 1e6))
    n_files = 4
    for j in range(n_files):
        write_ndjson(os.path.join(src, f"backlog-{j}.json"), backlog,
                     backlog["ts_us"], j * BACKLOG_EVENTS // n_files,
                     (j + 1) * BACKLOG_EVENTS // n_files)
    warm_src = b.path("warm")
    os.makedirs(warm_src)
    warm = gen.gen_events(b.seed + 1, 500, 50, 60,
                          t0_us=int((start - 3 * BACKLOG_SPAN_S) * 1e6))
    write_ndjson(os.path.join(warm_src, "warm.json"), warm, warm["ts_us"], 0, 500)

    def warmup(spark):
        disp, hub, _, _ = _timed_dispatcher(b)
        q = start_correlation(
            ndjson_dir_source(spark, warm_src), rules,
            b.path(f"warm-ck-{len(b.setups)}"), dispatcher=disp, memory=hub,
            trigger_once=True)
        q.awaitTermination()

    b.mark("inputs")
    b.setup(warmup)
    spark = b.spark

    def catch_up(ck: str):
        disp, hub, rec, times = _timed_dispatcher(b)
        with b.tracer.span("streaming.catchup") as t:
            q = start_correlation(ndjson_dir_source(spark, src), rules, ck,
                                  dispatcher=disp, memory=hub, trigger_once=True)
            q.awaitTermination()
        b.ops.attempt(len(q.recentProgress))
        b.sample()
        return t.seconds, q, disp, hub, rec, times

    untraced = None
    if b.trace:
        b.tracer.enabled = False
        untraced = catch_up(b.path("ck-untraced"))[0]
        b.tracer.enabled = True
    ck = b.path("ck")
    catchup_s, q1, disp, hub, rec, times = catch_up(ck)
    n_catchup = len(rec.rows)
    b.mark("catchup")

    # phase 2: open loop on the same checkpoint, default trigger
    genlog = b.path("generator.json")
    q = None
    t0 = None
    proc = None
    try:
        with b.tracer.span("streaming.open_loop"):
            q = start_correlation(ndjson_dir_source(spark, src), rules, ck,
                                  dispatcher=disp, memory=hub)
            # the schedule starts once the restarted query has run its first
            # trigger, so its start-up is not charged to the first events
            while not q.recentProgress:
                if q.exception() is not None:
                    raise q.exception()
                time.sleep(0.05)
            t0 = time.time() + 0.25
            proc = subprocess.Popen([
                sys.executable, os.path.join(os.path.dirname(__file__), "live_gen.py"),
                "--out", src, "--log", genlog, "--seed", str(b.seed + 2),
                "--rate", str(RATE), "--keys", str(N_KEYS),
                "--seconds", str(b.seconds), "--t0", repr(t0),
                "--id-base", str(LIVE_ID_BASE)])
            rc = proc.wait(timeout=b.seconds + 60)
            proc = None
            if rc != 0:
                raise RuntimeError(f"live generator exited with {rc}")
            q.processAllAvailable()
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        if q is not None:
            q.stop()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    b.ops.attempt(len(q.recentProgress))
    b.ops.fail(len(disp.failed))
    b.sample()

    b.mark("open_loop")
    # latency of completed emissions of the open loop
    _, due_us = gen.live_schedule(b.seed + 2, RATE, N_KEYS, b.seconds, t0,
                                  LIVE_ID_BASE)
    lat = [(at - due_us[r["last_event_id"] - LIVE_ID_BASE] / 1e6) * 1e3
           for at, r in rec.rows[n_catchup:]
           if r["outcome"] == "completed" and r["last_event_id"] >= LIVE_ID_BASE]

    # output check: completed emissions == batch engine over the same files
    def key(r):
        return (r["rule"], r["key"], r["start_event_id"], r["last_event_id"],
                r["n_events"])

    got = Counter(key(r) for _, r in rec.rows if r["outcome"] == "completed")
    # the batch state machine: the per-key EngineCore loop the live path
    # runs, linear in a hot key's events
    events = spark.read.schema(EVENT_SCHEMA).json(src)
    batch = correlate_state_machine(events, rules).filter("outcome = 'completed'")
    want = Counter(key(r.asDict()) for r in batch.collect())
    b.mark("check")
    errors = []
    if got != want:
        errors.append(f"live_ingest: {sum(got.values())} completed emissions "
                      f"received, batch engine has {sum(want.values())}; "
                      f"{sum(((got - want) + (want - got)).values())} differ")
    if not lat:
        errors.append("live_ingest: no completed emission in the open loop")

    with open(genlog) as f:
        glog = json.load(f)["files"]
    b.notes.update(catchup_s=round(catchup_s, 4), batches=len(progress),
                   latency_samples=len(lat),
                   generator_lag_ms_max=max(g["written"] - g["sched"] for g in glog) * 1e3)
    layer = {}
    if b.trace:
        layer = _layers(b, q1, progress, glog, times, backlog, rules)
        layer["trace.overhead_share"] = catchup_s / untraced - 1.0
    return {
        "correct": not errors,
        "errors": errors,
        "throughput_per_s": BACKLOG_EVENTS / catchup_s,
        "latency_p50_ms": percentile(lat, 50),
        "latency_p90_ms": percentile(lat, 90),
        "layer": layer,
    }


def _ts(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _layers(b, q_catchup, progress, glog, times, backlog, rules) -> dict:
    """Per-layer figures of the open loop, from ``StreamingQueryProgress``
    and the timed sink wrappers, plus the state round trip of EngineCore."""
    def p50(xs):
        return percentile(xs, 50)

    def dur(name):
        return p50([p["durationMs"].get(name, 0) for p in progress])

    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    # backlog at each batch start: events written minus events consumed
    backlog_max, consumed = 0, 0
    for p in progress:
        start = _ts(p["timestamp"])
        written = max((g["events"] for g in glog if g["written"] <= start),
                      default=0)
        backlog_max = max(backlog_max, written - consumed)
        consumed += p["numInputRows"]
    return {
        "streaming.batches": len(progress),
        "streaming.batch_rows_p50": p50([p["numInputRows"] for p in progress]),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.catchup_batches": len(q_catchup.recentProgress),
        "streaming.generator_lag_ms_max": b.notes["generator_lag_ms_max"],
        "streaming.source.backlog_events_max": backlog_max,
        "streaming.sinks.dispatch_ms_p50": p50(times["dispatch"]) * 1e3,
        "engine.streaming.state_keys": ops[-1]["numRowsTotal"] if ops else 0,
        "engine.streaming.state_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "engine.streaming.state_commit_ms_p50": p50([o["commitTimeMs"] for o in ops]),
        "engine.streaming.state_update_ms_p50": p50([o["allUpdatesTimeMs"] for o in ops]),
        "memory.absorb_ms_p50": p50(times["absorb"]) * 1e3,
        "memory.writes": times["writes"],
        "engine.core.state_roundtrip_us": _state_roundtrip_us(backlog, rules),
    }


def _state_roundtrip_us(cols: dict, rules) -> float:
    """Mean µs of ``to_state`` + ``from_state`` per key that holds live
    instances after the backlog — the per-key cost each micro-batch pays
    around the event loop."""
    import reference
    from php_ec_spark.engine.core import EngineCore

    by_key: dict = {}
    for ev in reference.events_from_columns(cols):
        by_key.setdefault(ev[4], []).append(ev[:4])
    cores = []
    for key, evs in by_key.items():
        core = EngineCore(rules, key)
        for ev in evs:
            core.handle(ev)
        if core.has_live():
            cores.append(core)
    if not cores:
        return 0.0
    t0 = time.perf_counter()
    for core in cores:
        EngineCore.from_state(rules, core.key, core.to_state())
    return (time.perf_counter() - t0) / len(cores) * 1e6
