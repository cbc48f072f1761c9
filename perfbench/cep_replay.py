"""Workload ``cep_replay``: batch correlation of a Zipf-keyed event stream.

Rules, all on ``user_id``: relational-compilable ones (two- and three-step
sequences with timeouts, a single match, gap sessions, a keyed counter),
state-machine-only ones (a continuous match with ``chain_limit`` and
``emit_final``, a sequence with an ``accept`` predicate), and one typed
chained rule that consumes another rule's ``:timeout``. One operation is a
``chain_correlate`` pass, from the call until its emissions are fully
materialized. The output check compares the emissions of the last pass
with a single-process ``EngineCore`` replay, chained round included."""

from __future__ import annotations

import os
import re
import time

import gen
import reference
from stats import median, percentile

N_EVENTS = 30_000
N_KEYS = 3_000
SPAN_S = 7 * 86400
WARM_EVENTS = 500
#: the first passes after set-up still run partly interpreted (the JVM's
#: JIT is warming up); four passes keep the median off the first one
MIN_PASSES = 4


def big_pay(ev, chain) -> bool:
    """accept predicate: steps without an amount, or amounts over 20."""
    v = ev["value"]
    return v is None or v != v or v > 20.0


def rule_sets():
    from php_ec_spark.rules import (
        Rule, match_single, match_single_continuously, sequence_rule)

    relational = [
        sequence_rule("cart_to_pay", ["cart", "pay"], timeout="PT30M"),
        sequence_rule("funnel", ["view", "cart", "checkout"], timeout="PT1H"),
        match_single("refund_seen", ["refund"]),
        match_single_continuously("browse_session", ["view"], timeout="PT30M"),
        Rule(name="pay_count", events=[["pay"]], continuous=True, emit_final=True),
    ]
    general = [
        # consumes every source type, so its end-of-stream 'final' fires at
        # the key's last event under any grouping of the general rules
        match_single_continuously("activity", list(gen.EVENT_TYPES),
                                  timeout="PT2H", chain_limit=5, emit_final=True),
        sequence_rule("big_pay", ["checkout", "pay"], timeout="PT20M",
                      accept=big_pay),
    ]
    chained = [match_single("abandon_alert", ["cart_to_pay:timeout"])]
    return relational, general, chained


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _emission_rows(df) -> list:
    pdf = df.toPandas()
    fire = pdf["fire_ts"].astype("datetime64[ns]").astype("int64").tolist()
    cols = [pdf[c].tolist() for c in (
        "rule", "key", "outcome", "start_event_id", "last_event_id",
        "n_events", "value_sum", "payload")]
    return [(r, k, o, f, s, l, n, v, p) for (r, k, o, s, l, n, v, p), f
            in zip(zip(*cols), fire)]


def run(b) -> dict:
    from php_ec_spark.engine import chain_correlate
    from php_ec_spark.model import load_events

    cols = gen.gen_events(b.seed, N_EVENTS, N_KEYS, SPAN_S)
    ev_dir, warm_dir = b.path("events"), b.path("warm")
    os.makedirs(ev_dir)
    os.makedirs(warm_dir)
    gen.write_events_parquet(cols, os.path.join(ev_dir, "events.parquet"))
    gen.write_events_parquet(
        gen.gen_events(b.seed + 1, WARM_EVENTS, WARM_EVENTS // 10, 86400),
        os.path.join(warm_dir, "events.parquet"))
    relational, general, chained = rule_sets()
    rules = relational + general + chained

    def warmup(spark):
        _noop(chain_correlate(load_events(spark, warm_dir), rules))
        b.release()

    b.mark("inputs")
    b.setup(warmup)
    spark = b.spark
    with b.tracer.span("model.load_events") as t:
        events = load_events(spark, ev_dir)
    layer = {"model.load_events_s": t.seconds}

    def one_pass():
        with b.tracer.span("engine.chain") as t:
            with b.tracer.span("construct"):
                res = chain_correlate(events, rules)
            with b.tracer.span("action"):
                _noop(res)
        b.ops.attempt()
        b.sample()
        return res, t.seconds

    walls = []
    deadline = time.perf_counter() + b.seconds
    while True:
        res, wall = one_pass()
        walls.append(wall)
        if len(walls) >= MIN_PASSES and time.perf_counter() >= deadline:
            break
        b.release()
    b.mark("measure")
    got = reference.canonical(_emission_rows(res))
    b.release()
    if b.trace:
        # one untraced pass, warm like the traced ones: the tracing
        # overhead's baseline
        b.tracer.enabled = False
        _, untraced = one_pass()
        b.tracer.enabled = True
        b.release()

    t0 = time.perf_counter()
    ref_rows, rounds, derived = reference.chain_replay(
        rules, reference.events_from_columns(cols))
    ref_s = time.perf_counter() - t0
    want = reference.canonical(ref_rows)
    b.mark("check")
    errors = []
    if got != want:
        errors.append(f"cep_replay: {len(got)} emissions, reference has "
                      f"{len(want)}; {len(set(got) ^ set(want))} differ")
    b.notes.update(passes=len(walls), emissions=len(got),
                   pass_walls_s=[round(w, 4) for w in walls])

    if b.trace:
        layer.update(_layers(b, events, relational, general, rules, walls))
        layer.update({
            "engine.core.events_per_s": N_EVENTS / ref_s,
            "engine.chain.rounds": rounds,
            "engine.chain.derived_events": derived,
            "trace.overhead_share": median(walls) / untraced - 1.0,
        })
    return {
        "correct": not errors,
        "errors": errors,
        "throughput_per_s": N_EVENTS / median(walls),
        "latency_p50_ms": percentile(walls, 50) * 1e3,
        "latency_p90_ms": percentile(walls, 90) * 1e3,
        "layer": layer,
    }


def _layers(b, events, relational, general, rules, walls) -> dict:
    """Traced probes of the layers under ``chain_correlate``: the
    relational rules alone, the state-machine rules alone, and round 0
    (every rule over the source events), each construct + materialize."""
    from php_ec_spark.engine import correlate, correlate_state_machine

    def probe(name, build):
        with b.tracer.span(name) as t:
            with b.tracer.span("construct") as c:
                df = build()
            with b.tracer.span("action"):
                _noop(df)
        b.ops.attempt()
        b.sample()
        b.release()
        return df, t, c

    rel_df, rel_t, rel_c = probe("engine.relational",
                                 lambda: correlate(events, relational))
    plan = rel_df._jdf.queryExecution().executedPlan().toString()
    _, sm_t, _ = probe("engine.batch",
                       lambda: correlate_state_machine(events, general))
    _, r0_t, _ = probe("engine.chain.round0", lambda: correlate(events, rules))
    out = {
        "engine.relational.wall_s": rel_t.seconds,
        "engine.relational.construct_s": rel_c.seconds,
        "engine.relational.exchanges": _count_exchanges(plan),
        "engine.batch.wall_s": sm_t.seconds,
        "engine.chain.wall_s": median(walls) - r0_t.seconds,
    }
    b.attribute()
    rel, sm = rel_t.span.attrs, sm_t.span.attrs
    for k in ("jobs", "stages", "tasks", "shuffle_bytes"):
        out[f"engine.relational.{k}"] = rel[k]
    for k in ("jobs", "shuffle_bytes", "task_p50_s", "task_max_s"):
        out[f"engine.batch.{k}"] = sm[k]
    return out


def _count_exchanges(plan: str) -> int:
    """Shuffle Exchange nodes in a physical plan string."""
    return sum(1 for line in plan.splitlines()
               if re.match(r"[\s:+\-]*(\*\(\d+\) )?Exchange ", line))
