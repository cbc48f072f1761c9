"""Single-process reference replay of batch correlation with ``EngineCore``.

No Spark: each rule runs alone over each key's events of the types the
rule consumes, in (ts, event_id) order, and drains at end of stream —
the per-rule semantics every physical plan of the engine must reproduce
when no rule suppresses another. Chained rounds follow
``engine.chain_correlate``: emissions become derived events (same ids,
types and values as ``engine.chain.emissions_to_events``) and the rules
that can consume them run again over the derived events only."""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from php_ec_spark.engine.chain import OUTCOME_CODES, _OUTCOME_STRIDE
from php_ec_spark.engine.core import EngineCore
from php_ec_spark.rules.base import EVENT_MATCH_ANY


def _rule_types(rule) -> set:
    return {t for g in rule.events for t in g}


def replay_round(rules, events) -> list[tuple]:
    """One correlate round. ``events`` is a list of (event_id, ts_ns, type,
    value, key) tuples. Returns emission rows in EngineCore's layout."""
    by_key: dict = defaultdict(list)
    for ev in sorted(events, key=lambda e: (e[1], e[0])):
        by_key[ev[4]].append(ev[:4])
    rows: list = []
    for rule in rules:
        types = _rule_types(rule)
        wild = EVENT_MATCH_ANY in types
        for key, evs in by_key.items():
            mine = evs if wild else [e for e in evs if e[2] in types]
            if not mine:
                continue
            core = EngineCore([rule], key)
            for ev in mine:
                core.handle(ev)
            core.finish(mine[-1][1])
            rows.extend(core.take_rows())
    return rows


def _derivable(rules) -> set:
    out = set()
    for r in rules:
        out.add(f"{r.name}:completed")
        if r.timeout_s is not None:
            out.add(f"{r.name}:timeout")
        if r.emit_progress:
            out.add(f"{r.name}:progress")
        if r.emit_final:
            out.add(f"{r.name}:final")
        if r.accept or r.on_complete or r.on_timeout:
            out.add(f"{r.name}:error")
    return out


def derived_events(rows, rule_index: dict) -> list[tuple]:
    """Emissions → events, as ``emissions_to_events`` maps them."""
    n_rules = max(len(rule_index), 1)
    out = []
    for rule, key, outcome, fire_ns, _start, last, _n, vsum, _p in rows:
        m = last * 2 if last >= 0 else last * -2 - 1
        code = OUTCOME_CODES.get(outcome, len(OUTCOME_CODES))
        eid = -((m * n_rules + rule_index.get(rule, 0)) * _OUTCOME_STRIDE + code) - 2
        out.append((eid, fire_ns, f"{rule}:{outcome}", vsum, key))
    return out


def chain_replay(rules, events, max_depth: int = 5) -> tuple[list, int, int]:
    """Correlate to fixpoint. Returns (all emission rows, rounds that
    emitted, derived events fed to later rounds)."""
    rule_index = {r.name: i for i, r in enumerate(rules)}
    out: list = []
    rounds = derived = 0
    current, active = events, list(rules)
    for depth in range(max_depth):
        if depth:
            derived += len(current)
        rows = replay_round(active, current)
        if not rows:
            break
        rounds += 1
        out.extend(rows)
        current = derived_events(rows, rule_index)
        types = _derivable(active)
        active = [r for r in rules if any(
            EVENT_MATCH_ANY in g or set(g) & types for g in r.events)]
        if not active:
            break
    return out, rounds, derived


def events_from_columns(cols: dict) -> list[tuple]:
    """Generator columns → (event_id, ts_ns, type, value, key) tuples; the
    key is the string form the engine's emissions carry."""
    vals = [None if v != v else float(v) for v in cols["value"].tolist()]
    return list(zip(
        cols["event_id"].tolist(),
        (np.asarray(cols["ts_us"], dtype=np.int64) * 1000).tolist(),
        cols["event_type"].tolist(),
        vals,
        [str(k) for k in cols["user_id"].tolist()],
    ))


def canonical(rows) -> list[tuple]:
    """Comparable, order-free form of emission rows: fire time in µs (the
    engine's timestamp precision), value sums rounded to 6 dp."""
    out = []
    for rule, key, outcome, fire_ns, start, last, n, vsum, payload in rows:
        out.append((rule, key, outcome, int(fire_ns) // 1000,
                    None if start is None else int(start),
                    None if last is None else int(last), int(n),
                    None if vsum is None or vsum != vsum else round(float(vsum), 6),
                    payload))
    return sorted(out, key=repr)
