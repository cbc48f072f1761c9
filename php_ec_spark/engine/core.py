"""Shared per-key event-loop core — used by both the batch state machine
(`engine.batch`, via applyInPandas) and the live streaming engine
(`engine.streaming`, via applyInPandasWithState).

Faithful to CorrelationEngine::handle (reference CorrelationEngine.php:
171-328): batch-clock timeout replay at t−1 ms, acceptEventTime deadline
check, per-class dedup, EVENT_SUPPRESS rule ordering, end-of-stream drain.
The streaming engine persists/restores `EngineCore` state across
micro-batches (the Spark state store replaces the reference's SaveHandler
subsystem, FileAdapter.php:73-233).
"""

from __future__ import annotations

import heapq
import json
from typing import List, Optional, Sequence

from ..rules.base import Rule

_MS = 1_000_000  # 1 ms in ns

#: ts of a NULL-ts event: the int64 NaT sentinel the event feed passes
#: through (numpy views it as NaT, so an emission at it reads as NULL)
NAT_NS = -(2**63)

#: fire_due compacts dead instances out of all buckets after this many
#: heap-fired timeouts (see EngineCore._dead)
_COMPACT_EVERY = 1024


class _Instance:
    """One in-flight matcher instance (≈ one AEventProcessor object)."""

    __slots__ = ("rule", "gi", "chain", "deadline_ns", "seq", "no_timeout", "alive")

    def __init__(self, rule: Rule, seq: int, no_timeout: bool = False):
        self.rule = rule
        self.gi = 0  # index of the event group we are waiting on
        self.chain: list = []  # consumed events [(event_id, ts_ns, type, value), ...]
        self.deadline_ns: Optional[int] = None
        self.seq = seq  # arming order, tie-break for timeout firing
        # cleared when the instance completes or times out; dead
        # instances are purged from their bucket lazily at the next scan
        # (the deadline heap uses this for stale-entry invalidation)
        self.alive = True
        # historical replay + HISTORICAL_IGNORE_TIMEOUT: the reference sets
        # the timeout to null (AEventProcessor.php:377-383), keeping the
        # instance alive so a late event can still complete it.
        self.no_timeout = no_timeout

    def wants(self, etype: str) -> bool:
        rule = self.rule
        return rule._group_any[self.gi] or etype in rule._group_sets[self.gi]

    def consume(self, ev: tuple) -> bool:
        """Consume one event; returns True when the instance completed."""
        rule = self.rule
        self.chain.append(ev)
        limit = rule.chain_limit
        if limit is not None and len(self.chain) > limit:
            del self.chain[: len(self.chain) - limit]
        at_last_group = self.gi == len(rule.events) - 1
        if at_last_group and not rule.continuous:
            self.deadline_ns = None
            return True
        if not at_last_group:
            self.gi += 1
        timeout_ns = rule._timeout_ns
        if timeout_ns is None or self.no_timeout:
            self.deadline_ns = None
        else:
            # a NULL-ts event arms an instant that stays NULL: sentinel +
            # timeout would be a real (and Arrow-unrepresentable) 1677 date
            t = ev[1]
            self.deadline_ns = t if t == NAT_NS else t + timeout_ns
        return False

    def to_state(self) -> dict:
        return {
            "rule": self.rule.name,
            "gi": self.gi,
            "chain": self.chain,
            "deadline_ns": self.deadline_ns,
            "seq": self.seq,
            "no_timeout": self.no_timeout,
        }

    @classmethod
    def from_state(cls, rule: Rule, d: dict) -> "_Instance":
        inst = cls(rule, d["seq"], no_timeout=d.get("no_timeout", False))
        inst.gi = d["gi"]
        inst.chain = [tuple(e) for e in d["chain"]]
        inst.deadline_ns = d["deadline_ns"]
        return inst


def _ev_dict(ev: tuple) -> dict:
    return {"event_id": ev[0], "ts_ns": ev[1], "event_type": ev[2], "value": ev[3]}


class EngineCore:
    """Per-key correlation engine: the reference's single-threaded event
    loop, scoped to one correlation-key partition."""

    def __init__(self, rules: Sequence[Rule], key, historical: bool = False):
        self.rules = rules
        self.key = key
        self.historical = historical
        # live instances bucketed by the group index they are waiting on
        # (rule name → gi → [instances]): an incoming event resolves its
        # wanting buckets through Rule._gis_by_type and never touches an
        # instance that cannot consume it. The flat per-rule view (arming
        # order) is exposed through the `live` property.
        self._live: dict[str, dict[int, List[_Instance]]] = {
            r.name: {} for r in rules
        }
        # hot-loop binding: handle() walks rules with their bucket dicts
        # and first-group membership test every event — pre-binding saves
        # a dict hash + two attribute chases per rule per event. Valid
        # for the core's lifetime: _live's inner dicts are only ever
        # MUTATED (never replaced), incl. from_state/compaction, and
        # Rule is frozen.
        self._rule_buckets = [
            (r, self._live[r.name], r._group_any[0], r._group_sets[0])
            for r in rules
        ]
        self.seq = 0
        self.rows: list = []
        # Deadline min-heap with LAZY invalidation: every deadline
        # assignment pushes (deadline, seq, push_id, rule, inst); entries
        # whose instance died or re-armed since are discarded at pop
        # time (inst.alive and inst.deadline_ns == entry deadline is the
        # validity test). fire_due becomes O(due · log live) instead of
        # a full instance scan per event — the previous scan-everything
        # recompute measured ~45% of the hot loop once any rule carried
        # timeouts. push_id is a monotonic tie-break so the heap never
        # compares Rule/_Instance objects.
        self._heap: list = []
        self._push_id = 0
        # instances fired by the heap die IN PLACE and are purged lazily
        # when their bucket is next scanned — but a bucket whose event
        # type never recurs (a flood of armed sequences whose next step
        # never arrives) would otherwise accumulate dead objects for the
        # whole replay. Count heap-fired deaths and compact all buckets
        # every _COMPACT_EVERY of them: O(live) per sweep, amortized
        # O(1/1024) per timeout.
        self._dead = 0
        #: diagnostic: total instances examined by handle() across the
        #: stream — the deterministic hot-loop cost driver the scale
        #: growth contract pins (tests/test_scale_growth.py). Not part of
        #: serialized state.
        self.touches = 0

    def _note_deadline(self, inst: "_Instance", rule: Rule) -> None:
        if inst.deadline_ns is not None:
            self._push_id += 1
            heapq.heappush(
                self._heap,
                (inst.deadline_ns, inst.seq, self._push_id, rule, inst),
            )

    @property
    def live(self) -> dict:
        """Flat per-rule view of in-flight instances in arming (seq)
        order — the shape the bucketed storage replaced; savefile export
        and warm-start introspection read this."""
        return {
            name: sorted(
                (i for lst in buckets.values() for i in lst if i.alive),
                key=lambda i: i.seq,
            )
            for name, buckets in self._live.items()
        }

    # -- emission ---------------------------------------------------------
    def _emit(self, rule: Rule, outcome: str, fire_ns: int, inst: _Instance) -> None:
        chain = inst.chain
        values = [e[3] for e in chain if e[3] is not None and e[3] == e[3]]
        payload = None
        cb = rule.on_complete if outcome == "completed" else (
            rule.on_timeout if outcome == "timeout" else None
        )
        if cb is not None:
            # The reference PANICS when a rule callback throws ("Rules must
            # not throw exceptions", Scheduler.php:339-349) — one bad rule
            # kills the engine. We quarantine instead: the emission survives
            # with outcome 'error' and the exception in the payload, scoped
            # to this instance; every other key/rule keeps processing.
            try:
                payload = json.dumps(
                    cb([_ev_dict(e) for e in chain], self.key),
                    sort_keys=True,
                    default=str,
                )
            except Exception as e:  # noqa: BLE001 - quarantine by design
                payload = json.dumps({"error": repr(e), "during": outcome})
                outcome = "error"
        self.rows.append(
            (
                rule.name,
                None if self.key is None else str(self.key),
                outcome,
                fire_ns,
                chain[0][0] if chain else None,
                chain[-1][0] if chain else None,
                len(chain),
                float(sum(values)) if values else None,
                payload,
            )
        )

    # -- clock ------------------------------------------------------------
    def fire_due(self, limit_ns: Optional[int]) -> None:
        """Fire every pending timeout with deadline ≤ limit (None = all) in
        single engine-wide deadline order (CorrelationEngine.php:517-521)."""
        heap = self._heap
        while heap:
            d, _seq, _pid, r, inst = heap[0]
            if not (inst.alive and inst.deadline_ns == d):
                heapq.heappop(heap)  # stale: re-armed, completed, or fired
                continue
            if limit_ns is not None and d > limit_ns:
                break
            heapq.heappop(heap)
            inst.alive = False  # bucket purge happens lazily at next scan
            self._dead += 1
            self._emit(r, "timeout", d, inst)
        if self._dead >= _COMPACT_EVERY:
            self._dead = 0
            for buckets in self._live.values():
                for g, lst in buckets.items():
                    if any(not i.alive for i in lst):
                        buckets[g] = [i for i in lst if i.alive]

    def next_deadline(self) -> Optional[int]:
        """Earliest pending deadline — the streaming timer to arm
        (single-timer scheduling, CorrelationEngine.php:530-563)."""
        heap = self._heap
        while heap:
            d, _seq, _pid, _r, inst = heap[0]
            if inst.alive and inst.deadline_ns == d:
                return d
            heapq.heappop(heap)  # stale-top cleanup doubles as GC
        return None

    def has_live(self) -> bool:
        return any(
            inst.alive
            for buckets in self._live.values()
            for lst in buckets.values()
            for inst in lst
        )

    def _safe_accept(self, rule: Rule, ev: tuple, chain: list) -> bool:
        """accept-predicate with quarantine: a throwing predicate rejects
        the event and surfaces one 'error' emission instead of killing the
        engine (deviation from Scheduler.php:339-349, by design)."""
        try:
            return bool(rule.accept(_ev_dict(ev), [_ev_dict(e) for e in chain]))
        except Exception as e:  # noqa: BLE001 - quarantine by design
            self.rows.append(
                (
                    rule.name,
                    None if self.key is None else str(self.key),
                    "error",
                    ev[1],
                    ev[0],
                    ev[0],
                    0,
                    None,
                    json.dumps({"error": repr(e), "during": "accept"}),
                )
            )
            return False

    # -- hot path ---------------------------------------------------------
    def handle(self, ev: tuple) -> None:
        """One event through every rule in declared order
        (CorrelationEngine.php:171-328). ev = (event_id, ts_ns, type, value)."""
        t = ev[1]
        etype = ev[2]
        # batch clock: fire timeouts up to t − 1 ms (CorrelationEngine.php:191-202).
        # Guarded on the raw heap top: when even the smallest deadline KEY
        # exceeds the limit, no entry (valid or stale) can fire, so the
        # call is a no-op — skipping it saves a call + loop setup per
        # event (stale-top GC just happens at the next real firing or
        # next_deadline() instead, with identical emissions/state).
        heap = self._heap
        if heap and heap[0][0] <= t - _MS:
            self.fire_due(t - _MS)
        suppressed = False
        for r, buckets, any0, set0 in self._rule_buckets:
            if suppressed:
                break
            handled = False
            if buckets:
                # only the buckets whose group wants this event type are
                # scanned: instances waiting on other groups are never
                # touched (the previous flat scan paid a wants() call per
                # LIVE instance per event — the hot-loop ceiling once one
                # group accumulates waiters). Multi-bucket candidates
                # merge in arming (seq) order so emission order matches
                # the flat scan exactly.
                gis = r._gis_by_type.get(etype, r._wildcard_gis)
                cand: list = []
                for g in gis:
                    lst = buckets.get(g)
                    if lst:
                        cand = lst if not cand else cand + lst
                        buckets[g] = []
                if len(cand) > 1:
                    cand.sort(key=lambda i: i.seq)
                self.touches += len(cand)
                for inst in cand:
                    if not inst.alive:
                        continue  # fired by the deadline heap; lazy purge
                    if inst.deadline_ns is not None and t > inst.deadline_ns:
                        # acceptEventTime failed ⇒ instance times out now
                        # (AEventProcessor.php:357-396); fire_ts is the deadline.
                        inst.alive = False
                        self._emit(r, "timeout", inst.deadline_ns, inst)
                        continue
                    if r.accept is not None and not self._safe_accept(r, ev, inst.chain):
                        buckets.setdefault(inst.gi, []).append(inst)
                        continue
                    handled = True
                    if inst.consume(ev):
                        inst.alive = False
                        self._emit(r, "completed", t, inst)
                    else:
                        buckets.setdefault(inst.gi, []).append(inst)
                        self._note_deadline(inst, r)
                        if r.emit_progress:
                            self._emit(r, "progress", t, inst)
            # per-class dedup (CorrelationEngine.php:252-254)
            if not handled and (any0 or etype in set0):
                if r.accept is None or self._safe_accept(r, ev, []):
                    inst = _Instance(
                        r,
                        self.seq,
                        no_timeout=self.historical and r.historical_ignore_timeout,
                    )
                    self.seq += 1
                    handled = True
                    if inst.consume(ev):
                        inst.alive = False
                        self._emit(r, "completed", t, inst)
                    else:
                        buckets.setdefault(inst.gi, []).append(inst)
                        self._note_deadline(inst, r)
                        if r.emit_progress:
                            self._emit(r, "progress", t, inst)
            if handled and r.suppress:
                suppressed = True

    def finish(self, last_ts_ns: int) -> None:
        """End-of-stream: drain all timeouts, then report continuous state
        (emit_final) — the Stop-message epilogue."""
        self.fire_due(None)
        for r in self.rules:
            if r.emit_final:
                for inst in sorted(
                    (
                        i
                        for lst in self._live[r.name].values()
                        for i in lst
                        if i.alive
                    ),
                    key=lambda i: i.seq,
                ):
                    self._emit(r, "final", last_ts_ns, inst)

    def take_rows(self) -> list:
        rows, self.rows = self.rows, []
        return rows

    # -- state persistence (streaming) ------------------------------------
    def to_state(self) -> str:
        return json.dumps(
            {
                "seq": self.seq,
                "instances": [
                    inst.to_state()
                    for r in self.rules
                    for inst in sorted(
                        (
                            i
                            for lst in self._live[r.name].values()
                            for i in lst
                            if i.alive
                        ),
                        key=lambda i: i.seq,
                    )
                ],
            }
        )

    @classmethod
    def from_state(
        cls, rules: Sequence[Rule], key, blob: Optional[str], historical: bool = False
    ) -> "EngineCore":
        core = cls(rules, key, historical=historical)
        if not blob:
            return core
        d = json.loads(blob)
        core.seq = d["seq"]
        by_name = {r.name: r for r in rules}
        for s in d["instances"]:
            rule = by_name.get(s["rule"])
            if rule is None:
                # dropped-rule state: the reference aliases UndefinedRule
                # (functions.php:159-166) — we drop the instance explicitly.
                continue
            inst = _Instance.from_state(rule, s)
            core._live[rule.name].setdefault(inst.gi, []).append(inst)
            core._note_deadline(inst, rule)
        return core
