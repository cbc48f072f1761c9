"""php-ec save-file importer — the migration last mile.

A live reference deployment persists its state as a (gzip'd) JSON document
written by SaveHandler/FileAdapter (reference src/SaveHandler/FileAdapter.php:
73-233, gzip header sniffing at :220-223) with three sections built by
Scheduler::buildState (Scheduler.php:666-673):

- ``engine``  — CorrelationEngine::getState (CorrelationEngine.php:644-673):
  ``matchers`` = incomplete state machines as ``{"c": phpClass, "s":
  AEventProcessor::__serialize()}`` (AEventProcessor.php:435-466: consumed
  event object-ids, instance id, actionFired/isTimedOut flags, context,
  RFC3339 timeout), ``events`` = ``{obj_id: Event::__serialize()}``
  (Event.php:147-158: ``event`` type, RFC3339 ``datetime``, free-form
  props), plus ``statistics``.
- ``scheduler`` — Scheduler::getState (Scheduler.php:1048-1070): source
  checkpoints (S5) and errored action commands (W12) among runtime gauges.
- ``memory`` — MemoryEngine::getState (Memory/MemoryEngine.php:157-160):
  ``{namespace, key, value, expiresAt}`` entries.

:func:`import_savefile` turns that document into this engine's shapes:
per-key-column ``initial_state`` DataFrames (``snapshot_state`` schema) for
:func:`~php_ec_spark.engine.streaming.correlate_stream`, a seeded
:class:`~php_ec_spark.memory.MemoryEngine`, and the raw statistics /
checkpoints / errored-action payloads.

Mid-flight matchers are reconstructed by REPLAY: each saved matcher's
consumed event chain is mapped to the canonical envelope and re-run through
a fresh :class:`EngineCore` under ONLY its mapped rule — mirroring
CorrelationEngine::setState, which restores each matcher against its own
class and chain (CorrelationEngine.php:698-758, array_intersect_key) and
never lets other rules re-consume the replayed events. The per-key
instances from every matcher of that key are then merged into one state
blob. This is exact whenever the mapped rule declares the same event
groups and timeout as the reference class it replaces (the importer cannot
check PHP semantics — the rule_map IS the migration contract); a semantic
mismatch is visible as a replay yielding zero or >1 live instances for a
single saved matcher, never as state fabricated for an unrelated rule.

Replay runs on the driver, one EngineCore run per matcher. Parsing the
single gzip JSON document and mapping every consumed event to its envelope
run on the driver whichever side replays the chains, and shipping the
chains to executors measured no faster at any size tried (3 to 50k
matchers on ``local[4]``).
"""

from __future__ import annotations

import gzip
import json
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from .engine.core import EngineCore
from .memory import MEMORY_SCHEMA, MemoryEngine
from .rules.base import Rule


def _decode_legacy(blob: str):
    """Decode one pre-2022 PHP ``serialize()`` blob (matcher, state, or
    event) to a :class:`~php_ec_spark.phpserialize.PhpObject`, or None if
    it is malformed/unsupported (the caller counts-and-skips). Bare array
    blobs (``a:…`` — a state saved without its class wrapper) come back
    wrapped with an empty class name."""
    from .phpserialize import PhpObject, PhpSerializeError
    from .phpserialize import loads as php_loads

    try:
        obj = php_loads(blob)
    except PhpSerializeError:
        return None
    if isinstance(obj, PhpObject) and isinstance(obj.fields, dict):
        return obj
    if isinstance(obj, dict):
        return PhpObject("", obj)
    if obj == []:  # a:0:{} decodes to an empty list — an empty state
        return PhpObject("", {})
    return None


def _is_event_shaped(fields: dict) -> bool:
    """Whether a decoded legacy blob carries the two fields
    ``default_event_mapper`` cannot work without (Event.php always
    serializes both)."""
    return isinstance(fields.get("event"), str) and isinstance(
        fields.get("datetime"), str
    )


def load_savefile(path: str) -> dict:
    """Read a reference save file: gzip-sniffed exactly like
    FileAdapter::loadState (FileAdapter.php:212-233)."""
    with open(path, "rb") as f:
        raw = f.read()
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    return json.loads(raw)


def _parse_iso(s: str) -> datetime:
    """RFC3339 (the reference's DATETIME_SERIALISATION_FORMAT /
    DateTimeInterface::ATOM variants), normalized to naive UTC."""
    d = datetime.fromisoformat(s.replace("Z", "+00:00"))
    if d.tzinfo is not None:
        d = d.astimezone(timezone.utc).replace(tzinfo=None)
    return d


def default_event_mapper(obj_id: str, ev: dict) -> dict:
    """Reference ``Event::__serialize()`` dict → canonical envelope.

    ``event`` → event_type, ``datetime`` → ts; ``id`` becomes event_id when
    integral, else a negative synthetic id derived from the saved object id
    (collision-free within one import). ``user_id``/``value`` map when
    present; every other property lands in ``props`` as JSON.
    """
    known = {"id", "event", "datetime", "receivedTime", "user_id", "value"}
    try:
        eid = int(ev.get("id"))
    except (TypeError, ValueError):
        try:
            eid = -1_000_000_000 - int(obj_id)
        except (TypeError, ValueError):
            # non-numeric saved object ids (hash-style) — still deterministic
            import zlib

            eid = -1_000_000_000 - zlib.crc32(str(obj_id).encode())
    value = ev.get("value")
    try:
        value = float(value) if value is not None else None
    except (TypeError, ValueError):
        value = None
    user_id = ev.get("user_id")
    try:
        user_id = int(user_id) if user_id is not None else None
    except (TypeError, ValueError):
        user_id = None
    extras = {k: v for k, v in ev.items() if k not in known}
    return {
        "event_id": eid,
        "ts": _parse_iso(ev["datetime"]),
        "user_id": user_id,
        "event_type": ev["event"],
        "value": value,
        "props": json.dumps(extras, sort_keys=True) if extras else None,
    }


@dataclass
class ImportedState:
    """Everything a migration needs, in this engine's native shapes."""

    #: key column → snapshot DataFrame (``__key string, blob string``);
    #: feed each to correlate_stream(initial_state=...) for its key column.
    initial_states: dict[Optional[str], DataFrame] = field(default_factory=dict)
    #: seeded collective memory (J6/S10), expiry preserved.
    memory: Optional[MemoryEngine] = None
    #: CorrelationEngine statistics section, verbatim.
    statistics: dict = field(default_factory=dict)
    #: source name → checkpoint value (S5) — hand to PHPEC_CHECKPOINT when
    #: restarting the same producer binaries under the JSON-RPC source.
    source_checkpoints: dict = field(default_factory=dict)
    #: errored action commands awaiting replay (W12), verbatim.
    errored_actions: list = field(default_factory=list)
    #: matcher classes present in the save file but absent from rule_map —
    #: inspect before going live; the reference skips UndefinedRule the
    #: same way (CorrelationEngine.php:755-758).
    unmapped_classes: list = field(default_factory=list)
    #: matchers/events in the PRE-2022 format (PHP `serialize()` strings,
    #: CorrelationEngine.php:688-696/727-732) that could NOT be decoded.
    #: Well-formed legacy blobs are decoded in-process (phpserialize.py —
    #: both the C:json and O:__serialize shapes, the exact specimens the
    #: reference commits in tests_adhoc/74_unserialisation.php) and import
    #: like modern entries; only malformed/unsupported blobs land here.
    legacy_entries: int = 0
    #: max event time among imported matcher chains, ISO-8601 UTC — pass
    #: as ``start_correlations(kick_ts=...)`` so restore kicks carry a
    #: sane event time (an epoch-dated kick would make a match-any rule
    #: open an instance whose deadline is decades past).
    max_event_iso: Optional[str] = None
    #: migration-contract violations caught at import: saved matchers whose
    #: PHP-armed timeout disagrees (>1 s) with the deadline the mapped rule
    #: re-derives from the same chain — the mapped rule's TIMEOUT/EVENTS
    #: differ from the PHP class it claims to replace. Tuples of
    #: ``(php_class, rule_name, key, saved_iso, replayed_iso)``;
    #: ``replayed_iso`` is None when replay armed no deadline at all.
    #: Inspect before going live.
    timeout_mismatches: list = field(default_factory=list)


def _replay_chain(rule: Rule, key_val, chain: list) -> list[dict]:
    """Re-run ONE saved matcher's consumed chain through a fresh
    :class:`EngineCore` holding only its mapped rule; returns the live
    instance-state dicts. chain = [(event_id, ts_ns, event_type, value)]
    sorted by (ts, event_id). Emissions are discarded — import wants
    state, not re-fired actions."""
    core = EngineCore([rule], key_val)
    for ev in chain:
        core.handle(ev)
        core.take_rows()
    return [inst.to_state() for inst in core.live[rule.name]]


def _iso_ns(ns: Optional[int]) -> Optional[str]:
    if ns is None:
        return None
    return (
        datetime.fromtimestamp(ns / 1e9, tz=timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
    )


def _deadline_check(insts: list[dict], saved_to) -> Optional[tuple]:
    """Compare a matcher's replayed deadline(s) to the PHP-saved one
    (AEventProcessor::__serialize ``timeout``). Returns (saved_iso,
    replayed_iso) on a >1 s disagreement — the rule_map maps this class
    to a rule with different TIMEOUT/EVENTS — else None. Sub-second
    tolerance absorbs serialization rounding."""
    if not saved_to:
        return None
    if not isinstance(saved_to, str):
        # a numeric/object timeout (legacy-decoded PHP int, foreign shape)
        # cannot be cross-checked — skip the check, never crash the import
        return None
    try:
        want_ns = int(
            _parse_iso(saved_to).replace(tzinfo=timezone.utc).timestamp() * 1e9
        )
    except ValueError:
        return None
    got = [i["deadline_ns"] for i in insts if i["deadline_ns"] is not None]
    got_ns = min(got) if got else None
    if got_ns is None or abs(got_ns - want_ns) > 1_000_000_000:
        return (saved_to, _iso_ns(got_ns))
    return None


def _merge_blob(instances: list[dict]) -> str:
    """Merge per-matcher instance states into one per-key state blob
    (the :meth:`EngineCore.to_state` shape). Arming order — the timeout
    tie-break — is reconstructed as first-consumed-event order, which is
    the order the live engine would have armed them in."""
    instances.sort(key=lambda s: (s["chain"][0][1], s["chain"][0][0], s["rule"]))
    for i, s in enumerate(instances):
        s["seq"] = i
    return json.dumps({"seq": len(instances), "instances": instances})


def import_savefile(
    spark: SparkSession,
    path: str,
    rules: Sequence[Rule],
    rule_map: dict[str, str],
    event_mapper: Callable[[str, dict], dict] = default_event_mapper,
) -> ImportedState:
    """Parse a reference save file into warm-start state.

    ``rule_map`` maps the PHP matcher class name (the ``"c"`` entry,
    e.g. ``"App\\Rules\\CheckOrderPayment"``) to the name of the
    :class:`Rule` in ``rules`` that re-expresses it. Saved matchers of
    unmapped classes are reported, not imported.

    Replay reconstruction mirrors CorrelationEngine::setState
    (CorrelationEngine.php:698-758): each saved matcher's consumed events
    are sorted by (ts, event_id) and re-run through a core holding ONLY
    its mapped rule — other rules never see the replayed events, so a
    rule without a saved matcher can never fabricate an in-flight
    instance from another matcher's chain. The per-key instance lists are
    then merged into one blob in first-consumed-event arming order.
    """
    doc = load_savefile(path)
    engine_state = doc.get("engine", {}) or {}
    scheduler_state = doc.get("scheduler", {}) or {}

    by_name = {r.name: r for r in rules}
    events_section: dict = engine_state.get("events", {}) or {}
    envelopes: dict[str, dict] = {}

    # key column → [(key value, rule name, chain, saved timeout, php
    # class)] — ONE record per saved matcher; the matcher's key is taken
    # from its earliest consumed event (the context-capture event the PHP
    # matcher correlated on)
    matcher_recs: dict[Optional[str], list[tuple]] = {}
    unmapped: list[str] = []
    legacy = 0
    max_event_ts: Optional[datetime] = None
    matchers_section = engine_state.get("matchers", []) or []
    if isinstance(matchers_section, dict):
        # the reference unsets completed matchers from its PHP array;
        # json_encode of the now non-contiguous array emits an OBJECT —
        # the matcher entries are its VALUES (same shape as a legacy
        # state's events array, fixed one level down)
        matchers_section = list(matchers_section.values())
    for entry in matchers_section:
        if isinstance(entry, str):
            # pre-2022 PHP-serialize() matcher blob: decode to the modern
            # {"c": class, "s": state} shape; count only decode failures
            obj = _decode_legacy(entry)
            if obj is None or not obj.php_class:  # matcher needs its class
                legacy += 1
                continue
            entry = {"c": obj.php_class, "s": obj.fields}
        cls = entry.get("c")
        rule_name = rule_map.get(cls)
        if rule_name is None or rule_name not in by_name:
            if cls not in unmapped:
                unmapped.append(cls)
            continue
        rule = by_name[rule_name]
        state = entry.get("s", {})
        if isinstance(state, str):  # legacy per-matcher blob inside new list
            obj = _decode_legacy(state)
            if obj is None:
                legacy += 1
                continue
            state = obj.fields
        ev_ids = state.get("events", []) or []
        if isinstance(ev_ids, dict):
            # a legacy PHP array with non-contiguous integer keys (the
            # engine unset a consumed slot) decodes as a dict — the
            # object ids are its VALUES
            ev_ids = list(ev_ids.values())
        envs = []
        for obj_id in ev_ids:
            obj_id = str(obj_id)
            ev = events_section.get(obj_id)
            if ev is None:
                continue
            if obj_id in envelopes:
                env = envelopes[obj_id]
                if env is not None:
                    envs.append(env)
                continue  # cached decode/map result (incl. failures —
                # an event shared by N matchers decodes and counts ONCE)
            # The event/datetime shape gate encodes what the DEFAULT
            # mapper requires; a custom event_mapper may target a
            # differently-shaped events section, so for it we rely on
            # the try/except around the mapper call instead of
            # pre-filtering every entry into the legacy-skip bucket.
            gate = event_mapper is default_event_mapper
            if isinstance(ev, str):  # legacy PHP-serialize() event blob
                obj = _decode_legacy(ev)
                if obj is None or (gate and not _is_event_shaped(obj.fields)):
                    # decodable but not an Event (foreign class, null
                    # datetime): count-and-skip, never crash the import
                    legacy += 1
                    envelopes[obj_id] = None
                    continue
                ev = obj.fields
            elif not isinstance(ev, dict) or (gate and not _is_event_shaped(ev)):
                # MODERN entry with a null/missing datetime or event:
                # the same count-and-skip, never an import-aborting crash
                legacy += 1
                envelopes[obj_id] = None
                continue
            try:
                envelopes[obj_id] = event_mapper(obj_id, ev)
            except (ValueError, KeyError, TypeError):
                # shape checks pass but the datetime doesn't parse
                legacy += 1
                envelopes[obj_id] = None
                continue
            envs.append(envelopes[obj_id])
        if not envs:
            continue
        envs.sort(key=lambda e: (e["ts"], e["event_id"]))
        chain = []
        for env in envs:
            if max_event_ts is None or env["ts"] > max_event_ts:
                max_event_ts = env["ts"]
            # ts is naive UTC; a bare .timestamp() would re-interpret it in
            # the driver's LOCAL timezone and shift every replayed deadline
            # by the UTC offset
            ts_ns = int(env["ts"].replace(tzinfo=timezone.utc).timestamp() * 1e9)
            chain.append((env["event_id"], ts_ns, env["event_type"], env["value"]))
        key_val = (
            "__all__" if rule.key is None else str(envs[0].get(rule.key))
        )
        matcher_recs.setdefault(rule.key, []).append(
            (key_val, rule.name, chain, state.get("timeout"), cls)
        )

    #: Spark type of each envelope column a rule may key on — snapshot keys
    #: must be the SPARK cast-to-string of the native value (what the
    #: streaming engines group on), not Python str(): Java Double.toString
    #: switches to E-notation at 1e7 where Python doesn't, etc.
    _KEY_TYPES = {"user_id": "bigint", "value": "double"}

    from pyspark.sql import functions as F

    initial_states: dict[Optional[str], DataFrame] = {}
    timeout_mismatches: list = []

    for key_col, recs in matcher_recs.items():
        per_key: dict[str, list[dict]] = {}
        for key_val, rname, chain, saved_to, cls in recs:
            insts = _replay_chain(by_name[rname], key_val, chain)
            per_key.setdefault(key_val, []).extend(insts)
            bad = _deadline_check(insts, saved_to)
            if bad is not None:
                timeout_mismatches.append((cls, rname, key_val, bad[0], bad[1]))
        rows = [
            (key_val, _merge_blob(insts))
            for key_val, insts in per_key.items()
            if insts
        ]
        if not rows:
            continue
        typed = spark.createDataFrame(rows, "__k string, blob string")
        # round-trip the key through the native type so the stored __key
        # equals the Spark CAST the live query's grouping uses; keyless
        # rules keep the literal "__all__" sentinel the streaming engines
        # group on (engine/streaming.py:251); a saved Python-None key
        # normalizes back to NULL
        ktype = _KEY_TYPES.get(key_col, "string")
        if key_col is None:
            key_expr = F.col("__k")
        else:
            key_expr = F.when(
                F.col("__k").isin("None", "__all__"),
                F.lit(None).cast("string"),
            ).otherwise(F.col("__k").cast(ktype).cast("string"))
        initial_states[key_col] = typed.select(
            key_expr.alias("__key"), "blob"
        )

    memory = None
    mem_entries = doc.get("memory", []) or []
    if isinstance(mem_entries, dict):  # non-contiguous PHP array -> object
        mem_entries = list(mem_entries.values())
    if mem_entries:
        mem_rows = []
        for i, m in enumerate(mem_entries):
            if not isinstance(m, dict) or "namespace" not in m or "key" not in m:
                continue
            expires = m.get("expiresAt")
            if expires is not None:
                try:
                    _parse_iso(expires)
                except (ValueError, TypeError, AttributeError):
                    legacy += 1  # malformed entry: count-and-skip
                    continue
            mem_rows.append(
                (
                    str(m["namespace"]),
                    str(m["key"]),
                    json.dumps(m.get("value"), sort_keys=True),
                    # tz-AWARE so TimestampType.toInternal converts from
                    # true UTC — a naive value would be read in driver-local
                    # time and shift the expiry by the host's UTC offset
                    _parse_iso(expires).replace(tzinfo=timezone.utc)
                    if expires
                    else None,
                    bool(m.get("persistent", True)),
                    0,
                    i,
                )
            )
        memory = MemoryEngine(
            spark, spark.createDataFrame(mem_rows, MEMORY_SCHEMA)
        )

    if timeout_mismatches:
        import warnings

        warnings.warn(
            f"{len(timeout_mismatches)} saved matcher(s) re-derived a "
            "DIFFERENT deadline than the PHP engine had armed — the "
            "mapped rule's TIMEOUT/EVENTS disagree with the class it "
            "replaces (first: "
            f"{timeout_mismatches[0]!r}). Inspect "
            "ImportedState.timeout_mismatches before going live.",
            UserWarning,
            stacklevel=2,
        )
    return ImportedState(
        initial_states=initial_states,
        memory=memory,
        statistics=engine_state.get("statistics", {}) or {},
        source_checkpoints=(
            (scheduler_state.get("input", {}) or {}).get("checkpoints", {}) or {}
        ),
        errored_actions=(
            (scheduler_state.get("actions", {}) or {}).get("errored", []) or []
        ),
        unmapped_classes=unmapped,
        legacy_entries=legacy,
        timeout_mismatches=timeout_mismatches,
        max_event_iso=(
            max_event_ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
            if max_event_ts is not None
            else None
        ),
    )
