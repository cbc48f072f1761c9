"""Action sinks (SURVEY S6-S8, W12).

The reference dispatches Actions to long-lived child processes over
JSON-RPC (ActionExecutionCoordinator.php:98-296) with optional JSON-schema
parameter validation (:229-239) and crash-replay of errored actions
(Scheduler.php:841-884, 766-792). Spark-native rendering:

- :class:`ActionDispatcher` is a ``foreachBatch`` callable. Registered
  actions are either Python callables (closure actions, S7 —
  ClosureActionWrapper.php:24-93) or external commands fed NDJSON on stdin
  (process actions, S6 — one subprocess per batch, batch-vectorized where
  the reference is request-at-a-time).
- Two dispatch paths, chosen per action:
  * **driver** (default): rows reach the driver and are dispatched in
    bounded chunks — the reference's model (actions are centrally
    dispatched by the scheduler), safe for normal alert-volume output. A
    pinned batch of at most :data:`COLLECT_BUDGET_BYTES` arrives in one
    ``collect()``; a larger one streams through ``toLocalIterator``, so
    the driver never holds more than one partition of it.
  * **distributed** (``distributed=True``): the action runs executor-side
    via ``foreachPartition`` — for high-volume per-event emissions where
    shipping rows to the driver would bottleneck at 100 TB. Requires the
    action (closure or cmd) to be picklable/installed on executors.
- Parameter validation (S8) is a minimal typed-schema check (the container
  ships no jsonschema lib): ``{"field": type, ...}`` with required/optional
  markers.
- Idempotency/at-least-once (W12): foreachBatch may replay a batch after a
  crash. The dispatcher records completed ``batchId`` markers — in memory
  within a run, and as marker files under ``checkpoint_dir`` (when given)
  so a RESTARTED run skips already-dispatched batches, mirroring the
  reference's completed-request bookkeeping. Failed action payloads are
  journaled under ``checkpoint_dir/errored/`` and re-attempted by
  :meth:`replay_errored` (call before restarting sources, as the reference
  scheduler does) with a 3-attempt halt.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import subprocess
import uuid
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Reference parity: RecoveringAction attempts are capped (Scheduler.php:
#: 766-792 marker/cooldown/halt) — after this many failed replays the
#: payload is left on disk and reported, never retried again.
MAX_REPLAY_ATTEMPTS = 3

#: Journal datetime round-trip: a plain ``default=str`` would replay rows
#: with STRINGS where the original dispatch had datetime objects — a
#: transient failure of an action with a datetime param would then fail
#: validation (or crash the closure) on every replay and 3-strike halt.
_DT_MARK = "__phpec_dt__"

#: Driver-path fetch bound. A pinned emission batch whose blocks take at
#: most this many bytes in the block manager is fetched with ONE
#: ``collect()`` — one Spark job. Above it, or when the size cannot be
#: read, rows stream through ``toLocalIterator``, which runs one serial
#: job per partition (about 65 ms each on a 4-vCPU box) but holds only one
#: partition on the driver at a time.
COLLECT_BUDGET_BYTES = 16 << 20


def _journal_default(o):
    if isinstance(o, _dt.datetime):
        return {_DT_MARK: o.isoformat()}
    return str(o)


def _journal_revive(obj: dict):
    if set(obj) == {_DT_MARK}:
        return _dt.datetime.fromisoformat(obj[_DT_MARK])
    return obj


class ActionValidationError(ValueError):
    pass


@dataclass
class ActionSpec:
    name: str
    fn: Optional[Callable[[list[dict]], None]] = None  # closure action (S7)
    cmd: Optional[list[str]] = None  # process action (S6): NDJSON on stdin
    schema: Optional[dict] = None  # S8: {"field": type | (type, "optional")}
    distributed: bool = False  # run on executors via foreachPartition
    rpc: bool = False  # cmd speaks the reference's JSON-RPC (long-lived child)

    def validate(self, row: dict) -> None:
        if not self.schema:
            return
        # Discriminate a full JSON-Schema DOCUMENT from the typed-dict
        # shorthand by value shape, not key presence: a typed dict may
        # legitimately have a FIELD named 'type'/'properties'/'required'
        # (mapped to a Python type), which key-presence would misroute
        # into the JSON-Schema validator and fail every dispatch.
        if isinstance(self.schema, dict) and (
            isinstance(self.schema.get("type"), str)
            or isinstance(self.schema.get("properties"), dict)
            or isinstance(self.schema.get("required"), list)
        ):
            # full JSON-Schema document, the reference's native contract
            # (AEC.php:230-239); nulls are absent keys JSON-wise
            from .schema import validate_json_schema

            inst = {k: v for k, v in row.items() if v is not None}
            errs = validate_json_schema(inst, self.schema)
            if errs:
                raise ActionValidationError(
                    f"action {self.name}: invalid params: " + "; ".join(errs)
                )
            return
        for fname, spec in self.schema.items():
            optional = isinstance(spec, tuple) and "optional" in spec[1:]
            typ = spec[0] if isinstance(spec, tuple) else spec
            if fname not in row or row[fname] is None:
                if optional:
                    continue
                raise ActionValidationError(
                    f"action {self.name}: missing required param {fname!r}"
                )
            if typ is not None and not isinstance(row[fname], typ):
                raise ActionValidationError(
                    f"action {self.name}: param {fname!r} expected "
                    f"{getattr(typ, '__name__', typ)}, got {type(row[fname]).__name__}"
                )

    def dispatch(self, batch: list[dict]) -> None:
        """Validate + run one group of rows through this action (raises on
        failure — callers decide quarantine vs journal)."""
        for row in batch:
            self.validate(row)
        if self.fn is not None:
            self.fn(batch)
        elif self.cmd is not None and self.rpc:
            # drop-in for php-ec action binaries: ONE long-lived child per
            # action, request-at-a-time with per-request completion
            # bookkeeping (ActionExecutionCoordinator.php:138-175)
            from .jsonrpc import rpc_action_process

            proc = rpc_action_process(self.cmd)
            for row in batch:
                proc.run(row)
        elif self.cmd is not None:
            payload = "".join(json.dumps(r, default=str) + "\n" for r in batch)
            subprocess.run(self.cmd, input=payload.encode(), check=True, timeout=60)


def _utc_naive(v):
    """Undo PySpark's local-timezone rendering of TimestampType: Row
    conversion (``fromInternal``) turns the internal UTC micros into a
    NAIVE datetime in the host's local tz, so on a non-UTC driver or
    executor every action payload timestamp is shifted by the UTC offset.
    A naive datetime is re-read as local time and converted back to naive
    UTC — actions always see the same UTC wall time the engine computed
    (Event.php:63-80 normalizes to UTC the same way)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _pinned_bytes(df: DataFrame) -> Optional[int]:
    """Bytes the block manager holds for ``df``'s pin, read from the RDD
    storage info (no Spark job). None unless ``df`` is a bare
    ``localCheckpoint`` frame whose every partition is reported cached."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    rdd_id = plan.rdd().id()
    for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() == rdd_id and info.numCachedPartitions() == info.numPartitions():
            return info.memSize() + info.diskSize()
    return None


def _run_groups(
    specs_by_rule: dict[str, ActionSpec],
    default: Optional[ActionSpec],
    rows: Iterable[dict],
    want_distributed: bool,
    chunk_size: int,
) -> tuple[list[tuple[str, int]], list[tuple[str, int, str, list[dict]]]]:
    """Route rows to actions and dispatch in bounded chunks.

    Shared by the driver path (iterating the fetched batch) and the
    executor path (iterating a partition); timestamps are normalized to
    UTC either way (:func:`_utc_naive`). Returns (completed, failed)
    as (action, n) / (action, n, error, rows) tuples.
    """
    buf: dict[str, list[dict]] = {}
    specs: dict[str, ActionSpec] = {}
    done: dict[str, int] = {}
    failed: list[tuple[str, int, str, list[dict]]] = []

    def flush(name: str) -> None:
        batch = buf.pop(name, [])
        if not batch:
            return
        try:
            specs[name].dispatch(batch)
            done[name] = done.get(name, 0) + len(batch)
        except Exception as e:  # quarantine, don't kill the engine
            # (the reference PANICS on rule/action errors,
            # Scheduler.php:339-349 — we deliberately soften that)
            failed.append((name, len(batch), repr(e), batch))

    for row in rows:
        spec = specs_by_rule.get(row.get("rule")) or default
        if spec is None or spec.distributed != want_distributed:
            continue
        row = {k: _utc_naive(v) for k, v in row.items()}
        specs[spec.name] = spec
        buf.setdefault(spec.name, []).append(row)
        if len(buf[spec.name]) >= chunk_size:
            flush(spec.name)
    for name in list(buf):
        flush(name)
    return list(done.items()), failed


@dataclass
class ActionDispatcher:
    """foreachBatch sink: routes emission rows to registered actions.

    Rows are routed by their ``rule`` column (one action per rule name;
    ``default_action`` catches the rest). Called as ``dispatcher(df,
    batch_id)`` by Structured Streaming, or directly on a batch DataFrame.
    """

    actions: dict[str, ActionSpec] = field(default_factory=dict)
    default_action: Optional[ActionSpec] = None
    completed: list = field(default_factory=list)  # (batch_id, action, n) log
    failed: list = field(default_factory=list)  # (batch_id, action, n, err)
    checkpoint_dir: Optional[str] = None  # cross-run batch markers + journal
    chunk_size: int = 10_000  # rows per action call (and per buffer)
    _done_batches: set = field(default_factory=set)

    def register(
        self,
        name: str,
        fn: Optional[Callable[[list[dict]], None]] = None,
        cmd: Optional[list[str]] = None,
        schema: Optional[dict] = None,
        rules: Optional[list[str]] = None,
        distributed: bool = False,
        rpc: bool = False,
    ) -> "ActionDispatcher":
        """register_action analog (Scheduler.php:316-319 / AEC.php:89-92)."""
        spec = ActionSpec(
            name=name, fn=fn, cmd=cmd, schema=schema,
            distributed=distributed, rpc=rpc,
        )
        if rules is None:
            self.default_action = spec
        else:
            for r in rules:
                self.actions[r] = spec
        return self

    # -- cross-run batch markers (W12) -----------------------------------

    def _marker(self, batch_id: int) -> Optional[str]:
        if self.checkpoint_dir is None:
            return None
        return os.path.join(self.checkpoint_dir, "actions", f"batch_{batch_id}.done")

    def _batch_done(self, batch_id: int) -> bool:
        if batch_id in self._done_batches:
            return True
        marker = self._marker(batch_id)
        if marker and os.path.exists(marker):
            self._done_batches.add(batch_id)
            return True
        return False

    def _mark_done(self, batch_id: int) -> None:
        self._done_batches.add(batch_id)
        marker = self._marker(batch_id)
        if marker:
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                f.write("done\n")
            os.replace(tmp, marker)  # atomic: a crash never leaves half-markers

    # -- errored-action journal + replay (Scheduler.php:841-884) ---------

    def _journal_failure(self, action: str, batch: list[dict]) -> None:
        if self.checkpoint_dir is None:
            return
        d = os.path.join(self.checkpoint_dir, "errored")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{action}-{uuid.uuid4().hex}.json")
        with open(path + ".tmp", "w") as f:
            json.dump(
                {"action": action, "attempts": 1, "rows": batch},
                f,
                default=_journal_default,
            )
        os.replace(path + ".tmp", path)

    def replay_errored(self) -> dict[str, int]:
        """Re-attempt journaled failed actions; call BEFORE starting sources
        (reference replays errored actions first, Scheduler.php:841-884).

        Returns {"replayed": n, "halted": m}. A payload that has failed
        MAX_REPLAY_ATTEMPTS times is left on disk (``.halted``) and never
        retried — the reference's marker/halt behavior.
        """
        out = {"replayed": 0, "halted": 0}
        if self.checkpoint_dir is None:
            return out
        d = os.path.join(self.checkpoint_dir, "errored")
        if not os.path.isdir(d):
            return out
        by_name = {s.name: s for s in self.actions.values()}
        if self.default_action is not None:
            by_name.setdefault(self.default_action.name, self.default_action)
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".json"):
                continue
            path = os.path.join(d, fname)
            with open(path) as f:
                entry = json.load(f, object_hook=_journal_revive)
            spec = by_name.get(entry["action"])
            try:
                if spec is None:
                    raise KeyError(f"action {entry['action']!r} no longer registered")
                spec.dispatch(entry["rows"])
                os.remove(path)
                out["replayed"] += 1
            except Exception as e:
                entry["attempts"] = entry.get("attempts", 1) + 1
                entry["last_error"] = repr(e)
                if entry["attempts"] >= MAX_REPLAY_ATTEMPTS:
                    os.replace(path, path + ".halted")
                    out["halted"] += 1
                    self.failed.append((-1, entry["action"], len(entry["rows"]), repr(e)))
                # tmp+replace, like the initial journal write: an in-place
                # rewrite interrupted mid-write would corrupt the entry and
                # lose the payload for every later replay
                target = (
                    path if entry["attempts"] < MAX_REPLAY_ATTEMPTS
                    else path + ".halted"
                )
                with open(target + ".tmp", "w") as f:
                    json.dump(entry, f, default=_journal_default)
                os.replace(target + ".tmp", target)
        return out

    # -- dispatch --------------------------------------------------------

    def __call__(
        self,
        df: DataFrame,
        batch_id: int = -1,
        pre_materialized: bool = False,
    ) -> None:
        """``pre_materialized=True`` promises ``df`` is already an eager
        localCheckpoint (the correlation queries' sinks pin each batch once
        for every consumer) — skips the second cached copy."""
        if batch_id >= 0 and self._batch_done(batch_id):
            # Replay dedup (W12) — but the replayed batch must still be
            # CONSUMED: for stateful queries Spark 4's state-store commit
            # validation requires every partition of the micro-batch to
            # execute, and an early return fails the RESTARTED query with
            # STATE_STORE_COMMIT_VALIDATION_FAILED — precisely the
            # crash-replay the marker exists for. The noop sink drains
            # the plan JVM-side without re-dispatching anything.
            if df.isStreaming is False:
                df.write.format("noop").mode("overwrite").save()
            return
        ckpt = None
        if not df.isStreaming and not pre_materialized:
            # Materialize the emission batch ONCE, in parallel, before any
            # consumer: toLocalIterator on the raw stateful-plan frame runs
            # ONE JOB PER PARTITION (partitions execute serially) — on the
            # live path that serialization is exactly the
            # "~0.5 s per state partition per micro-batch" tax round 5
            # measured (README envelope); the per-partition cost is real
            # but was paying sequentially instead of across cores. The
            # eager localCheckpoint executes all partitions concurrently
            # (also satisfying Spark 4's state-store commit validation);
            # the driver fetch then reads cached blocks without recompute.
            # Emission batches are rule firings, not raw events — small by
            # construction, so the cached copy is cheap and is released in
            # the finally below.
            ckpt = df.localCheckpoint(eager=True)
            df = ckpt
        try:
            self._dispatch(df, batch_id)
        finally:
            if ckpt is not None:
                ckpt.unpersist()

    def _dispatch(self, df: DataFrame, batch_id: int) -> None:
        specs_by_rule = dict(self.actions)
        default = self.default_action
        chunk = self.chunk_size

        dist_rules = [r for r, s in specs_by_rule.items() if s.distributed]
        drv_rules = [r for r, s in specs_by_rule.items() if not s.distributed]
        known = list(specs_by_rule)

        # executor path: high-volume actions run where the data already is —
        # rows never cross to the driver (ADVICE: no collect in this path).
        # cond is built NULL-safe: isin() propagates NULL for a NULL rule
        # column, which a plain filter drops — a NULL-rule row must route
        # to the default action exactly like the driver path routes it.
        dist_df = None
        cond = None
        if dist_rules or (default is not None and default.distributed):
            cond = (
                F.coalesce(F.col("rule").isin(dist_rules), F.lit(False))
                if dist_rules
                else F.lit(False)
            )
            if default is not None and default.distributed:
                in_known = (
                    F.coalesce(F.col("rule").isin(known), F.lit(False))
                    if known
                    else F.lit(False)
                )
                cond = cond | ~in_known
            dist_df = df.filter(cond)

        if dist_df is not None:
            def run_partition(rows) -> Iterable[tuple]:
                done, failed = _run_groups(
                    specs_by_rule, default,
                    (r.asDict() for r in rows), True, chunk,
                )
                for name, n in done:
                    yield ("ok", name, n, "", None)
                for name, n, err, batch in failed:
                    # executors have no shared-disk journal contract, so
                    # FAILED payloads (and only those — volume bounded by
                    # failure count) ship back in the status rows; the
                    # driver journals them below, unifying replay_errored()
                    # across both dispatch paths (W12). Datetimes must use
                    # the journal's tagged round-trip encoding — a plain
                    # default=str here replays STRINGS where the original
                    # dispatch had datetimes, re-failing validation every
                    # replay into a 3-strike halt (the round-6 driver-path
                    # fix, applied to this path too).
                    yield (
                        "err", name, n, err,
                        json.dumps(batch, default=_journal_default),
                    )

            results = (
                dist_df.rdd.mapPartitions(run_partition).collect()
                if not dist_df.isStreaming else []
            )
            agg_ok: dict[str, int] = {}
            for status, name, n, err, payload in results:
                if status == "ok":
                    agg_ok[name] = agg_ok.get(name, 0) + n
                else:
                    self.failed.append((batch_id, name, n, err))
                    if payload:
                        self._journal_failure(
                            name,
                            json.loads(payload, object_hook=_journal_revive),
                        )
            for name, n in agg_ok.items():
                self.completed.append((batch_id, name, n))

        # driver path: at most ``chunk_size`` buffered rows per action.
        # A pinned batch within COLLECT_BUDGET_BYTES comes over in one
        # collect() — one job instead of toLocalIterator's serial job per
        # partition; same rows, same (partition) order. Only the
        # driver-routed rows cross to the driver: iterating the unfiltered
        # frame would ship every high-volume distributed-action row to the
        # driver just to discard it — the exact bottleneck distributed=True
        # exists to avoid.
        ran_driver = drv_rules or (default is not None and not default.distributed)
        if ran_driver:
            drv_df = df if cond is None else df.filter(~cond)
            pinned = None if df.isStreaming else _pinned_bytes(df)
            if pinned is not None and pinned <= COLLECT_BUDGET_BYTES:
                fetched = drv_df.collect()
            else:
                fetched = drv_df.toLocalIterator()
            rows = (r.asDict() for r in fetched)
            done, failed = _run_groups(specs_by_rule, default, rows, False, chunk)
            for name, n in done:
                self.completed.append((batch_id, name, n))
            for name, n, err, batch in failed:
                self.failed.append((batch_id, name, n, err))
                self._journal_failure(name, batch)
        elif dist_df is None and not df.isStreaming:
            # no action consumed the frame (empty dispatcher / all-None
            # routing): the micro-batch must still execute — Spark 4's
            # state-store commit validation fails the query otherwise
            # (same hazard as the replayed-batch skip above)
            df.write.format("noop").mode("overwrite").save()

        if batch_id >= 0:
            self._mark_done(batch_id)
