"""Streaming surface: sources, action sinks, lifecycle helpers.

Maps the reference's scheduler plumbing onto Structured Streaming:

- sources (S1-S5)   → :mod:`.sources` — NDJSON directory/process feeds,
  generator/rate sources, checkpointed offsets.
- action sinks (S6-S8) → :mod:`.sinks` — foreachBatch dispatcher with
  parameter validation, closure actions, idempotent replay behavior.
- engine lifecycle  → :func:`start_correlation` — wires source → correlate
  → sink with a checkpointLocation (replaces save-state/recovery,
  Scheduler.php:620-673/743-947).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..engine.streaming import correlate_stream
from ..memory import MemoryHub
from ..rules.base import Rule
from .jsonrpc import JsonRpcActionProcess, JsonRpcProcessSource, jsonrpc_source
from .sinks import ActionDispatcher
from .sources import heartbeat_source, ndjson_dir_source, rate_event_source

__all__ = [
    "ActionDispatcher",
    "CorrelationGroup",
    "JsonRpcActionProcess",
    "JsonRpcProcessSource",
    "MemoryHub",
    "correlate_stream",
    "heartbeat_source",
    "jsonrpc_source",
    "ndjson_dir_source",
    "rate_event_source",
    "start_chained_correlation",
    "start_correlation",
    "start_correlations",
]


def start_correlation(
    events: DataFrame,
    rules: Sequence[Rule],
    checkpoint_dir: str,
    dispatcher: Optional[ActionDispatcher] = None,
    watermark_delay: str = "0 seconds",
    query_name: str = "php-ec-correlation",
    trigger_once: bool = False,
    clock: str = "event",
    initial_state: Optional[DataFrame] = None,
    state_partitions: Optional[int] = None,
    memory: Optional["MemoryHub"] = None,
) -> StreamingQuery:
    """Source → correlation engine → action sink, checkpointed.

    ``memory`` auto-wires the reference's central memory loop
    (Scheduler.php:820 + MemoryEngine.php:63-79, no user glue): each
    micro-batch's emissions run through ``writes_from_emissions`` →
    ``MemoryHub.absorb`` AFTER actions dispatch, and rule callbacks in
    the NEXT batch read the updated state via
    ``php_ec_spark.memory.live_memory()`` (expired entries purged every
    ``purge_every_s`` — the 30 s Scheduler.php:913-915 analog). An
    unbound hub anchors its snapshot under ``checkpoint_dir``.

    ``checkpoint_dir`` carries source offsets (S5), operator state (W11)
    and sink progress — the whole SaveHandler/RECOVERY subsystem of the
    reference (Scheduler.php:620-673, 766-884) in one Spark-native knob.
    Restarting with the same checkpoint resumes exactly where processing
    stopped. ``initial_state`` (an ``engine.snapshot_state`` DataFrame)
    warm-starts a FRESH checkpoint from a batch replay of history — the
    reference's restore-savefile-then-go-live boot (Scheduler.php:695-947);
    see correlate_stream's docstring for the quiet-key kick caveat.
    The dispatcher anchors its cross-run batch markers and
    errored-action journal under the same checkpoint dir (unless it was
    built with its own), so a replayed micro-batch is skipped instead of
    double-dispatching — the reference's errored-action replay + marker
    bookkeeping (W12, Scheduler.php:766-884).

    ``state_partitions`` sizes the stateful operator's partition count.
    Each partition is one state task per micro-batch with two Python
    runners and ~100 ms of state commit; on a 4-vCPU box at 4 partitions
    state update sums to ~1.6 s per batch (~4.5 s before reused workers
    stopped re-reading ``pyspark.zip`` at every task start), and the
    per-KEY handler cost is ~0.6 ms — see engine/streaming.py's cost
    model.
    Spark reads ``spark.sql.shuffle.partitions`` when the query plans its
    first batch and PINS it in the checkpoint, so this sets the conf
    around ``start()`` and restores it after — do not plan other queries
    concurrently with this call. On a restart from an existing
    checkpoint the pinned value wins regardless.
    """
    if memory is not None:
        memory.bind(checkpoint_dir)
    emissions = correlate_stream(
        events,
        rules,
        watermark_delay=watermark_delay,
        clock=clock,
        initial_state=initial_state,
        memory_path=None if memory is None else memory.snapshot_path,
    )
    dispatcher = _anchored(dispatcher, checkpoint_dir)

    def consume(ckpt: DataFrame, batch_id: int) -> None:
        dispatcher(ckpt, batch_id, pre_materialized=True)
        if memory is not None:
            memory.absorb(ckpt)  # writes land before batch N+1 reads

    writer = (
        emissions.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(_pinned_sink(consume))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return _start(writer, events.sparkSession, state_partitions)


def _anchored(
    dispatcher: Optional[ActionDispatcher], checkpoint_dir: str
) -> ActionDispatcher:
    """The query's dispatcher (a fresh one by default), its cross-run batch
    markers and errored-action journal anchored under the query's
    checkpoint dir unless it was built with its own, and the errored
    actions of an earlier run replayed."""
    dispatcher = dispatcher or ActionDispatcher()
    if dispatcher.checkpoint_dir is None:
        dispatcher.checkpoint_dir = checkpoint_dir
    dispatcher.replay_errored()
    return dispatcher


def _pinned_sink(
    consume: Callable[[DataFrame, int], None]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink that materializes each emission batch ONCE, in
    parallel (eager ``localCheckpoint``), hands the pinned frame to
    ``consume`` and releases it. Every consumer reads the same blocks, and
    the dispatcher is told the frame is already pinned so it does not pin
    a second copy. The pin stays a ``localCheckpoint``: a reliable
    checkpoint would write every micro-batch into the checkpoint dir, and
    ``unpersist`` would not remove those files."""

    def sink(df: DataFrame, batch_id: int) -> None:
        ckpt = df.localCheckpoint(eager=True)
        try:
            consume(ckpt, batch_id)
        finally:
            # explicit release: at a sub-second trigger, relying on GC/
            # ContextCleaner lets checkpointed blocks pile up between
            # cycles (and an exception mid-sink would leak the batch)
            ckpt.unpersist()

    return sink


def _start(writer, spark, state_partitions: Optional[int]) -> StreamingQuery:
    """``writer.start()``, with ``spark.sql.shuffle.partitions`` set to
    ``state_partitions`` (when given) around the call. The streaming query
    clones the session synchronously inside start(), so the restored conf
    cannot race the first batch plan."""
    if state_partitions is None:
        return writer.start()
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        return writer.start()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            # RuntimeConfig.get(key, None) returns None when the conf was
            # never EXPLICITLY set (the SQLConf default doesn't surface) —
            # leaving our override in place would silently re-plan every
            # later query in the session with state_partitions partitions
            spark.conf.unset("spark.sql.shuffle.partitions")


def start_chained_correlation(
    events: DataFrame,
    rules: Sequence[Rule],
    checkpoint_dir: str,
    chain_dir: str,
    dispatcher: Optional[ActionDispatcher] = None,
    watermark_delay: str = "1 day",
    clock: str = "processing",
    trigger_interval: str = "500 milliseconds",
    query_name: str = "php-ec-chained",
    state_partitions: Optional[int] = None,
) -> StreamingQuery:
    """LIVE rule chaining (J5): emissions become events the SAME query
    consumes on a later trigger.

    The reference re-injects rule-emitted events into its engine on the
    next loop tick (CorrelationEngine.php:372-391, Scheduler.php:800-814).
    Streaming analog: the source is ``events`` unioned with an NDJSON
    stream over ``chain_dir``; each micro-batch's emissions are (a)
    dispatched as actions and (b) rendered to derived events
    (``engine.emissions_to_events`` — '<rule>:<outcome>' types, negative
    collision-free ids) and written EXECUTOR-SIDE as NDJSON part files
    into ``chain_dir`` (atomic task-commit renames; ``_SUCCESS`` /
    ``_temporary`` are underscore-prefixed, invisible to the file source),
    where the file source picks them up on the next trigger — the
    futureTick deferral as a file-fed feedback loop, offset-tracked and
    replay-safe through the checkpoint. A rule emitting per-event never
    funnels through the driver, and timestamps format under the UTC
    session timezone (never the driver-local tz). Retention: the chain
    source runs with ``cleanSource=delete``, so derived files are removed
    once their batch commits — the feedback dir does not grow without
    bound.

    Defaults encode the live-mode contract:

    - ``clock="processing"`` — chaining is a live-engine behavior
      (TickClock); derived events carry PAST event times (a timeout's
      fire_ts is its deadline), which event-time timers have already swept
      past. Deterministic batch replay of chains is ``chain_correlate``.
    - ``watermark_delay="1 day"`` — the late-row bound must cover the
      whole event-time span a chain can reach back to, or re-injected
      events get dropped as late; size it to the longest rule timeout
      chain.

    A rule set that consumes its own derived types can loop forever —
    exactly like the reference (no depth cap in live mode); batch
    ``chain_correlate`` is the capped variant.
    """
    from ..engine.chain import _derived_events_mapper

    os.makedirs(chain_dir, exist_ok=True)
    spark = events.sparkSession
    src = events.unionByName(
        ndjson_dir_source(spark, chain_dir, clean_source="delete")
    )
    emissions = correlate_stream(
        src, rules, watermark_delay=watermark_delay, clock=clock
    )
    to_events = _derived_events_mapper(events, rules)
    dispatcher = _anchored(dispatcher, checkpoint_dir)

    def consume(df: DataFrame, batch_id: int) -> None:
        dispatcher(df, batch_id, pre_materialized=True)
        if df.isEmpty():  # JVM-side limit-1 probe on the checkpointed batch
            return  # no derived file — quiet batches leave the chain dir alone
        # Derived events re-enter executor-side: written as NDJSON part
        # files into a hidden staging dir (underscore prefix — invisible
        # to the file source even mid-write), then renamed by the driver
        # to DETERMINISTIC per-batch names. Replay safety: a re-run of
        # batch N produces the same file paths, and the file source's
        # seen-files log ignores an already-processed path even after
        # cleanSource deleted it — so a crash between write and checkpoint
        # commit can never double-inject derived events (the same
        # guarantee the old single-file os.replace gave, kept while the
        # DATA path stays executor-side; the rename is metadata-only).
        # The JSON writer formats ts in the UTC session timezone — a
        # driver-local tz can never shift re-injected event times.
        staging = os.path.join(chain_dir, f"_staging_{batch_id}")
        import shutil

        shutil.rmtree(staging, ignore_errors=True)  # replay leftovers
        (
            to_events(df)
            .write.mode("overwrite")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
            .json(staging)
        )
        # drop any not-yet-consumed files a crashed run left for THIS batch
        # (a replay may split into a different part count; a stale higher
        # index would otherwise re-add rows the new files already carry)
        prefix = f"derived_{batch_id:010d}_"
        for old in os.listdir(chain_dir):
            if old.startswith(prefix):
                os.remove(os.path.join(chain_dir, old))
        for i, p in enumerate(sorted(os.listdir(staging))):
            if p.startswith("part-") and os.path.getsize(os.path.join(staging, p)):
                os.replace(
                    os.path.join(staging, p),
                    os.path.join(chain_dir, f"derived_{batch_id:010d}_{i:04d}.json"),
                )
        shutil.rmtree(staging, ignore_errors=True)

    writer = (
        emissions.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(_pinned_sink(consume))
        .trigger(processingTime=trigger_interval)
    )
    return _start(writer, spark, state_partitions)


@dataclass
class CorrelationGroup:
    """Handle over one streaming query per correlation-key column.

    Spark allows a single ``applyInPandasWithState`` per streaming query,
    so a rule set keyed on several columns runs as several queries
    (see correlate_stream's guard). This groups them: per-key dispatchers,
    combined completed/failed views, await/stop across the set — the
    orchestration the reference scheduler does across its rule instances.
    """

    queries: dict[Optional[str], StreamingQuery] = field(default_factory=dict)
    dispatchers: dict[Optional[str], ActionDispatcher] = field(default_factory=dict)

    @property
    def completed(self) -> list:
        """(key_col, batch_id, action, n) across every query."""
        return [
            (k, *entry) for k, d in self.dispatchers.items() for entry in d.completed
        ]

    @property
    def failed(self) -> list:
        return [
            (k, *entry) for k, d in self.dispatchers.items() for entry in d.failed
        ]

    def await_all(self, timeout: Optional[float] = None) -> None:
        for q in self.queries.values():
            q.awaitTermination(timeout=timeout)

    def stop_all(self) -> None:
        for q in self.queries.values():
            q.stop()


def start_correlations(
    events: DataFrame,
    rules: Sequence[Rule],
    checkpoint_root: str,
    dispatcher_factory: Optional[Callable[[Optional[str]], ActionDispatcher]] = None,
    watermark_delay: str = "0 seconds",
    query_name: str = "php-ec-correlation",
    trigger_once: bool = False,
    clock: str = "event",
    history: Optional[DataFrame] = None,
    initial_states: Optional[dict] = None,
    kick_ts: Optional[str] = None,
    state_partitions: Optional[int] = None,
    memory: Optional[MemoryHub] = None,
) -> CorrelationGroup:
    """Start one correlation query PER KEY COLUMN in the rule set.

    Rules are partitioned by their correlation key column; each partition
    gets its own streaming query (Spark's one-stateful-op-per-query
    limit), its own checkpoint subdir under ``checkpoint_root``, and its
    own dispatcher (``dispatcher_factory(key_col)`` if given, else a fresh
    :class:`ActionDispatcher` — separate dispatchers keep per-query batch
    ids from colliding in the cross-run markers). Returns a
    :class:`CorrelationGroup` with combined emission bookkeeping.

    ``history`` (a BATCH DataFrame of past events) warm-starts every
    query: each key group batch-replays it via ``engine.snapshot_state``
    and seeds its state store, so live queries continue mid-sequence
    instead of starting cold — the reference's boot-time restore
    (Scheduler.php:695-947) across the whole rule set. Restored keys are
    ALSO kicked automatically: one in-band ``CONTROL_MSG_RESTORED`` row
    per snapshot key (the reference's restore control message,
    Scheduler.php:730-737) is written to a per-query kick spool and
    unioned into the source, arming every restored key's pending timer on
    the first trigger (applyInPandasWithState cannot arm timers for
    untouched keys). WHEN the armed timer fires follows the clock
    contract: under ``clock="processing"`` deadlines fire on wall time —
    a fully quiet stream still times out (the reference's absence
    detection); under the default ``clock="event"`` timers fire when the
    WATERMARK passes the deadline, and the kicks only advance it to max
    history time — deadlines beyond that still wait for live traffic,
    exactly like any event-time timeout. Exception: rules keyed ON
    ``event_type`` cannot be kicked without forging a real event type —
    those groups get a ``UserWarning`` and first-touch restore semantics.

    ``initial_states`` (mutually exclusive with ``history``) warm-starts
    from ALREADY-BUILT snapshots instead: a dict of key column →
    snapshot DataFrame, exactly what
    :func:`php_ec_spark.savefile.import_savefile` returns — the
    two-liner migration boot from a reference save file::

        imp = import_savefile(spark, "/var/php-ce.state", rules, rule_map)
        start_correlations(events, rules, ckpt, clock="processing",
                           initial_states=imp.initial_states,
                           kick_ts=imp.max_event_iso)

    ``kick_ts`` (ISO-8601 UTC) dates the injected kick rows when there is
    no ``history`` to derive it from. Pass the importer's
    ``max_event_iso``: kicks are REAL events to the engine, so a
    match-any rule would consume an epoch-dated kick and open an instance
    whose deadline is decades past — dating kicks at the last saved event
    time keeps that instance's deadline where an uninterrupted engine
    would have put it. ``initial_states`` keys that match no rule key
    column are reported with a ``UserWarning`` (a typoed column would
    otherwise silently cold-start the migration).
    """
    import hashlib as _hashlib
    import json as _json
    import warnings

    from pyspark.sql import functions as F

    from ..engine.streaming import SNAPSHOT_SCHEMA, snapshot_state
    from ..model import CONTROL_MSG_RESTORED

    if history is not None and initial_states is not None:
        raise ValueError("pass history OR initial_states, not both")

    spark = events.sparkSession
    hist_max_iso: Optional[str] = kick_ts
    if history is not None:
        # format under the UTC session tz in Spark — a driver-side
        # strftime would shift by the driver's local tz
        hist_max_iso = history.agg(
            F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        ).first()[0]

    by_key_cols = {r.key for r in rules}
    if initial_states is not None:
        stray = sorted(
            str(k) for k in initial_states if k not in by_key_cols
        )
        if stray:
            import warnings

            warnings.warn(
                f"initial_states keys {stray} match no rule key column "
                f"({sorted(map(str, by_key_cols))}) — those snapshots are "
                "ignored and their keys cold-start",
                UserWarning,
                stacklevel=2,
            )
    if initial_states is not None and kick_ts is None:
        # kicks are REAL events: dated at the epoch fallback, a match-any
        # rule consumes them and opens instances whose deadlines are
        # decades past — firing spurious timeouts on the first trigger
        warnings.warn(
            "initial_states without kick_ts: restore kicks default to "
            "1970-01-01, which a match-any rule will consume into an "
            "instantly-expired instance. Pass the importer's "
            "max_event_iso (or the last processed event time) as kick_ts",
            UserWarning,
            stacklevel=2,
        )

    def _kick_rows(keys: list, key_col: Optional[str]) -> Optional[list[dict]]:
        rows = []
        ordered = sorted(keys, key=lambda x: (x is None, str(x)))
        for j, k in enumerate(ordered):
            row = {
                "event_id": -10_000_000 - (j + 1),  # negative control id space
                "ts": hist_max_iso or "1970-01-01T00:00:00.000000Z",
                "user_id": None,
                "event_type": CONTROL_MSG_RESTORED,
                "value": None,
                "props": None,
            }
            if key_col is None or k == "__all__":
                pass  # keyless group: any row touches the constant key
            elif key_col == "event_type":
                return None  # unkickable: the key IS the control channel
            elif k is None:
                pass  # null-key group: the NULL key column already matches
            elif key_col == "user_id":
                row["user_id"] = int(k)
            elif key_col == "value":
                row["value"] = float(k)
            elif key_col == "props":
                row["props"] = k
            else:
                return None  # key outside the envelope — cannot synthesize
            rows.append(row)
        return rows

    if memory is not None:
        # one shared hub across the per-key queries: anchor the snapshot
        # at the root, not under the first query's subdir
        memory.bind(checkpoint_root)
    by_key: dict[Optional[str], list[Rule]] = {}
    for r in rules:
        by_key.setdefault(r.key, []).append(r)
    group = CorrelationGroup()
    for key_col, group_rules in by_key.items():
        tag = key_col if key_col is not None else "__keyless__"
        dispatcher = (
            dispatcher_factory(key_col) if dispatcher_factory else ActionDispatcher()
        )
        group.dispatchers[key_col] = dispatcher

        src = events
        init = None
        snap_rows = None
        if history is not None:
            snap_rows = snapshot_state(history, group_rules).collect()
            if snap_rows:
                init = spark.createDataFrame(snap_rows, SNAPSHOT_SCHEMA)
        elif initial_states is not None and initial_states.get(key_col) is not None:
            init = initial_states[key_col]
            # keys only — the blobs stay out of this collect (they cross
            # to the driver once, in correlate_stream's restore broadcast)
            snap_rows = init.select("__key").collect()
        if snap_rows:
            kicks = _kick_rows([r["__key"] for r in snap_rows], key_col)
            if kicks is None:
                warnings.warn(
                    f"cannot synthesize restore kicks for key column "
                    f"{key_col!r}; restored keys resume on first touch "
                    "and quiet-stream deadlines stay unarmed",
                    UserWarning,
                    stacklevel=2,
                )
            else:
                kick_dir = os.path.join(checkpoint_root, f"kicks_{tag}")
                os.makedirs(kick_dir, exist_ok=True)
                # Content-addressed, write-once: boot code calls this on
                # EVERY restart — a fresh uuid name per call would
                # re-inject the whole kick set each restart (kicks are
                # real events; a match-any rule would open spurious
                # instances) and grow the spool forever. Same restore
                # set → same path → the query checkpoint's seen-files
                # log skips it; a genuinely different snapshot gets a
                # new file and injects once.
                payload = "".join(
                    _json.dumps(row) + "\n" for row in kicks
                )
                digest = _hashlib.sha256(payload.encode()).hexdigest()[:16]
                p = os.path.join(kick_dir, f"kick_{digest}.json")
                if not os.path.exists(p):
                    with open(p + ".tmp", "w") as f:
                        f.write(payload)
                    os.replace(p + ".tmp", p)
                src = events.unionByName(ndjson_dir_source(spark, kick_dir))

        group.queries[key_col] = start_correlation(
            src,
            group_rules,
            os.path.join(checkpoint_root, f"key_{tag}"),
            dispatcher=dispatcher,
            watermark_delay=watermark_delay,
            query_name=f"{query_name}-{tag}",
            trigger_once=trigger_once,
            clock=clock,
            initial_state=init,
            state_partitions=state_partitions,
            memory=memory,
        )
    return group
