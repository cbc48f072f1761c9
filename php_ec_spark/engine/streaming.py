"""Live-mode correlation engine — Structured Streaming.

The batch engine replays history deterministically; this module runs the
SAME `EngineCore` semantics continuously via ``applyInPandasWithState``:

- per-key instance state persists in Spark's state store across
  micro-batches (replacing the reference's entire SaveHandler/restore
  subsystem, SaveHandler/FileAdapter.php:73-233, CorrelationEngine.php:
  644-766 — checkpointLocation gives crash recovery for free, W11/S9);
- event-time timers replace the reference's single earliest-deadline loop
  timer (CorrelationEngine.php:530-563, W3): each key arms its earliest
  pending deadline; when the watermark passes it, Spark calls the handler
  with ``hasTimedOut`` and due instances fire (W4 semantics at watermark
  granularity);
- the watermark is the BatchClock analog (Clocks/BatchClock.php:8-27):
  max-seen event time minus the allowed disorder.

Scale: state is partitioned by correlation key exactly like the batch
path; a micro-batch shuffles only its own rows; state store IO is
incremental (RocksDB provider recommended on a real cluster).

Live-path cost model (``perfbench/run.py --workload live_ingest --trace
1`` reports the per-batch breakdown: ``streaming.add_batch_ms_p50``,
``wal_commit_ms_p50``, ``query_planning_ms_p50``,
``engine.streaming.state_commit_ms_p50`` and ``state_update_ms_p50``):

- the round-5 "~0.5 s per state partition per batch" tax was NOT
  Spark-internal: it was ``ActionDispatcher`` consuming the emission
  batch with ``toLocalIterator`` on the raw stateful plan, which executes
  state partitions one job at a time (serially). Fixed by an eager
  ``localCheckpoint`` in the dispatcher (streaming/sinks.py) — the
  stateful op itself parallelizes normally;
- the per-batch fixed cost was mostly PySpark worker start-up. At every
  task start a worker calls ``importlib.invalidate_caches()``, and before
  Python 3.13 each of its ~16 zip importers (``pyspark.zip``, the py4j
  zip, the spark-core jar) re-read its archive's whole directory:
  170–280 ms per task start, measured inside a reused worker. A state
  task starts two Python runners per batch — the update runner and the
  timed-out-key runner, which Spark starts even when no key has timed
  out — so it paid that twice. Importing this package now makes a
  reused worker re-read an archive only when its stat changed
  (``php_ec_spark/__init__.py``; ~4 ms per task start). Measured on a 4-vCPU box (``local[4]``,
  4 state partitions, ~2,000-row micro-batches over 100 keys, seed 1,
  two traced runs per side), before → after, per-batch p50: state update
  summed over the 4 state tasks 4,262–4,718 → 1,566–1,687 ms, of it the
  timed-out-key runners (``allRemovalsTimeMs``) 1,414 → 177 ms;
  ``addBatch`` 1,986–2,282 → 1,207–1,385 ms; state commit summed
  339–400 → 436–501 ms (it rose);
- what remains per batch: the two Python runners per state task; about
  100 ms of state commit per task, part of it Hadoop local-FS process
  spawns (libhadoop is not loaded, so the local file system forks
  ``readlink``/``chmod``: a JFR profile counted 1,154 of them in a 50 s
  run, 1,162 process starts in all, about 4.5 ms each); and on the
  driver about 60 ms of action dispatch and 90–150 ms of memory absorb.
  Dispatch fetches the pinned emission batch with one ``collect()``
  (streaming/sinks.py ``COLLECT_BUDGET_BYTES``); iterating it with
  ``toLocalIterator`` ran one serial job per state partition and cost
  about 280 ms (4-vCPU box, traced seed 1, 4 state partitions,
  dispatch p50);
- the per-KEY Python handler overhead is ~0.6 ms (~1.9 ms before the
  round-6 rewrite: numpy lexsort replaces pandas sort_values, shared
  empty-emission frame replaces per-call DataFrame construction,
  one-shot ``tolist`` replaces per-element numpy boxing). It dominates
  large catch-up batches: ~85k events/s end-to-end at 8 partitions for a
  400k batch, floor-pinned in tests/test_engine_perf.py.

``spark.sql.shuffle.partitions`` still sizes the stateful op: size it
to live key volume (each partition is one state task with the fixed
cost above; keys/partition × 0.6 ms is the handler's share), not the
batch-path default — and note Spark PINS the state partition count at
the query's FIRST start; changing it later needs a fresh checkpoint
(warm-start via snapshot/import to keep state).
"""

from __future__ import annotations

from typing import Any, Iterator, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..rules.base import Rule
from .batch import (
    EMISSION_SCHEMA,
    SNAPSHOT_SCHEMA,  # noqa: F401  (re-exported: warm-start callers' schema)
    _DT64NS,
    _event_tuples,
    _project,
    _replay,
    check_unique_rule_names,
    emission_frame,
)
from .core import EngineCore

#: State persisted per correlation key: the serialized EngineCore.
STATE_SCHEMA = T.StructType([T.StructField("blob", T.StringType())])


def _make_stateful_handler(
    rules: Sequence[Rule],
    clock: str,
    keyless: bool = False,
    restore_bc=None,
    memory_path: Optional[str] = None,
):
    # Built once per task: most keys in a micro-batch emit nothing, so the
    # no-emission return is a shared pre-built frame (the Arrow serializer
    # only reads it). Fixed per-KEY pandas overhead is the live path's real
    # cost at scale — a micro-batch calls this handler once per key, and
    # profiling showed ~1.9 ms/key of it was sort_values/DataFrame.__init__/
    # to_datetime, dwarfing the actual event loop. Everything per-key below
    # is numpy-or-plain-Python on purpose.
    empty_out = emission_frame([])

    def handle(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # the projection groups on the Spark-cast string key (keyless rules
        # on the literal "__all__"), so key[0] IS the snapshot __key —
        # including None for null-key groups; no Python str() re-encoding
        if memory_path is not None:
            # point rule callbacks at the hub's latest snapshot (memory.
            # live_memory); one os.stat per call, re-parse only on change
            from ..memory import set_live_memory_path

            set_live_memory_path(memory_path)
        restore_key = key[0]
        in_restore = restore_bc is not None and restore_key in restore_bc.value
        if state.exists:
            blob = state.get[0]
        else:
            # warm start (restore-then-go-live, Scheduler.php:695-947): first
            # touch of a key whose state was snapshotted resumes its in-flight
            # instances. Only consulted while the key has NO store state —
            # once touched, restorable keys always persist at least an
            # empty-marker blob (below) so drained instances cannot
            # resurrect on a later batch.
            blob = restore_bc.value.get(restore_key) if in_restore else None
        # keyless rules group on a synthetic constant — their emissions must
        # carry key=NULL exactly like the batch engine, not the constant
        core = EngineCore.from_state(rules, None if keyless else key[0], blob)

        if state.hasTimedOut:
            # the clock passed this key's earliest deadline → alarm path
            # (CorrelationEngine.php:600-638)
            if clock == "processing":
                # TickClock (live mode): compare deadlines to wall time
                now_ns = state.getCurrentProcessingTimeMs() * 1_000_000
                core.fire_due(now_ns)
            else:
                wm_ns = state.getCurrentWatermarkMs() * 1_000_000
                core.fire_due(wm_ns if wm_ns > 0 else None)
        else:
            frames = [pdf for pdf in pdfs if len(pdf)]
            if frames:
                batch = frames[0] if len(frames) == 1 else pd.concat(frames)
                ts_col = batch["ts"].to_numpy()
                if ts_col.dtype != _DT64NS:
                    ts_col = ts_col.astype(_DT64NS)
                ts_ns = ts_col.view("i8")
                eids = batch["event_id"].to_numpy()
                etypes = batch["event_type"].to_numpy()
                values = batch["value"].to_numpy()
                # (ts, event_id) order via lexsort on the i8 views — never
                # a pandas sort_values (it lexsorts the payload columns
                # too). Arrow delivers each key's rows in shuffle order,
                # which is usually already sorted: skip the take then.
                order = np.lexsort((eids, ts_ns))
                if not np.array_equal(order, np.arange(len(order))):
                    ts_ns = ts_ns[order]
                    eids = eids[order]
                    etypes = etypes[order]
                    values = values[order]
                for ev in _event_tuples(eids, ts_ns, etypes, values):
                    core.handle(ev)

        # re-arm the single earliest-deadline timer for this key
        nxt = core.next_deadline()
        if core.has_live():
            state.update((core.to_state(),))
            if nxt is not None:
                if clock == "processing":
                    now_ms = state.getCurrentProcessingTimeMs()
                    state.setTimeoutDuration(max(nxt // 1_000_000 - now_ms, 1))
                else:
                    wm_ms = state.getCurrentWatermarkMs()
                    # event-time timers must be > watermark; clamp forward
                    state.setTimeoutTimestamp(max(nxt // 1_000_000, wm_ms + 1))
        elif in_restore:
            # tombstone: restorable key with nothing live — keep an
            # empty-state marker (O(|snapshot|) store entries) so the
            # broadcast snapshot is never re-applied after a drain
            state.update(("",))
        elif state.exists:
            state.remove()

        rows = core.take_rows()
        yield emission_frame(rows) if rows else empty_out

    return handle


def correlate_stream(
    events: DataFrame,
    rules: Sequence[Rule],
    watermark_delay: str = "0 seconds",
    clock: str = "event",
    initial_state: Optional[DataFrame] = None,
    memory_path: Optional[str] = None,
) -> DataFrame:
    """Run rules over a STREAMING events DataFrame; returns the emission
    stream (append mode).

    ``memory_path`` (set by ``start_correlation(memory=...)``) points rule
    callbacks at a :class:`php_ec_spark.memory.MemoryHub` snapshot via
    ``live_memory()`` — the reference's central memory loop
    (Scheduler.php:820): batch N's writes are readable from batch N+1.

    ``clock`` picks the reference's dual clock (CorrelationEngine.php:
    569-585, W1/W2): ``"event"`` = BatchClock semantics, timers fire on
    watermark advance (deterministic, replay-safe); ``"processing"`` =
    TickClock semantics, timers fire on wall time — php-ec live mode, for
    deployments where absence must be detected even when the stream goes
    completely quiet. LIVE-INGEST ONLY: deadlines are still event-ts +
    timeout, but compared against wall clock — replaying or backfilling
    historical data under ``"processing"`` makes every pending instance
    look already-expired and it times out immediately (the same trap
    php-ec live mode has when fed old data). Replay/backfill must use
    ``clock="event"``.

    Rules are grouped by correlation key exactly like the batch engine;
    suppression across differently-keyed rules is rejected. The caller
    starts the query (see :func:`php_ec_spark.streaming.start_correlation`)
    with a checkpointLocation — that checkpoint IS the reference's
    save-state file, done properly.

    ``initial_state`` warm-starts the state store from a batch snapshot
    (:func:`snapshot_state` output: ``__key string, blob string``): the
    reference's restore-savefile-then-go-live boot sequence
    (Scheduler.php:695-947). The snapshot is collected and broadcast —
    driver-sized, exactly like the reference's single gzip-JSON save file
    (FileAdapter.php:73-233); a restored key's instances resume on its
    first incoming event. CAVEAT (applyInPandasWithState has no initial
    timer registration): a restored key that never receives another event
    never fires its pending timeouts — touch every restored key by
    injecting one in-band ``CONTROL_MSG_RESTORED`` kick row per key into
    the source (the reference does the same at boot, Scheduler.php:730-737;
    '*'-rules see it, other rules ignore it).

    The full stream, not just the rules' event types, feeds the
    watermark and the state op: php-ec's clock advances on EVERY event
    (CorrelationEngine.php:199), and each event also replays due timeouts
    at t−1 ms, exactly the batch clock (see ``batch._project``).
    """
    if not rules:
        raise ValueError("correlate_stream needs at least one rule")
    if clock not in ("event", "processing"):
        # a typo would otherwise silently pick event semantics — fail loud
        raise ValueError(
            f"clock must be 'event' or 'processing', got {clock!r}"
        )
    check_unique_rule_names(rules)
    unbounded = [
        r.name for r in rules
        if r.continuous and r.chain_limit is None and r.timeout_s is None
    ]
    if unbounded:
        import warnings

        # a continuous matcher keeps its whole consumed chain in per-key
        # state; with no timeout (which would rotate instances) and no
        # trim, a long-lived streaming key accumulates state forever —
        # the same leak a never-trimming php-ec rule has
        # (AEventProcessor::trimEventChain exists exactly for this,
        # AEventProcessor.php:321-332), but in the state store where it
        # also bloats every checkpoint. Batch runs are immune (state dies
        # at end-of-stream).
        warnings.warn(
            f"continuous rule(s) {unbounded} have no chain_limit and no "
            "timeout: per-key state grows unboundedly for long-lived "
            "streaming keys. Set chain_limit (trimEventChain) to bound "
            "the rolling buffer; for pure live counting use the metrics "
            "path (observe_stream/EngineMetrics) or batch keyed-counter "
            "snapshots instead of chain state",
            UserWarning,
            stacklevel=2,
        )
    part, key_col = _project(
        events.withWatermark("ts", watermark_delay), rules, prefilter=False
    )

    restore_bc = None
    if initial_state is not None:
        snap = {
            r["__key"]: r["blob"]
            for r in initial_state.select("__key", "blob").collect()
            if r["blob"]
        }
        restore_bc = events.sparkSession.sparkContext.broadcast(snap)

    return part.groupBy("__key").applyInPandasWithState(
        _make_stateful_handler(
            list(rules),
            clock,
            keyless=key_col is None,
            restore_bc=restore_bc,
            memory_path=memory_path,
        ),
        outputStructType=EMISSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if clock == "processing"
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def snapshot_state(events: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Batch-replay history and return per-key serialized engine state
    (``__key string, blob string``) WITHOUT the end-of-stream drain.

    This is the save file of the reference's SaveHandler (FileAdapter.php:
    73-233) computed from history: every in-flight instance (chain, group
    index, pending deadline) survives, so feeding the result to
    :func:`correlate_stream` as ``initial_state`` continues matching
    exactly where the replay stopped — sequences half-matched in history
    complete on live events; deadlines armed in history still fire.

    Same projection and key-replay loop as the batch state machine
    (``batch._project``/``batch._replay``), but over the unfiltered
    stream: a snapshot of type-filtered history would keep alive an
    instance the uninterrupted engine fires-and-discards, and the
    warm-started query would re-emit a timeout history already reported.
    """
    check_unique_rule_names(rules)
    src, key_col = _project(events, rules, prefilter=False)
    return _replay(src, rules, False, key_col is None, snapshot=True)
