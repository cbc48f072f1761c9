"""Batch correlation engine.

Faithful re-expression of the reference's event loop
(CorrelationEngine.php:171-328) as a Spark job:

- Events are partitioned by the rule's correlation key (``groupBy(key)``)
  and processed in event-time order inside each partition — this preserves
  the reference's per-key serial semantics while giving data parallelism
  the single-threaded reference never had.
- Batch-clock timeout replay: before an event at time *t* is applied, every
  pending timeout with deadline ≤ *t* − 1 ms fires
  (CorrelationEngine.php:191-202) — deterministic, oracle-checkable.
- Rule priority and EVENT_SUPPRESS short-circuiting follow rule-list order
  (CorrelationEngine.php:231-236); per-class dedup: an event consumed by an
  existing instance of rule R does not start a new R instance
  (CorrelationEngine.php:252-254).

Seven physical strategies, one per rule shape; ``relational.strategies()``
(exported as ``engine.strategies``) is the one table that maps each rule
to its strategy:

- ``keyless-counter`` / ``keyed-counter`` (``relational.compile_counter``) —
  continuous counters as one aggregate with map-side partial combine.
- ``single-match`` / ``priority-suppress`` — stateless filter + project; a
  suppressing set of single matches becomes per-event priority routing.
- ``gap-sessions`` — lag-gap sessionization in window functions.
- ``sequence-window`` (``relational.compile_sequence``) — N-step sequences
  with distinct types as one window plan over one shuffle on the key.
- ``state-machine`` (:func:`correlate_state_machine`) — everything else:
  ``mapInPandas`` running the per-key state machine. Python, but
  Arrow-batched and embarrassingly parallel across keys (key cardinality
  grows with data scale — see TESTDATA: 150 users @ sf0.01 → 1 500 @
  sf0.1). A pathological single hot key degrades to one task, same as the
  reference's single thread.

The relational strategies run no Python in the hot path. The state
machine's projection and key-replay loop (:func:`_project`,
:func:`_replay`) are shared with the warm-start snapshot builder and, for
the projection, the live query (engine/streaming.py).
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rules.base import EVENT_MATCH_ANY, Rule
from .core import EngineCore

#: Output schema shared by every strategy (and the streaming engine).
EMISSION_SCHEMA = T.StructType(
    [
        T.StructField("rule", T.StringType()),
        T.StructField("key", T.StringType()),
        # completed|timeout|progress|final|error|scheduled ('error' =
        # quarantined rule callback/accept failure — see core.py;
        # 'scheduled' = a cron fire, functions._scheduled_emissions)
        T.StructField("outcome", T.StringType()),
        T.StructField("fire_ts", T.TimestampType()),
        T.StructField("start_event_id", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("payload", T.StringType()),
    ]
)


_OUT_COLS = EMISSION_SCHEMA.fieldNames()
_DT64NS = np.dtype("datetime64[ns]")


def emission_frame(rows: list) -> pd.DataFrame:
    """EngineCore emission rows as an EMISSION_SCHEMA frame — the one row
    builder of the batch runner and the live handler. ``fire_ts`` is
    int64 ns viewed as datetime64[ns], so the NaT sentinel a NULL-ts
    event carries (core.NAT_NS) reads as NULL in both. The other columns
    stay object arrays: Arrow converts them to the schema's types, and
    skipping pandas' per-column inference measured ~1.5-2x faster."""
    cols = list(zip(*rows)) if rows else [()] * len(_OUT_COLS)
    data = {c: np.array(v, dtype=object) for c, v in zip(_OUT_COLS, cols)}
    data["fire_ts"] = np.asarray(cols[3], dtype="int64").view(_DT64NS)
    return pd.DataFrame(data, copy=False)


def check_unique_rule_names(rules: Sequence[Rule]) -> None:
    """Emissions (and EngineCore's live-instance lists) are keyed by rule
    name — duplicates would silently merge state across rules. The
    reference throws on duplicate rule registration too
    (EngineTest::testEngineThrowsOnDuplicateRuleClassString); every
    public entry point calls this."""
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate rule names: {dupes}")


#: Schema of a warm-start snapshot row (what ``snapshot_state`` emits and
#: what ``correlate_stream(initial_state=...)`` expects).
SNAPSHOT_SCHEMA = "__key STRING, blob STRING"


def _project(
    events: DataFrame,
    rules: Sequence[Rule],
    prefilter: bool,
    skew_warn_ratio: Optional[float] = None,
) -> Tuple[DataFrame, Optional[str]]:
    """(events projected to ``__key, event_id, ts, event_type, value``,
    the rules' key column or None) — the one projection of the batch
    state machine, the snapshot builder and the live query, so their keys
    always compare equal.

    ``__key`` is the SPARK-cast string key so restore-blob lookup,
    emission keys, and payload callbacks agree across engines for every
    key type — str(True) is "True" but CAST(true AS STRING) is "true", and
    bool/decimal/timestamp keys would otherwise skip their restore
    silently. Keyless rules group on the literal "__all__". Aliasing also
    means a key that IS an engine column (e.g. event_type) never selects
    twice.

    ``prefilter`` prunes the scan to the event types some rule can
    consume. Only batch replay may: the engine's clock advances on EVERY
    event (CorrelationEngine.php:199), so the live query and the snapshot
    builder see the full stream. Catalyst would push a type filter below
    the EventTimeWatermark node, so unconsumed events would never advance
    the watermark and pending timeouts would stall; a snapshot of filtered
    history would keep alive an instance the uninterrupted engine
    fires-and-discards on a later unconsumed event.

    ``skew_warn_ratio`` runs :func:`php_ec_spark.metrics.warn_if_skewed`
    on the type-filtered stream, before the key cast."""
    key_cols = {r.key for r in rules}
    if len(key_cols) > 1:
        # Spark allows only ONE applyInPandasWithState per streaming query
        # (UnsupportedOperationChecker: "Multiple applyInPandasWithStates
        # are not supported") — a union of stateful ops would fail at
        # query.start(). Run one streaming query per key column instead.
        raise ValueError(
            "streaming rules must share one correlation key column per "
            f"query (got {sorted(map(str, key_cols))}); start a separate "
            "correlate_stream/start_correlation per key column"
        )
    (key_col,) = key_cols
    needed_types: set[str] = set()
    unrestricted = False
    for r in rules:
        for g in r.events:
            if EVENT_MATCH_ANY in g:
                unrestricted = True
            needed_types.update(g)
    if prefilter and not unrestricted:
        events = events.filter(F.col("event_type").isin(sorted(needed_types)))
    if skew_warn_ratio is not None and key_col is not None:
        # measure the stream this path actually shuffles — the
        # type-FILTERED rows; the raw table's hot key may be cold here
        # (and vice versa)
        from ..metrics import warn_if_skewed

        warn_if_skewed(events, key_col, warn_ratio=skew_warn_ratio)
    key_expr = (
        F.col(key_col).cast("string") if key_col is not None
        else F.lit("__all__")
    )
    return (
        events.select(
            key_expr.alias("__key"), "event_id", "ts", "event_type", "value"
        ),
        key_col,
    )


def _event_tuples(eids, ts_ns, etypes, values) -> list:
    """EngineCore's ``(event_id, ts_ns, type, value)`` tuples from one
    batch's numpy columns (``ts_ns`` as int64 ns) — the one event feed of
    the batch runner and the live handler. One C-loop ``tolist`` per
    column, so the event loop never pays numpy per-element boxing. A NULL
    ``event_id`` (Arrow hands a nullable bigint column with NULLs over as
    float64 NaN) and a NaN ``value`` become ``None``."""
    eid_l = eids.tolist()
    if eids.dtype.kind == "f":
        eid_l = [None if e != e else int(e) for e in eid_l]
    val_l = [None if v != v else v for v in values.tolist()]
    return list(zip(eid_l, ts_ns.tolist(), etypes.tolist(), val_l))


def _make_partition_runner(
    rules: Sequence[Rule],
    historical: bool,
    keyless: bool = False,
    snapshot: bool = False,
):
    """mapInPandas runner over a key-partitioned, (__key, ts, event_id)-sorted
    partition: consecutive rows of one key feed one EngineCore; a key
    change closes the previous core. ONE Python/Arrow boundary per
    partition instead of one per correlation key — per-group pandas
    overhead was the dominant cost of the stateful path (measured ~3×).

    Batch replay drains each key at its last event and yields its
    emissions (key NULL for ``keyless`` rules, which group on "__all__").
    ``snapshot`` skips the drain and yields one ``(__key, blob)`` row per
    key with live instances instead. Either flushes once per input batch."""
    if snapshot:
        def close(core: EngineCore, key, last_ts: int) -> list:
            return [(key, core.to_state())] if core.has_live() else []

        def to_pdf(rows: list) -> pd.DataFrame:
            return pd.DataFrame(rows, columns=["__key", "blob"])
    else:
        def close(core: EngineCore, key, last_ts: int) -> list:
            core.finish(last_ts)
            return core.take_rows()

        to_pdf = emission_frame

    def run(batches):
        core: Optional[EngineCore] = None
        cur_key = None
        last_ts = 0
        pending: list = []

        for pdf in batches:
            evs = _event_tuples(
                pdf["event_id"].to_numpy(),
                pdf["ts"].astype("int64").to_numpy(),
                pdf["event_type"].to_numpy(),
                pdf["value"].to_numpy(),
            )
            for k, ev in zip(pdf["__key"].tolist(), evs):
                if core is None or k != cur_key:
                    if core is not None:
                        pending.extend(close(core, cur_key, last_ts))
                    core = EngineCore(
                        rules, None if keyless else k, historical=historical
                    )
                    cur_key = k
                last_ts = ev[1]
                core.handle(ev)
            if pending:
                yield to_pdf(pending)
                pending = []
        if core is not None:
            pending.extend(close(core, cur_key, last_ts))
        if pending or core is None:
            yield to_pdf(pending)

    return run


def _replay(
    src: DataFrame,
    rules: Sequence[Rule],
    historical: bool,
    keyless: bool,
    snapshot: bool = False,
) -> DataFrame:
    """Per-key replay of a :func:`_project`-ed frame. Physical shape:
    ``repartition(__key) → sortWithinPartitions(__key, ts, event_id) →
    mapInPandas`` — one shuffle (same as groupBy) but the Python boundary
    is per PARTITION, not per key, so millions of small correlation keys
    cost ~zero marginal overhead. Keys never span partitions (hash
    partitioning), and consecutive-key iteration inside the runner
    reproduces per-key serial, time-ordered processing exactly."""
    from ..session import shuffle_partitions

    part = src.repartition(
        shuffle_partitions(src.sparkSession), "__key"
    ).sortWithinPartitions("__key", "ts", "event_id")
    runner = _make_partition_runner(list(rules), historical, keyless, snapshot)
    return part.mapInPandas(
        runner, schema=SNAPSHOT_SCHEMA if snapshot else EMISSION_SCHEMA
    )


def correlate_state_machine(
    events: DataFrame,
    rules: Sequence[Rule],
    historical: bool = False,
    skew_warn_ratio: Optional[float] = None,
) -> DataFrame:
    """General path: partition by correlation key, run the state machine
    over each key's time-ordered rows (:func:`_replay`).

    ``skew_warn_ratio`` (opt-in; costs one extra aggregation job) runs
    :func:`php_ec_spark.metrics.warn_if_skewed` per key column before
    compiling — a key holding that fraction of rows degrades this path
    toward one task (keys never split), and the warning names the
    mitigations (finer key; ``layout.with_salt``/``salted_agg`` for
    keyless commutative aggregates).

    Rules sharing a key column run in ONE pass so suppression / rule-order
    semantics hold across them. Rules with different keys run in separate
    passes (suppression across differently-keyed rules is rejected — it
    would require a global serial order that does not scale).
    """
    if not rules:
        return events.sparkSession.createDataFrame([], EMISSION_SCHEMA)
    check_unique_rule_names(rules)
    by_key: dict[Optional[str], list[Rule]] = {}
    for r in rules:
        by_key.setdefault(r.key, []).append(r)
    if len(by_key) > 1 and any(r.suppress for r in rules):
        raise ValueError("suppressing rules must share one correlation key column")
    outs = []
    for key_col, group_rules in by_key.items():
        src, _ = _project(events, group_rules, True, skew_warn_ratio)
        outs.append(_replay(src, group_rules, historical, key_col is None))
    return reduce(DataFrame.unionByName, outs)


def _branches(
    events: DataFrame, rules: Sequence[Rule], historical: bool
) -> list[Tuple[str, list[Rule], DataFrame]]:
    """``(strategy, rules, emissions)`` per branch of :func:`correlate`'s
    union, in union order: one per relational rule in rule order, then
    one state-machine pass of the rest. A set routed as
    ``priority-suppress`` is one branch. ``chain_correlate`` feeds a
    round's producers from these very frames, so a branch read by two
    rounds is built once."""
    from .relational import (
        compile_counter,
        compile_gap_sessions,
        compile_priority_suppress,
        compile_sequence,
        compile_single_match,
        strategies,
    )

    if not rules:
        return []
    strat = strategies(rules, historical)
    if "priority-suppress" in strat.values():
        return [("priority-suppress", list(rules),
                 compile_priority_suppress(events, rules))]
    compilers = {
        "keyless-counter": compile_counter,
        "keyed-counter": compile_counter,
        "single-match": compile_single_match,
        "gap-sessions": compile_gap_sessions,
        "sequence-window": compile_sequence,
    }
    out = [
        (strat[r.name], [r], compilers[strat[r.name]](events, r))
        for r in rules if strat[r.name] != "state-machine"
    ]
    general = [r for r in rules if strat[r.name] == "state-machine"]
    if general:
        out.append(("state-machine", general, correlate_state_machine(
            events, general, historical=historical)))
    return out


def correlate(events: DataFrame, rules: Sequence[Rule], historical: bool = False) -> DataFrame:
    """Run rules over a batch event stream, each rule on the physical plan
    ``relational.strategies()`` picks for it. Relational branches union in
    rule order; state-machine rules share one pass, unioned last.
    Emissions share EMISSION_SCHEMA across strategies."""
    branches = _branches(events, rules, historical)
    if not branches:
        return events.sparkSession.createDataFrame([], EMISSION_SCHEMA)
    return reduce(DataFrame.unionByName, (df for _, _, df in branches))
