"""Relational fast path: compile rule shapes to window and aggregate plans.

:func:`strategies` maps each rule to its plan. Its widest shape is an
N-step sequence rule with timeout; the reference's canonical
CheckOrderPayment pattern (examples/online_shop/rules/CheckOrderPayment.php:
EVENTS [['shop:order:placed'],['shop:order:paid']], TIMEOUT 'PT20S', keyed by
orderid) is its 2-step case. Such a rule has fully relational semantics:

    for every A event e:  let f = first B event after e (same key)
        f exists and f.ts ≤ e.ts + timeout  → completed, fired at f.ts
        otherwise                            → timeout,   fired at e.ts + timeout

and each further step repeats the test against the step before it.
("first B after e" uses stream order (ts, event_id); the acceptEventTime
check (AEventProcessor.php:357-396) rejects any B after the deadline, and
since the FIRST B is the earliest one, later Bs can never complete an
instance the first B couldn't.)

This compiles to window functions over ONE shuffle on the key — no join,
no Python, whole-stage codegen throughout. At 100 TB this is the plan you
want: shuffle is proportional to the A/B event subset (type filter is pushed
to the parquet scan), and the per-key window is streamed, not materialized.

Requires step types to be distinct: for A→A sequences the reference's
per-class dedup (CorrelationEngine.php:252-254) pairs events disjointly,
which a window cannot express — those fall back to the state machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules.base import EVENT_MATCH_ANY, Rule


def strategies(rules, historical: bool = False) -> dict[str, str]:
    """Rule name → the physical strategy it compiles to: the one table
    :func:`~php_ec_spark.engine.batch.correlate` dispatches on (the
    ``.explain()`` of the rule compiler). Values are ``priority-suppress |
    keyless-counter | keyed-counter | single-match | gap-sessions |
    sequence-window | state-machine``."""
    from .batch import check_unique_rule_names

    # a name-keyed table would otherwise silently collapse duplicates
    # and hide one rule's strategy
    check_unique_rule_names(rules)
    if any(r.suppress for r in rules):
        # suppression makes rule-list order semantic across ALL rules
        # (CorrelationEngine.php:231-236). A set of stateless single
        # matches reduces to per-event priority routing: an event is
        # handled by each matching rule up to and including the FIRST
        # matching suppressor. Anything stateful needs one serial pass.
        single = all(_strategy(r, False) == "single-match" for r in rules)
        return dict.fromkeys(
            (r.name for r in rules),
            "priority-suppress" if single else "state-machine",
        )
    return {r.name: _strategy(r, historical) for r in rules}


def _strategy(rule: Rule, historical: bool) -> str:
    """One rule's shape → strategy, decided in order (``rule.suppress`` is
    decided by :func:`strategies`)."""
    # accept predicates and per-event callbacks are Python; no relational
    # plan expresses them
    if (
        rule.accept is not None
        or rule.emit_progress
        or rule.on_complete is not None
        or rule.on_timeout is not None
    ):
        return "state-machine"
    n = len(rule.events)
    if n == 1 and not rule.continuous:
        # MatchSingle (Rule/MatchSingle.php:22-33): completes on its first
        # event, so it is a stateless filter — keyless ('*'-style
        # LogEverything) rules too, which stay a parallel scan instead of
        # a single-partition state machine. It leaves nothing live for an
        # end-of-stream 'final' row, and never waits on a deadline.
        return "state-machine" if rule.emit_final else "single-match"
    # every shape below waits on a deadline: historical replay with
    # HISTORICAL_IGNORE_TIMEOUT keeps instances alive past it
    # (AEventProcessor.php:377-383), which no relational plan expresses
    if (historical and rule.historical_ignore_timeout
            and rule.timeout_s is not None):
        return "state-machine"
    # chain trimming (trimEventChain, AEventProcessor.php:321-332) changes
    # n_events/start/value_sum of emissions — state-machine only
    if rule.chain_limit is not None:
        return "state-machine"
    if n == 1:
        # continuous (Rule/MatchSingleContinuously.php:31-44)
        if rule.timeout_s is None:
            # the incrStat counter, reported once at end-of-stream: one
            # aggregate with map-side partial combine (a hot key shuffles
            # one partial row per input partition; pinned by
            # tests/test_plans.py::TestCounterSkewPlans)
            if rule.emit_final:
                return "keyless-counter" if rule.key is None else "keyed-counter"
        elif rule.key is not None and not rule.emit_final:
            # one timeout emission per session whose chain is the whole
            # session (J4/W6): lag-gap sessionization
            return "gap-sessions"
        return "state-machine"
    # an N-step sequence of single distinct types, keyed. Wildcard and
    # multi-type steps, continuous rules and 'final' rows need the state
    # machine; repeated types re-enter per-class dedup
    # (CorrelationEngine.php:252-254): an event consumed mid-chain must
    # not seed a new instance.
    types = [g[0] for g in rule.events]
    if (
        rule.continuous
        or rule.emit_final
        or rule.key is None
        or any(len(g) != 1 for g in rule.events)
        or EVENT_MATCH_ANY in types
        or len(set(types)) != n
    ):
        return "state-machine"
    return "sequence-window"


def _require(rule: Rule, strategy: str) -> None:
    """Misuse guard of the public compilers: every shape compiles to its
    own plan, and feeding another shape to one would silently emit wrong
    results (e.g. a gap rule's n=1 makes every event 'completed')."""
    if strategies([rule])[rule.name] != strategy:
        raise ValueError(
            f"rule {rule.name!r} does not compile to {strategy!r} — use "
            "correlate(), which dispatches every rule to its strategy"
        )


# --- SQL-string expression builders (round 17) -----------------------------
#
# Every pyspark Column operation is ONE blocking py4j round-trip; the
# sequence/emission compilers built CASE trees out of dozens of them, and a
# profiled correlate() construction spent >80% of its driver wall in ~1,600
# socket round-trips (guide §1.2: the driver must not be the bottleneck).
# Building each output column as a single SQL string and parsing it JVM-side
# with one F.expr/selectExpr call produces the SAME analyzed expressions —
# the Column API and the SQL parser meet in the identical unresolved tree —
# at ~1 round-trip per column instead of one per tree node. Oracle parity
# re-proves result identity for every compiled shape.


def _sql_lit(s: str) -> str:
    """SQL single-quoted string literal (default Spark escape rules)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_key(rule: Rule) -> str:
    if rule.key is None:
        return "CAST(NULL AS STRING) AS key"
    return f"CAST(`{rule.key}` AS STRING) AS key"


def _type_filter(events: DataFrame, group) -> DataFrame:
    if EVENT_MATCH_ANY in group:
        return events
    in_list = ", ".join(_sql_lit(t) for t in sorted(group))
    return events.filter(F.expr(f"event_type IN ({in_list})"))


def compile_single_match(events: DataFrame, rule: Rule) -> DataFrame:
    """MatchSingle compiles to filter+project — stays fully in codegen."""
    src = _type_filter(events, rule.events[0])
    return src.selectExpr(
        f"{_sql_lit(rule.name)} AS rule",
        _sql_key(rule),
        "'completed' AS outcome",
        "ts AS fire_ts",
        "event_id AS start_event_id",
        "event_id AS last_event_id",
        "CAST(1 AS BIGINT) AS n_events",
        "value AS value_sum",
        "CAST(NULL AS STRING) AS payload",
    )


def compile_counter(events: DataFrame, rule: Rule) -> DataFrame:
    """Continuous counter plan, keyed AND keyless — one implementation so
    the emission semantics can never diverge between the two. Keyless is
    a global aggregate, keyed a two-stage hash aggregate (partial merge
    map-side, one 'final' emission per key).

    Matches the state machine's final emission exactly: chain length /
    value sum / first & last consumed event in stream order (ts,
    event_id), fired at the last consumed event's timestamp. Keyless
    emits nothing on an empty input (no instance was ever started);
    keyed groups only ever contain matching rows, so no filter needed."""
    src = _type_filter(events, rule.events[0])
    aggs = [
        F.expr("count(1)").alias("n_events"),
        F.expr("sum(value)").alias("value_sum"),
        F.expr("min_by(event_id, struct(ts, event_id))").alias("start_event_id"),
        F.expr("max_by(event_id, struct(ts, event_id))").alias("last_event_id"),
        F.expr("max(ts)").alias("fire_ts"),
    ]
    if rule.key is None:
        agg = src.agg(*aggs).filter(F.expr("n_events > 0"))
    else:
        agg = src.groupBy(
            F.expr(f"CAST(`{rule.key}` AS STRING)").alias("key")
        ).agg(*aggs)
    return agg.selectExpr(
        f"{_sql_lit(rule.name)} AS rule",
        "CAST(NULL AS STRING) AS key" if rule.key is None else "key",
        "'final' AS outcome",
        "fire_ts",
        "start_event_id",
        "last_event_id",
        "CAST(n_events AS BIGINT) AS n_events",
        "CAST(value_sum AS DOUBLE) AS value_sum",
        "CAST(NULL AS STRING) AS payload",
    )


def compile_sequence(events: DataFrame, rule: Rule) -> DataFrame:
    """Window plan for an N-step sequence A→B→…→Z with per-step timeout.

    ONE shuffle on the key, ONE sort, NO joins, any N. Step i of an
    instance is the first step-i-type event strictly after step i-1 in
    (ts, event_id) stream order (acceptEventTime, AEventProcessor.php:
    357-396) — a function of step i-1's own row, not of the instance. So
    every row gets one pointer per step, computed back to front by window
    functions over the key's rows in reverse stream order: ``__c{i}`` is
    the first step-i row after this one, carrying that row's own
    ``__c{i+1}`` as ``c``. A starter then reads its whole chain as
    ``e1 = __c1``, ``e2 = __c1.c``, … — O(rows) per key after the sort the
    exchange already needs, whatever the key's size (a hot key costs its
    share of the sort, not the square of it). No Python anywhere.

    Per-step timeout: step i is accepted iff its ts ≤ step_{i-1}.ts +
    timeout; the first failing step times the instance out at
    step_{i-1}.ts + timeout (fired there even past end-of-stream, matching
    the batch drain).
    """
    _require(rule, "sequence-window")
    types = [g[0] for g in rule.events]
    n = len(types)
    key = rule.key
    timeout_s = rule.timeout_s

    # Every column below is built as ONE SQL string parsed JVM-side
    # (round 17): the Column-API formulation of these CASE trees cost one
    # blocking py4j round-trip per tree NODE -- ~1,600 socket round trips
    # per correlate() construction, >80% of the driver build wall in
    # profiles (guide §1.2: the driver must not be the bottleneck). The SQL
    # parser and the Column API meet in the same unresolved expression
    # tree, so the analyzed plan -- and the results -- are identical;
    # oracle parity re-proves it per compiled shape.
    in_list = ", ".join(_sql_lit(t) for t in types)
    step_no = "CASE event_type " + " ".join(
        f"WHEN {_sql_lit(t)} THEN {i}" for i, t in enumerate(types)
    ) + " END"
    # The windows below walk each key's rows in reverse stream order. They
    # order by ts alone; this explicit sort, on the exchange the key needs
    # anyway, orders the ts ties for their ROWS frame and satisfies every
    # window, so the plan keeps one sort. Within equal (ts, event_id) a
    # later step sorts first, so a row's ROWS frame never holds a
    # next-step row with the row's own (ts, event_id); rows of one type
    # equal on (ts, event_id) put the smallest value nearest, as a sorted
    # array would.
    base = (
        events.filter(F.expr(f"event_type IN ({in_list})"))
        .select(key, "event_id", "ts", "event_type", "value")
        .repartition(key)
        .sortWithinPartitions(
            key, F.desc("ts"), F.desc("event_id"), F.expr(step_no), F.desc("value")
        )
    )
    # The step after a row is the first later step-i row in the state
    # machine's stream order, (ts, event_id) ascending with a NULL
    # event_id first among its ts: the nearest earlier row of the sort
    # above (event_id DESC puts NULLs last). A NULL-ts row has none (and
    # is never one). One Window operator per step; __c{i} nests
    # __c{i+1}, so the steps are built back to front.
    frame = (
        f"PARTITION BY `{key}` ORDER BY ts DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )
    for i in range(n - 1, 0, -1):
        c = f", 'c', __c{i + 1}" if i < n - 1 else ""
        pick = (
            f"CASE WHEN event_type = {_sql_lit(types[i])} THEN named_struct("
            f"'ts', ts, 'event_id', event_id, 'value', value{c}) END"
        )
        base = base.withColumn(
            f"__c{i}",
            F.expr(
                "CASE WHEN ts IS NULL THEN NULL "
                f"ELSE last({pick}, true) OVER ({frame}) END"
            ),
        )

    if timeout_s is not None:
        # mirrors F.make_interval(secs=F.lit(float(timeout_s))): the D
        # suffix pins a DOUBLE literal, exactly what F.lit(float) binds
        interval = f"make_interval(0, 0, 0, 0, 0, 0, {float(timeout_s)!r}D)"

    # one starter projection reads every step off the chain; a step is
    # accepted only if every step before it was, so a failed step nulls
    # the rest of the chain
    steps, accepted = [], []
    s, prev_ts = "__c1", "ts"
    for i in range(1, n):
        ok = f"{s}.ts IS NOT NULL"
        if timeout_s is not None:
            ok += f" AND {s}.ts <= {prev_ts} + {interval}"
        accepted.append(f"({ok})")
        acc = " AND ".join(accepted)
        steps += [
            f"CASE WHEN {acc} THEN {s}.{f} END AS e{i}_{a}"
            for f, a in (("ts", "ts"), ("event_id", "id"), ("value", "val"))
        ]
        s, prev_ts = f"{s}.c", f"{s}.ts"
    cur = base.filter(F.expr(f"event_type = {_sql_lit(types[0])}")).selectExpr(
        f"CAST(`{key}` AS STRING) AS key",
        "event_id AS e0_id",
        "ts AS e0_ts",
        "value AS e0_val",
        *steps,
    )

    # consumed = 1 + number of accepted chain steps; an accepted step has
    # a ts, while its event_id may be NULL (the state machine takes it too)
    consumed = "(1" + "".join(
        f" + (CASE WHEN e{i}_ts IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(1, n)
    ) + ")"
    completed = f"e{n-1}_ts IS NOT NULL"

    def per_fail(expr_fn) -> str:
        """CASE over the failing step: value when `consumed == i` events."""
        whens = "".join(
            f" WHEN {consumed} = {i} THEN {expr_fn(i)}" for i in range(1, n)
        )
        return f"(CASE{whens} ELSE {expr_fn(n)} END)"

    if timeout_s is not None:
        fire_timeout = per_fail(lambda i: f"e{i-1}_ts + {interval}")
    else:
        fire_timeout = "CAST(NULL AS TIMESTAMP)"

    def chain_sum(i: int) -> str:
        s = " + ".join(f"coalesce(e{j}_val, 0.0D)" for j in range(i))
        any_val = " OR ".join(f"e{j}_val IS NOT NULL" for j in range(i))
        # null only when every value is null
        return f"(CASE WHEN {any_val} THEN {s} END)"

    out = cur.selectExpr(
        f"{_sql_lit(rule.name)} AS rule",
        "key",
        f"CASE WHEN {completed} THEN 'completed' ELSE 'timeout' END AS outcome",
        f"CAST(CASE WHEN {completed} THEN e{n-1}_ts ELSE {fire_timeout} END "
        "AS TIMESTAMP) AS fire_ts",
        "e0_id AS start_event_id",
        per_fail(lambda i: f"e{i-1}_id") + " AS last_event_id",
        f"CAST({consumed} AS BIGINT) AS n_events",
        f"CAST({per_fail(chain_sum)} AS DOUBLE) AS value_sum",
        "CAST(NULL AS STRING) AS payload",
    )
    if timeout_s is None:
        # never-times-out: incomplete instances wait forever, emit nothing
        out = out.filter(F.expr("outcome = 'completed'"))
    return out


def compile_priority_suppress(events: DataFrame, rules) -> DataFrame:
    """Relational plan for suppressing single-match rule sets.

    For each rule i: emit iff the event matches rule i AND no
    earlier-or-equal suppressing rule j < i matched. One scan, N filtered
    projections unioned, zero shuffles, codegen throughout — the
    LogEverything-behind-a-suppressor pattern at full scan speed."""

    def matches(rule: Rule):
        group = rule.events[0]
        if EVENT_MATCH_ANY in group:
            return F.lit(True)
        return F.col("event_type").isin(list(group))

    outs = []
    for i, rule in enumerate(rules):
        cond = F.lit(True)
        for earlier in rules[:i]:
            if earlier.suppress:
                cond = cond & ~matches(earlier)
        # delegate the emission projection to compile_single_match — the
        # only difference here is the suppressor-exclusion pre-filter, and
        # a duplicated projection would let the two stateless paths'
        # schemas drift apart silently
        outs.append(compile_single_match(events.filter(cond), rule))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def compile_gap_sessions(events: DataFrame, rule: Rule) -> DataFrame:
    """Sessionization plan for continuous-with-timeout rules (J4/W6).

    lag-gap flags a session start strictly after the gap exceeds the
    timeout (state machine: accepted iff ts ≤ last + T), a running sum
    numbers sessions, and one aggregate per (key, session) emits the
    timeout row at last_ts + T — including the final drain session
    (CorrelationEngine batch drain at end of stream). Two shuffles total
    (window on key, agg on key+session), no Python.
    """
    _require(rule, "gap-sessions")
    key = rule.key
    # SQL-string columns, same rationale as compile_sequence (round 17):
    # one py4j round-trip per column instead of one per expression node
    interval = f"make_interval(0, 0, 0, 0, 0, 0, {float(rule.timeout_s)!r}D)"
    # event_type deliberately dropped: nothing downstream reads it, and
    # it would otherwise ride the shuffle + window sort on every row
    src = _type_filter(events, rule.events[0]).select(
        key, "event_id", "ts", "value"
    )
    w = f"OVER (PARTITION BY `{key}` ORDER BY ts, event_id)"
    # the two lag(ts) references are expression-equal, so the analyzer
    # computes ONE lag in the window stage (same as binding it to a
    # variable in the Column API)
    new_sess = (
        f"CASE WHEN lag(ts) {w} IS NULL OR ts > lag(ts) {w} + {interval} "
        "THEN 1 ELSE 0 END"
    )
    sess = (
        f"sum({new_sess}) OVER (PARTITION BY `{key}` ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        src.withColumn("__sess", F.expr(sess))
        .groupBy(key, "__sess")
        .agg(
            F.expr(f"max(ts) + {interval}").alias("fire_ts"),
            F.expr("min_by(event_id, struct(ts, event_id))").alias(
                "start_event_id"
            ),
            F.expr("max_by(event_id, struct(ts, event_id))").alias(
                "last_event_id"
            ),
            F.expr("count(1)").alias("n_events"),
            F.expr("sum(value)").alias("value_sum"),
        )
        .selectExpr(
            f"{_sql_lit(rule.name)} AS rule",
            f"CAST(`{key}` AS STRING) AS key",
            "'timeout' AS outcome",
            "CAST(fire_ts AS TIMESTAMP) AS fire_ts",
            "start_event_id",
            "last_event_id",
            "CAST(n_events AS BIGINT) AS n_events",
            "CAST(value_sum AS DOUBLE) AS value_sum",
            "CAST(NULL AS STRING) AS payload",
        )
    )
