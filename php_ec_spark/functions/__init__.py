"""Library functions: operators Spark lacks built-in, composed Spark-first.

- :func:`asof_join` — as-of (most-recent-prior) join via union + running
  window max: ONE shuffle on (key), no join node, no row explosion.
- :func:`validate_enrich_filter` — the reference's stateless
  Validate→Enrich→Filter pre-pipeline (Rule/ValidateEnrichFilter.php:22-94):
  failing any stage suppresses the event engine-wide.
- :func:`cron_fires` — batch-mode scheduled rules (Rule/Cron.php:32-234):
  fire rows at every interval boundary covered by the stream's event-time
  range, derived from a pure `sequence()` expression.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_inclusive(col: Column, lo, hi) -> Column:
    """min ≤ value ≤ max (reference src/Rule.php:27-37, F5)."""
    return col.between(lo, hi)


def range_exclusive(col: Column, lo, hi) -> Column:
    """min < value < max (reference src/Rule.php:39-48, F5)."""
    return (col > lo) & (col < hi)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    right_value_cols: Sequence[str] = ("ts", "event_id"),
    left_prefix: str = "",
    right_prefix: str = "asof_",
    tie_col: str = "event_id",
) -> DataFrame:
    """As-of join: for each left row, the most recent PRIOR right row.

    "Prior" is strict stream order: (on, tie_col) of the right row sorts
    before the left row's. Implemented as union + running window max of a
    struct — a single shuffle on ``by``, merge-scan within partitions, no
    join operator and no candidate explosion; this is the plan a dedicated
    as-of join physical operator would produce.

    Returns the left rows with ``right_prefix + c`` columns for each
    ``right_value_cols`` entry (null when no prior right row exists).
    """
    lcols = left.columns
    ltypes = dict(left.dtypes)
    # carry struct: ordering keys FIRST so the running max picks the
    # latest-prior right row by stream order (on, tie), then the values
    rstruct = F.struct(
        F.col(on).alias("__o"),
        F.col(tie_col).alias("__t"),
        F.struct(*[F.col(c) for c in right_value_cols]).alias("__v"),
    )
    rv_type = right.select(rstruct.alias("s")).schema["s"].dataType
    l = left.select(*lcols, F.lit(1).alias("__is_left")).withColumn(
        "__rv", F.lit(None).cast(rv_type)
    )
    r = right.select(
        *[
            (F.col(c) if c in (on, by, tie_col) else F.lit(None).cast(ltypes[c])).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__is_left"),
        rstruct.alias("__rv"),
    )
    u = l.unionByName(r)
    # at an IDENTICAL (on, tie) the left row must sort FIRST so its equal
    # right twin stays OUT of the (unbounded, -1) frame — ascending
    # __is_left (right=0 before left=1) would make a self as-of join
    # match every row to itself instead of its true predecessor,
    # violating the documented STRICT stream order
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on), F.col(tie_col), F.col("__is_left").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        u.withColumn("__last", F.max("__rv").over(w))
        .filter(F.col("__is_left") == 1)
        .drop("__is_left", "__rv")
    )
    for c in right_value_cols:
        out = out.withColumn(f"{right_prefix}{c}", F.col(f"__last.__v.{c}"))
    return out.drop("__last")


def validate_enrich_filter(
    events: DataFrame,
    validate: Optional[Column] = None,
    enrich: Optional[DataFrame] = None,
    enrich_on: Optional[Column] = None,
    filter_spec: Optional[Column] = None,
    broadcast_enrich: bool = True,
) -> DataFrame:
    """Validate → Enrich → Filter stateless pre-pipeline (F6).

    Mirrors reference Rule/ValidateEnrichFilter.php:22-94: an event failing
    ``validate`` or ``filter_spec`` (≈ returning null from validate()/
    filter()) is suppressed engine-wide — this stage runs before any rule.
    ``enrich`` is a dimension DataFrame joined on ``enrich_on`` (broadcast
    by default — enrichment dims are small).
    """
    out = events
    if validate is not None:
        out = out.filter(validate)
    if enrich is not None:
        if enrich_on is None:
            # a bare join(dim) is a CROSS join — every event silently
            # multiplied by the dimension row count
            raise ValueError(
                "enrich requires enrich_on (the join condition); a "
                "cartesian enrichment is never what you want"
            )
        dim = F.broadcast(enrich) if broadcast_enrich else enrich
        out = out.join(dim, enrich_on, "left")
    if filter_spec is not None:
        out = out.filter(filter_spec)
    return out


def _cron_field_pred(
    col: Column, spec: str, lo: int, hi: int, dow: bool = False
) -> Optional[Column]:
    """One cron field ('*', '5', '1-3', '*/15', '10-30/15') → predicate.
    Returns None for '*' (no constraint). Steps anchor at the RANGE start
    (standard cron: '10-30/15' fires at 10 and 25, not 15 and 30). For the
    day-of-week field, 7 is normalized to 0 (both mean Sunday)."""
    if spec == "*":
        return None
    allowed: set[int] = set()
    for part in spec.split(","):
        step = 1
        stepped = "/" in part
        if stepped:
            part, step_s = part.split("/", 1)
            step = int(step_s)
            if step < 1:
                raise ValueError(f"cron step must be >= 1 in {spec!r}")
        if part == "*":
            rng = range(lo, hi + 1)
        elif "-" in part:
            a, b = part.split("-", 1)
            rng = range(int(a), int(b) + 1)
        elif stepped:
            # standard cron: 'N/step' means 'N-max/step' ('5/15' in the
            # minute field fires at 5,20,35,50 — NOT just minute 5)
            rng = range(int(part), hi + 1)
        else:
            rng = range(int(part), int(part) + 1)
        if rng and (rng.start < lo or rng[-1] > hi):
            # out-of-range values would build an isin() that can never
            # match — the rule would silently never fire
            raise ValueError(
                f"cron field value out of range [{lo},{hi}] in {spec!r}"
            )
        vals = (v for v in rng if (v - rng.start) % step == 0)
        allowed.update((v % 7 for v in vals) if dow else vals)
    return col.isin(sorted(allowed))


def _apply_cron_fields(cand: DataFrame, local, fields) -> DataFrame:
    """Apply the five field predicates with standard (Vixie) cron
    day-matching: when BOTH day-of-month and day-of-week are restricted,
    the day matches if EITHER does — ANDing them (the naive reading)
    silently drops almost every fire of a mixed rule like '0 0 13 * 5'
    (midnight on the 13th OR any Friday; an AND keeps only Friday the
    13th). The reference's cron-expression library implements the same
    OR rule."""
    minute_p = _cron_field_pred(F.minute(local), fields[0], 0, 59)
    hour_p = _cron_field_pred(F.hour(local), fields[1], 0, 23)
    dom_p = _cron_field_pred(F.dayofmonth(local), fields[2], 1, 31)
    month_p = _cron_field_pred(F.month(local), fields[3], 1, 12)
    # cron dow: 0/7 = Sunday; Spark dayofweek: 1 = Sunday
    dow_p = _cron_field_pred(
        (F.dayofweek(local) - 1) % 7, fields[4], 0, 7, dow=True
    )
    for p in (minute_p, hour_p, month_p):
        if p is not None:
            cand = cand.filter(p)
    if dom_p is not None and dow_p is not None:
        cand = cand.filter(dom_p | dow_p)
    elif dom_p is not None:
        cand = cand.filter(dom_p)
    elif dow_p is not None:
        cand = cand.filter(dow_p)
    return cand


#: Cron special-token sugar (Rule/Cron.php:38-45): macro tokens expand to
#: standard 5-field expressions; @reboot/@shutdown fire on the engine's
#: control messages instead of the clock (Cron.php:50-51, 118-132).
CRON_TOKEN_EXPRESSIONS = {
    "@yearly": "0 0 1 1 *",
    "@annually": "0 0 1 1 *",
    "@monthly": "0 0 1 * *",
    "@weekly": "0 0 * * 0",
    "@daily": "0 0 * * *",
    "@midnight": "0 0 * * *",
    "@hourly": "0 * * * *",
}


def _scheduled_emissions(fires: DataFrame, name: str) -> DataFrame:
    """Emission-schema rows for a set of fire_ts values."""
    return fires.select(
        F.lit(name).alias("rule"),
        F.lit(None).cast("string").alias("key"),
        F.lit("scheduled").alias("outcome"),
        F.col("fire_ts"),
        F.lit(None).cast("long").alias("start_event_id"),
        F.lit(None).cast("long").alias("last_event_id"),
        F.lit(None).cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("value_sum"),
        F.lit(None).cast("string").alias("payload"),
    )


def _parse_cron(frame: DataFrame, expression: str, name: str):
    """The front half both cron paths share. ``@reboot``/``@shutdown``
    return ``(emissions, None)``: one fire per lifecycle control message
    in ``frame``. Any other expression returns ``(None, fields)``: its
    five cron fields, after expanding a macro token."""
    from ..model import CONTROL_MSG_RESTORED, CONTROL_MSG_START, CONTROL_MSG_STOP

    expression = expression.strip()
    if expression in ("@reboot", "@shutdown"):
        wanted = (
            [CONTROL_MSG_START, CONTROL_MSG_RESTORED]
            if expression == "@reboot"  # Cron.php initialAcceptedEvents()
            else [CONTROL_MSG_STOP]
        )
        fires = frame.filter(F.col("event_type").isin(wanted)).select(
            F.col("ts").alias("fire_ts")
        )
        return _scheduled_emissions(fires, name), None
    expression = CRON_TOKEN_EXPRESSIONS.get(expression, expression)
    fields = expression.split()
    if len(fields) != 5:
        raise ValueError(f"cron expression needs 5 fields, got {expression!r}")
    return None, fields


def cron_expression_fires(
    events: DataFrame,
    expression: str,
    name: str = "cron",
    tz: Optional[str] = None,
) -> DataFrame:
    """Full cron-expression scheduling over the stream's event-time span
    (Rule/Cron.php:32-234, tz-aware next-run calc at :192-218).

    5-field cron (minute hour day-of-month month day-of-week) with
    ``*``, lists, ranges and steps, plus the reference's special tokens
    (Cron.php:38-51): ``@hourly``/``@daily``/``@midnight``/``@weekly``/
    ``@monthly``/``@yearly``/``@annually`` expand to their 5-field
    equivalents; ``@reboot``/``@shutdown`` fire on the engine lifecycle
    control messages (run the events through
    :func:`php_ec_spark.model.with_control_messages` first in batch
    replay, mirroring the scheduler's boot/stop injections).

    Relational evaluation: one bounds aggregate, a minute-granularity
    ``sequence()``, then field predicates — at a 30-day span that's 43 k
    candidate rows, trivially parallel, no driver-side loop. ``tz``
    evaluates the fields in a zone while fire_ts stays UTC (the
    reference's DateTimeZone handling)."""
    control, fields = _parse_cron(events, expression, name)
    if control is not None:
        return control
    bounds = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    # next-run-AFTER-boot (Rule/Cron.php next-run calc): the truncated
    # sequence start can precede the stream's first event — a fire before
    # min(ts) never happened in a real deployment, so drop it
    cand = (
        bounds.select(
            F.explode(
                F.sequence(
                    F.date_trunc("minute", F.col("lo")),
                    F.col("hi"),
                    F.expr("INTERVAL 1 minute"),
                )
            ).alias("fire_ts"),
            F.col("lo"),
        )
        .filter(F.col("fire_ts") >= F.col("lo"))
        .select("fire_ts")
    )
    local = F.from_utc_timestamp(F.col("fire_ts"), tz) if tz else F.col("fire_ts")
    cand = _apply_cron_fields(cand, local, fields)
    return _scheduled_emissions(cand, name)


def cron_stream_fires(
    ticks: DataFrame,
    expression: str,
    name: str = "cron",
    tz: Optional[str] = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """LIVE cron scheduling (W9 streaming): evaluate a 5-field cron
    expression against a STREAMING tick source — the processing-clock
    OnSchedule analog (Rule/Cron.php:97-113: the scheduler's loop timer is
    the alarm; the fire happens on the tick that crosses a matching
    boundary; TimeoutRule.php:10-28).

    ``ticks`` is any streaming frame with a ``ts`` timestamp column —
    normally :func:`php_ec_spark.streaming.heartbeat_source` unioned with
    the event stream, so ticks keep coming when events go quiet (the
    reference's cron fires on a silent engine too). One ``scheduled``
    emission per MATCHING MINUTE: ``fire_ts`` is the minute boundary
    (exactly the batch ``cron_expression_fires`` value, so batch replay
    and live runs line up), deduplicated across multiple ticks in the
    same minute with ``dropDuplicates`` under a watermark (state stays
    bounded; a tick later than ``watermark_delay`` cannot re-fire an old
    minute). ``@reboot``/``@shutdown`` fire on the lifecycle control
    messages exactly like the batch path (those rows pass through
    unconditionally — no dedup, each boot is a distinct fire).

    Scale: predicate + dedup is fully relational (one stateful dedup op
    keyed by minute — O(watermark/1min) state rows); no Python, no
    per-tick driver work. Runs as its own streaming query: Spark does not
    allow a dedup and an applyInPandasWithState in one query, and the
    reference also runs cron off the scheduler timer, not the correlation
    engine."""
    control, fields = _parse_cron(ticks, expression, name)
    if control is not None:
        return control
    cand = ticks.select(F.date_trunc("minute", F.col("ts")).alias("fire_ts"))
    local = F.from_utc_timestamp(F.col("fire_ts"), tz) if tz else F.col("fire_ts")
    cand = _apply_cron_fields(cand, local, fields)
    fires = cand.withWatermark("fire_ts", watermark_delay).dropDuplicates(
        ["fire_ts"]
    )
    return _scheduled_emissions(fires, name)


def cron_fires(
    events: DataFrame,
    every: str = "1 hour",
    name: str = "cron",
    align: str = "hour",
) -> DataFrame:
    """Batch-mode cron rule: one 'scheduled' emission per interval boundary
    within the stream's event-time span (Rule/Cron.php:32-234; in batch
    replay the timeout mechanism IS the scheduler, next run = deadline).

    Pure relational: one tiny aggregate for the bounds, then ``sequence()``
    explodes the boundaries — no state machine, no Python.
    """
    bounds = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    first = F.date_trunc(align, F.col("lo"))
    # no fire before the stream's first event (next-run-after-boot) —
    # the aligned sequence start usually precedes min(ts)
    fires = (
        bounds.select(
            F.explode(
                F.sequence(first, F.col("hi"), F.expr(f"INTERVAL {every}"))
            ).alias("fire_ts"),
            F.col("lo"),
        )
        .filter(F.col("fire_ts") >= F.col("lo"))
        .select("fire_ts")
    )
    return _scheduled_emissions(fires, name)
