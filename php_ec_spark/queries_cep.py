"""CEP queries — the reference's correlation semantics, oracle-checked.

Each query runs rules through :func:`php_ec_spark.engine.batch.correlate`
over the driver's ``events`` table and exposes the emission stream; the
paired DuckDB oracle derives the SAME emissions relationally (window
functions / sessionization), pinning php-ec's exact clock semantics:
timeouts fire at deadline (batch replay, CorrelationEngine.php:191-202),
acceptance is ``ts <= deadline`` (AEventProcessor.php:357-396), sessions
split strictly after the gap exceeds the timeout.

``value_sum`` is rounded to 6 dp in every query: chain sums are tiny (a few
doubles) so cross-engine error ≪ 1e-6 while true sums are 2-decimal exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register
from .engine.batch import correlate
from .engine.chain import chain_correlate
from .functions import cron_expression_fires, cron_fires, validate_enrich_filter
from .memory import MemoryEngine
from .model import (
    CONTROL_MSG_START,
    CONTROL_MSG_STOP,
    clamp_event_time,
    load_events,
    with_control_messages,
)
from .rules.base import match_single, match_single_continuously, sequence_rule
from .session import read_parquet

_EMIT_COLS = [
    "rule",
    "key",
    "outcome",
    "fire_ts",
    "start_event_id",
    "last_event_id",
    "n_events",
]


def _out(emissions: DataFrame) -> DataFrame:
    return emissions.select(
        *_EMIT_COLS, F.round("value_sum", 6).alias("value_sum")
    )


# Shared oracle fragment: "first B event strictly after this row in stream
# order (ts, event_id), per user" — the relational core of sequence matching.
_FIRST_AFTER = """
        WITH e AS (
            SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type, value
            FROM events WHERE event_type IN ({types})
        ), w0 AS (
            -- ONE struct per matched row: three independent IGNORE NULLS
            -- windows would misalign when the matched event's value is
            -- NULL (ts/id from the first match, val from a LATER one)
            SELECT e.*,
                   first_value(CASE WHEN event_type = '{b}' THEN
                       struct_pack(ts := ts, id := event_id, val := value)
                   END IGNORE NULLS) OVER win AS b
            FROM e
            WINDOW win AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
            )
        ), w AS (
            SELECT w0.* EXCLUDE (b),
                   struct_extract(b, 'ts') AS b_ts,
                   struct_extract(b, 'id') AS b_id,
                   struct_extract(b, 'val') AS b_val
            FROM w0
        )
"""


@register(
    "cep_seq_two_step",
    headline=True,
    doc="J1/J2: signup→purchase within 24 h else timeout (CheckOrderPayment shape; "
    "compiles to the one-shuffle window plan, engine/relational.py).",
    oracle=_FIRST_AFTER.format(types="'signup','purchase'", b="purchase")
    + """
        SELECT 'pay_check' AS rule,
               CAST(user_id AS VARCHAR) AS key,
               CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                    THEN 'completed' ELSE 'timeout' END AS outcome,
               CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                    THEN b_ts ELSE ts + INTERVAL 24 HOUR END AS fire_ts,
               event_id AS start_event_id,
               CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                    THEN b_id ELSE event_id END AS last_event_id,
               CAST(CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                    THEN 2 ELSE 1 END AS BIGINT) AS n_events,
               round(CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                    THEN list_aggregate([value, b_val], 'sum')::DOUBLE ELSE value END, 6) AS value_sum
        FROM w WHERE event_type = 'signup'
    """,
)
def cep_seq_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rule = sequence_rule("pay_check", ["signup", "purchase"], key="user_id", timeout="PT24H")
    return _out(correlate(events, [rule]))


@register(
    "cep_funnel_3step",
    headline=True,
    doc="J1 general: 3-step funnel signup→click→purchase, 12 h per step — "
    "compiled to the zero-join N-step window plan (next-of-type window "
    "pointers, ONE hashpartitioning exchange, no joins, no Python "
    "operators; pinned by tests/test_plans.py::"
    "test_n_step_funnel_single_shuffle_no_joins).",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type, value
            FROM events WHERE event_type IN ('signup','click','purchase')
        ), w0 AS (
            -- struct-anchored (see _FIRST_AFTER): ts/id/val must all come
            -- from the SAME first matched event even when val is NULL
            SELECT e.*,
                   first_value(CASE WHEN event_type = 'click' THEN
                       struct_pack(ts := ts, id := event_id, val := value)
                   END IGNORE NULLS) OVER win AS bs,
                   first_value(CASE WHEN event_type = 'purchase' THEN
                       struct_pack(ts := ts, id := event_id, val := value)
                   END IGNORE NULLS) OVER win AS cs
            FROM e
            WINDOW win AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
            )
        ), w AS (
            SELECT w0.* EXCLUDE (bs, cs),
                   struct_extract(bs, 'ts') AS b_ts,
                   struct_extract(bs, 'id') AS b_id,
                   struct_extract(bs, 'val') AS b_val,
                   struct_extract(cs, 'ts') AS c_ts,
                   struct_extract(cs, 'id') AS c_id,
                   struct_extract(cs, 'val') AS c_val
            FROM w0
        ), a AS (
            SELECT user_id, event_id AS a_id, ts AS a_ts, value AS a_val,
                   b_ts, b_id, b_val
            FROM w WHERE event_type = 'signup'
        ), bc AS (
            SELECT event_id AS b_id, c_ts, c_id, c_val FROM w WHERE event_type = 'click'
        )
        SELECT 'funnel3' AS rule,
               CAST(user_id AS VARCHAR) AS key,
               CASE WHEN b_ts IS NOT NULL AND b_ts <= a_ts + INTERVAL 12 HOUR
                         AND c_ts IS NOT NULL AND c_ts <= b_ts + INTERVAL 12 HOUR
                    THEN 'completed' ELSE 'timeout' END AS outcome,
               CASE WHEN b_ts IS NULL OR b_ts > a_ts + INTERVAL 12 HOUR
                         THEN a_ts + INTERVAL 12 HOUR
                    WHEN c_ts IS NULL OR c_ts > b_ts + INTERVAL 12 HOUR
                         THEN b_ts + INTERVAL 12 HOUR
                    ELSE c_ts END AS fire_ts,
               a_id AS start_event_id,
               CASE WHEN b_ts IS NULL OR b_ts > a_ts + INTERVAL 12 HOUR THEN a_id
                    WHEN c_ts IS NULL OR c_ts > b_ts + INTERVAL 12 HOUR THEN b_id
                    ELSE c_id END AS last_event_id,
               CAST(CASE WHEN b_ts IS NULL OR b_ts > a_ts + INTERVAL 12 HOUR THEN 1
                    WHEN c_ts IS NULL OR c_ts > b_ts + INTERVAL 12 HOUR THEN 2
                    ELSE 3 END AS BIGINT) AS n_events,
               round(CASE WHEN b_ts IS NULL OR b_ts > a_ts + INTERVAL 12 HOUR THEN a_val
                    WHEN c_ts IS NULL OR c_ts > b_ts + INTERVAL 12 HOUR
                        THEN list_aggregate([a_val, b_val], 'sum')::DOUBLE
                    ELSE list_aggregate([a_val, b_val, c_val], 'sum')::DOUBLE
                    END, 6) AS value_sum
        FROM a LEFT JOIN bc USING (b_id)
    """,
)
def cep_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rule = sequence_rule(
        "funnel3", ["signup", "click", "purchase"], key="user_id", timeout="PT12H"
    )
    return _out(correlate(events, [rule]))


@register(
    "cep_progress_hook",
    doc="onProgress lifecycle hook (AEventProcessor.php:522-549): one "
    "'progress' emission per consumed, non-completing event, alongside the "
    "final completed/timeout row.",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type, value
            FROM events WHERE event_type IN ('signup','click','purchase')
        ), w0 AS (
            -- struct-anchored (see _FIRST_AFTER)
            SELECT e.*,
                   first_value(CASE WHEN event_type = 'click' THEN
                       struct_pack(ts := ts, id := event_id, val := value)
                   END IGNORE NULLS) OVER win AS bs
            FROM e
            WINDOW win AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
            )
        ), w AS (
            SELECT w0.* EXCLUDE (bs),
                   struct_extract(bs, 'ts') AS b_ts,
                   struct_extract(bs, 'id') AS b_id,
                   struct_extract(bs, 'val') AS b_val
            FROM w0
        ), a AS (SELECT * FROM w WHERE event_type = 'signup')
        SELECT 'prog3' AS rule, CAST(user_id AS VARCHAR) AS key,
               'progress' AS outcome, ts AS fire_ts,
               event_id AS start_event_id, event_id AS last_event_id,
               CAST(1 AS BIGINT) AS n_events, round(value, 6) AS value_sum
        FROM a
        UNION ALL
        SELECT 'prog3', CAST(user_id AS VARCHAR), 'progress', b_ts,
               event_id, b_id, CAST(2 AS BIGINT),
               round(list_aggregate([value, b_val], 'sum')::DOUBLE, 6)
        FROM a WHERE b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 12 HOUR
    """,
)
def cep_progress_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rule = sequence_rule(
        "prog3", ["signup", "click", "purchase"], key="user_id",
        timeout="PT12H", emit_progress=True,
    )
    return _out(correlate(events, [rule])).filter(F.col("outcome") == "progress")


@register(
    "cep_single_match",
    doc="J3/F1: MatchSingle on one event type — stateless filter plan.",
    oracle="""
        SELECT 'errors' AS rule, CAST(user_id AS VARCHAR) AS key,
               'completed' AS outcome, ts::TIMESTAMP AS fire_ts,
               event_id AS start_event_id, event_id AS last_event_id,
               CAST(1 AS BIGINT) AS n_events, round(value, 6) AS value_sum
        FROM events WHERE event_type = 'error'
    """,
)
def cep_single_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    return _out(correlate(events, [match_single("errors", ["error"], key="user_id")]))


@register(
    "cep_gap_sessions",
    headline=True,
    doc="J4/W6: continuous '*' match with 6 h timeout = per-user session-gap "
    "detection; one timeout emission per session.",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events
        ), s AS (
            SELECT e.*,
                   CASE WHEN lag(ts) OVER win IS NULL
                             OR ts - lag(ts) OVER win > INTERVAL 6 HOUR
                        THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), g AS (
            SELECT s.*, sum(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING
            ) AS sess
            FROM s
        )
        SELECT 'gap6h' AS rule, CAST(user_id AS VARCHAR) AS key,
               'timeout' AS outcome,
               max(ts) + INTERVAL 6 HOUR AS fire_ts,
               first(event_id ORDER BY ts, event_id) AS start_event_id,
               last(event_id ORDER BY ts, event_id) AS last_event_id,
               count(*) AS n_events,
               round(sum(value), 6) AS value_sum
        FROM g GROUP BY user_id, sess
    """,
)
def cep_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rule = match_single_continuously("gap6h", ["*"], key="user_id", timeout="PT6H")
    return _out(correlate(events, [rule]))


@register(
    "cep_suppression",
    doc="F8/F9: EVENT_SUPPRESS in rule order — the error rule swallows error "
    "events; the wildcard rule sees everything else.",
    oracle="""
        SELECT 'sup_error' AS rule, CAST(user_id AS VARCHAR) AS key,
               'completed' AS outcome, ts::TIMESTAMP AS fire_ts,
               event_id AS start_event_id, event_id AS last_event_id,
               CAST(1 AS BIGINT) AS n_events, round(value, 6) AS value_sum
        FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'the_rest', CAST(user_id AS VARCHAR), 'completed', ts::TIMESTAMP,
               event_id, event_id, CAST(1 AS BIGINT), round(value, 6)
        FROM events WHERE event_type <> 'error'
    """,
)
def cep_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rules = [
        match_single("sup_error", ["error"], key="user_id", suppress=True),
        match_single("the_rest", ["*"], key="user_id"),
    ]
    return _out(correlate(events, rules))


@register(
    "cep_chain_rolling",
    doc="A5/A6: continuous purchase matcher with trimEventChain(5) — rolling "
    "last-5 buffer per user, reported at end of stream.",
    oracle="""
        WITH p AS (
            SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn,
                   max(ts::TIMESTAMP) OVER (PARTITION BY user_id) AS last_ts
            FROM events WHERE event_type = 'purchase'
        )
        SELECT 'roll5' AS rule, CAST(user_id AS VARCHAR) AS key,
               'final' AS outcome, last_ts AS fire_ts,
               arg_max(event_id, rn) AS start_event_id,
               arg_min(event_id, rn) AS last_event_id,
               count(*) AS n_events,
               round(sum(value), 6) AS value_sum
        FROM p WHERE rn <= 5
        GROUP BY user_id, last_ts
    """,
)
def cep_chain_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rule = match_single_continuously(
        "roll5", ["purchase"], key="user_id", chain_limit=5, emit_final=True
    )
    return _out(correlate(events, [rule]))


@register(
    "cep_historical_no_timeout",
    doc="W5: HISTORICAL_IGNORE_TIMEOUT — replaying history never fires "
    "timeouts; instances stay alive so a late purchase still completes "
    "(AEventProcessor.php:377-383).",
    oracle=_FIRST_AFTER.format(types="'signup','purchase'", b="purchase")
    + """
        SELECT 'hist_check' AS rule, CAST(user_id AS VARCHAR) AS key,
               'completed' AS outcome, b_ts AS fire_ts,
               event_id AS start_event_id, b_id AS last_event_id,
               CAST(2 AS BIGINT) AS n_events,
               round(list_aggregate([value, b_val], 'sum')::DOUBLE, 6) AS value_sum
        FROM w WHERE event_type = 'signup' AND b_ts IS NOT NULL
    """,
)
def cep_historical_no_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rule = sequence_rule(
        "hist_check",
        ["signup", "purchase"],
        key="user_id",
        timeout="PT24H",
        historical_ignore_timeout=True,
    )
    return _out(correlate(events, [rule], historical=True))


@register(
    "cep_validate_enrich_filter",
    doc="F6: Validate→Enrich→Filter stateless pre-pipeline "
    "(Rule/ValidateEnrichFilter.php:22-94) — broadcast-joined dim, "
    "engine-wide suppression of failing events.",
    oracle="""
        -- LEFT join: the Spark side enriches with a left join, so an
        -- event with a NULL/unmatched user_id survives with n_name NULL
        -- (an inner join here would drop it and hide the divergence)
        SELECT e.event_id, e.user_id, e.event_type, n.n_name
        FROM events e
        LEFT JOIN nation n ON e.user_id % 25 = n.n_nationkey
        WHERE e.value >= 5 AND e.event_type IN ('click', 'purchase')
    """,
)
def cep_validate_enrich_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
    out = validate_enrich_filter(
        events,
        validate=F.col("value") >= 5,
        enrich=nation.select("n_nationkey", "n_name"),
        enrich_on=F.col("user_id") % 25 == F.col("n_nationkey"),
        filter_spec=F.col("event_type").isin("click", "purchase"),
    )
    return out.select("event_id", "user_id", "event_type", "n_name")


@register(
    "cep_chain_reinject",
    headline=True,
    doc="J5: rule chaining — pay_check timeouts become derived events that a "
    "reminder rule consumes on the next engine pass "
    "(CorrelationEngine.php:372-391; online-shop example).",
    oracle=_FIRST_AFTER.format(types="'signup','purchase'", b="purchase")
    + """
        , base AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                        THEN 'completed' ELSE 'timeout' END AS outcome,
                   CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                        THEN b_ts ELSE ts + INTERVAL 24 HOUR END AS fire_ts,
                   event_id AS start_event_id,
                   CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                        THEN b_id ELSE event_id END AS last_event_id,
                   CAST(CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                        THEN 2 ELSE 1 END AS BIGINT) AS n_events,
                   round(CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                        THEN list_aggregate([value, b_val], 'sum')::DOUBLE ELSE value END, 6) AS value_sum
            FROM w WHERE event_type = 'signup'
        )
        SELECT 'pay_check' AS rule, key, outcome, fire_ts, start_event_id,
               last_event_id, n_events, value_sum FROM base
        UNION ALL
        -- derived id fold (engine/chain.py emissions_to_events): zig-zag
        -- m = 2*e for the non-negative source trigger, pay_check is rule
        -- index 0 of 2, outcome 'timeout' has code 1, stride 6
        SELECT 'reminder', key, 'completed', fire_ts,
               -(((last_event_id * 2) * 2 + 0) * 6 + 1) - 2,
               -(((last_event_id * 2) * 2 + 0) * 6 + 1) - 2,
               CAST(1 AS BIGINT), value_sum
        FROM base WHERE outcome = 'timeout'
    """,
)
def cep_chain_reinject(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rules = [
        sequence_rule("pay_check", ["signup", "purchase"], key="user_id", timeout="PT24H"),
        match_single("reminder", ["pay_check:timeout"], key="user_id"),
    ]
    return _out(chain_correlate(events, rules, max_depth=3))


@register(
    "cep_control_messages",
    doc="W9-adjacent: Start/Stop control messages are in-band events "
    "(Scheduler.php:163-188); an OnStartup/OnShutdown-style rule consumes them.",
    oracle="""
        WITH b AS (
            -- coalesce to epoch/0 exactly like with_control_messages
            -- (model.py) so the two sides agree even on an EMPTY table
            SELECT coalesce(min(ts::TIMESTAMP),
                            TIMESTAMP '1970-01-01 00:00:00') AS lo,
                   coalesce(max(ts::TIMESTAMP),
                            TIMESTAMP '1970-01-01 00:00:00') AS hi,
                   coalesce(min(event_id), 0) AS mn,
                   coalesce(max(event_id), 0) AS mx
            FROM events
        )
        SELECT 'lifecycle' AS rule, CAST(NULL AS VARCHAR) AS key,
               'completed' AS outcome, lo AS fire_ts,
               mn - 1 AS start_event_id, mn - 1 AS last_event_id,
               CAST(1 AS BIGINT) AS n_events, CAST(NULL AS DOUBLE) AS value_sum
        FROM b
        UNION ALL
        SELECT 'lifecycle', CAST(NULL AS VARCHAR), 'completed', hi,
               mx + 1, mx + 1, CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
        FROM b
    """,
)
def cep_control_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = with_control_messages(spark, load_events(spark, sf_dir))
    rule = match_single("lifecycle", [CONTROL_MSG_START, CONTROL_MSG_STOP], key=None)
    return _out(correlate(events, [rule]))


@register(
    "cep_cron_hourly",
    doc="W9: cron rule in batch replay — fires at every hour boundary in the "
    "stream's event-time span (Rule/Cron.php:32-234).",
    oracle="""
        SELECT 'cron' AS rule, CAST(NULL AS VARCHAR) AS key,
               'scheduled' AS outcome, g.fire_ts,
               CAST(NULL AS BIGINT) AS start_event_id,
               CAST(NULL AS BIGINT) AS last_event_id,
               CAST(NULL AS BIGINT) AS n_events,
               CAST(NULL AS DOUBLE) AS value_sum
        FROM (
            SELECT unnest(generate_series(
                date_trunc('hour', (SELECT min(ts::TIMESTAMP) FROM events)),
                (SELECT max(ts::TIMESTAMP) FROM events),
                INTERVAL 1 HOUR
            )) AS fire_ts
        ) g
        -- next-run-AFTER-boot semantics (Rule/Cron.php): no fire before
        -- the stream's first event
        WHERE g.fire_ts >= (SELECT min(ts::TIMESTAMP) FROM events)
    """,
)
def cep_cron_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    return _out(cron_fires(events, every="1 hour", name="cron", align="hour"))


@register(
    "cep_cron_expr",
    doc="W9: cron-expression rules over the event-time span — a full "
    "5-field expression ('30 */6 * * *'), the '@daily' macro token, and "
    "'@reboot' firing on the injected Start control message "
    "(Rule/Cron.php:32-234 schedule calc + :38-51 special tokens).",
    oracle="""
        WITH g AS (
            SELECT fire_ts FROM (
                SELECT unnest(generate_series(
                    date_trunc('minute', (SELECT min(ts::TIMESTAMP) FROM events)),
                    (SELECT max(ts::TIMESTAMP) FROM events),
                    INTERVAL 1 MINUTE
                )) AS fire_ts
            )
            -- next-run-AFTER-boot semantics: no fire before the stream
            WHERE fire_ts >= (SELECT min(ts::TIMESTAMP) FROM events)
        ), fires AS (
            SELECT 'cron6h' AS rule, fire_ts FROM g
            WHERE minute(fire_ts) = 30 AND hour(fire_ts) % 6 = 0
            UNION ALL
            SELECT 'daily' AS rule, fire_ts FROM g
            WHERE minute(fire_ts) = 0 AND hour(fire_ts) = 0
            UNION ALL
            -- @reboot = the boot-time Start control row, injected at the
            -- stream's min ts (Scheduler.php:730-737)
            SELECT 'boot' AS rule,
                   (SELECT min(ts::TIMESTAMP) FROM events) AS fire_ts
        )
        SELECT rule, CAST(NULL AS VARCHAR) AS key,
               'scheduled' AS outcome, fire_ts,
               CAST(NULL AS BIGINT) AS start_event_id,
               CAST(NULL AS BIGINT) AS last_event_id,
               CAST(NULL AS BIGINT) AS n_events,
               CAST(NULL AS DOUBLE) AS value_sum
        FROM fires
    """,
)
def cep_cron_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    expr6 = cron_expression_fires(events, "30 */6 * * *", name="cron6h")
    daily = cron_expression_fires(events, "@daily", name="daily")
    boot = cron_expression_fires(
        with_control_messages(spark, events), "@reboot", name="boot"
    )
    return _out(expr6.unionByName(daily).unionByName(boot))


@register(
    "cep_memory_enrich",
    doc="J6/S11: Collective-Memory read during matching = broadcast join "
    "against a preloaded namespace (MemoryEngine.php:26-186).",
    oracle="""
        SELECT e.event_id, e.user_id, n.n_name AS mem_value
        FROM events e
        LEFT JOIN nation n ON e.user_id % 25 = n.n_nationkey
    """,
)
def cep_memory_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
    seed = nation.select(
        F.lit("nations").alias("namespace"),
        F.col("n_nationkey").cast("string").alias("key"),
        F.col("n_name").alias("value"),
        F.col("n_nationkey").cast("long").alias("write_seq"),
    )
    mem = MemoryEngine.preload(spark, seed)
    out = mem.enrich(
        events, "nations", on=(F.col("user_id") % 25).cast("string")
    )
    return out.select("event_id", "user_id", "mem_value")


@register(
    "cep_multi_rule_mixed",
    doc="One correlate() call mixing three physical strategies — window "
    "sequence + relational gap sessions + stateless single match — union "
    "of per-rule plans, each the cheapest that preserves semantics.",
    oracle=_FIRST_AFTER.format(types="'signup','purchase'", b="purchase")
    + """
        SELECT 'mix_seq' AS rule, CAST(user_id AS VARCHAR) AS key,
               CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                    THEN 'completed' ELSE 'timeout' END AS outcome,
               CAST(CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                    THEN 2 ELSE 1 END AS BIGINT) AS n_events
        FROM w WHERE event_type = 'signup'
        UNION ALL
        SELECT 'mix_gap', CAST(user_id AS VARCHAR), 'timeout', count(*)
        FROM (
            SELECT user_id, event_id, ts,
                   sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS sess
            FROM (
                SELECT user_id, event_id, ts::TIMESTAMP AS ts,
                       CASE WHEN lag(ts::TIMESTAMP) OVER win IS NULL
                            OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER win > INTERVAL 12 HOUR
                            THEN 1 ELSE 0 END AS new_sess
                FROM events WHERE event_type = 'error'
                WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
        ) GROUP BY user_id, sess
        UNION ALL
        SELECT 'mix_one', CAST(user_id AS VARCHAR), 'completed', CAST(1 AS BIGINT)
        FROM events WHERE event_type = 'view'
    """,
)
def cep_multi_rule_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rules = [
        sequence_rule("mix_seq", ["signup", "purchase"], key="user_id", timeout="PT24H"),
        match_single_continuously("mix_gap", ["error"], key="user_id", timeout="PT12H"),
        match_single("mix_one", ["view"], key="user_id"),
    ]
    return correlate(events, rules).select("rule", "key", "outcome", "n_events")


@register(
    "cep_stat_counters",
    doc="A1: incrStat counters (CorrelationEngine.php:790-813) — per-rule "
    "completed/timeout tallies derived from the emission stream, the exact "
    "batch-replay analog of the engine's statistics map.",
    oracle=_FIRST_AFTER.format(types="'signup','purchase'", b="purchase")
    + """
        , em AS (
            SELECT 'pay_check' AS rule,
                   CASE WHEN b_ts IS NOT NULL AND b_ts <= ts + INTERVAL 24 HOUR
                        THEN 'completed' ELSE 'timeout' END AS outcome
            FROM w WHERE event_type = 'signup'
            UNION ALL
            SELECT 'errors', 'completed' FROM events WHERE event_type = 'error'
        )
        SELECT rule, outcome, count(*) AS n FROM em GROUP BY rule, outcome
    """,
)
def cep_stat_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    rules = [
        sequence_rule("pay_check", ["signup", "purchase"], key="user_id", timeout="PT24H"),
        match_single("errors", ["error"], key="user_id"),
    ]
    return (
        correlate(events, rules)
        .groupBy("rule", "outcome")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "cep_time_clamp",
    doc="F7: live-mode skew clamp — |ts − now| > 600 s is overwritten with "
    "server time (CorrelationEngine.php:181-190).",
    oracle="""
        SELECT event_id,
               CASE WHEN abs(epoch(ts::TIMESTAMP) - epoch(TIMESTAMP '2024-01-15 00:00:00')) > 600
                    THEN TIMESTAMP '2024-01-15 00:00:00'
                    ELSE ts::TIMESTAMP END AS ts
        FROM events
    """,
)
def cep_time_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    now = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return clamp_event_time(events, now=now).select("event_id", "ts")
