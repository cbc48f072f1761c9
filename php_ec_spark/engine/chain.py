"""Rule chaining — derived events re-enter the engine (J5).

The reference re-injects rule-emitted events on the next loop tick
(CorrelationEngine.php:372-391 handleEmit; Scheduler.php:800-814), so one
rule's output is another rule's input — the canonical online-shop flow:
CheckOrderPayment times out → emits shop:order:payment:timeout →
OrderPaymentReminder consumes it (examples/online_shop/rules/
CheckOrderPayment.php:20-27 → OrderPaymentReminder.php:7-17).

In batch mode this is a fixpoint loop: correlate → turn emissions into
events → union into the stream → correlate again, until no new emissions or
the depth cap is hit (php-ec can loop forever too; futureTick just defers).
Each round's derived stream is tiny relative to the source, so the loop
cost is ~rounds × (one correlate over new events only).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules.base import EVENT_MATCH_ANY, Rule
from ..session import pin_intermediate
from .batch import EMISSION_SCHEMA, correlate


#: Outcome → code for derived-event ids. Every outcome the engine can
#: emit (EMISSION_SCHEMA: completed/timeout/progress/final/error) gets a
#: DISTINCT code — two same-trigger emissions folding to one code would
#: collide ids; unknown outcomes take code 5, so the stride must stay 6.
OUTCOME_CODES = {
    "completed": 0,
    "timeout": 1,
    "progress": 2,
    "final": 3,
    "error": 4,
}
_OUTCOME_STRIDE = 6


def emissions_to_events(
    emissions: DataFrame,
    key_cols: "dict[str, str] | None" = None,
    rule_index: "dict[str, int] | None" = None,
) -> DataFrame:
    """Default derived-event mapping: one event per emission.

    event_type = '<rule>:<outcome>' (the php-ec convention of namespaced
    derived types, e.g. shop:order:payment:timeout), ts = fire_ts, value =
    value_sum. The emission's correlation key is projected back into every
    key column the rule set uses (``key_cols`` maps column name → Spark
    type; default ``{'user_id': 'bigint'}``) so downstream rules keyed on
    any of those columns resolve.

    Derived event ids live in the NEGATIVE id space, folded from
    (last_event_id, rule, outcome):

        m  = 2·e            if e ≥ 0   (zig-zag fold of last_event_id —
             −2·e − 1       if e < 0    round ≥2 triggers ARE derived
                                        events with negative ids)
        id = −((m·n_rules + rule_idx)·6 + outcome_code) − 2

    The zig-zag keeps m non-negative for every trigger, so the id is
    always ≤ −2 and can never collide with non-negative source ids — a
    plain ``−(e·…)`` flips positive exactly when the trigger is itself a
    derived (negative-id) event, i.e. in every chain round past the
    first. Two emissions off the same trigger (different rules, or
    different outcomes from one event) get DISTINCT ids, keeping the
    (ts, event_id) ordering tie-break deterministic. Exact integer
    arithmetic — reproducible in plain SQL, no hashing. ``rule_index``
    (rule name → dense index) comes from the rule set;
    without it all rules share index 0 (still injective per outcome)."""
    key_cols = key_cols or {"user_id": "bigint"}
    rule_index = rule_index or {}
    n_rules = max(len(rule_index), 1)

    # SQL-string columns (round 17): the CASE chains below cost one py4j
    # round-trip per node in Column form; as strings the JVM parses each
    # column in one call, producing the same analyzed expressions (rule
    # names are unique, so the flat CASE order is immaterial)
    def _q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    ridx = "0"
    if rule_index:
        whens = "".join(
            f" WHEN rule = {_q(name)} THEN {i}"
            for name, i in rule_index.items()
        )
        ridx = f"(CASE{whens} ELSE 0 END)"
    ocode_whens = "".join(
        f" WHEN outcome = {_q(name)} THEN {c}"
        for name, c in OUTCOME_CODES.items()
    )
    ocode = f"(CASE{ocode_whens} ELSE {len(OUTCOME_CODES)} END)"
    m = (
        "(CASE WHEN last_event_id >= 0 THEN last_event_id * 2 "
        "ELSE last_event_id * -2 - 1 END)"
    )
    derived_id = f"-(({m} * {n_rules} + {ridx}) * {_OUTCOME_STRIDE} + {ocode}) - 2"
    return emissions.selectExpr(
        f"CAST({derived_id} AS BIGINT) AS event_id",
        "fire_ts AS ts",
        *[
            f"CAST(key AS {dtype}) AS `{name}`"
            for name, dtype in sorted(key_cols.items())
        ],
        "concat_ws(':', rule, outcome) AS event_type",
        "value_sum AS value",
        "payload AS props",
    )


def _derived_events_mapper(
    events: DataFrame, rules: Sequence[Rule]
) -> Callable[[DataFrame], DataFrame]:
    """The emissions → derived events mapping of a chained rule set:
    :func:`emissions_to_events` projecting the key back into every key
    column the rules group on, typed like ``events`` (falls back to
    bigint), with rule indices from the rule-list order."""
    src_types = dict(events.dtypes)
    key_cols = {
        r.key: src_types.get(r.key, "bigint") for r in rules if r.key is not None
    } or {"user_id": "bigint"}
    rule_index = {r.name: i for i, r in enumerate(rules)}
    return lambda em: emissions_to_events(  # noqa: E731
        em, key_cols=key_cols, rule_index=rule_index
    )


def chain_correlate(
    events: DataFrame,
    rules: Sequence[Rule],
    max_depth: int = 5,
    historical: bool = False,
) -> DataFrame:
    """Correlate to fixpoint: emissions become events for the next round.

    Round 0 runs all rules over the source stream. Each later round runs
    the rules over ONLY the newly derived events (an instance can't span a
    source event and a derived event across rounds — same as php-ec, where
    a derived event is a brand-new engine entry). Stops when a round emits
    nothing or after ``max_depth`` rounds. Returns all emissions unioned.

    Each round is pinned (``session.pin_intermediate``) to truncate lineage
    between rounds — without it the plan doubles per round and the driver,
    not the data, becomes the bottleneck.
    """
    spark = events.sparkSession
    to_events = _derived_events_mapper(events, rules)

    def _derivable_types(active_rules: Sequence[Rule]) -> set:
        # STATIC superset of the '<rule>:<outcome>' types this round can
        # emit — no Spark job (replaces a per-round distinct().collect();
        # the job was ~10% of the two-round fixpoint's wall time). A
        # superset is always prune-safe: an over-kept rule runs one cheap
        # round that emits nothing and the take(1) break fires; an actual
        # emitted type can never fall outside it.
        out = set()
        for r in active_rules:
            out.add(f"{r.name}:completed")
            if r.timeout_s is not None:
                out.add(f"{r.name}:timeout")
            if r.emit_progress:
                out.add(f"{r.name}:progress")
            if r.emit_final:
                out.add(f"{r.name}:final")
            if r.accept or r.on_complete or r.on_timeout:
                out.add(f"{r.name}:error")  # callback quarantine outcome
        return out

    all_emissions: Optional[DataFrame] = None
    current = events
    active = list(rules)
    for _ in range(max_depth):
        emitted = correlate(current, active, historical=historical)
        # LAZY checkpoint + count() fuses the former eager-materialize +
        # take(1) pair into ONE job per round (round 17): the count's
        # job computes the round AND persists the checkpoint blocks as
        # it goes (the RDD is marked for checkpointing before the
        # action), and the row count answers the emptiness test the
        # take used to re-ask of the already-pinned blocks.
        emitted = pin_intermediate(emitted)
        if not emitted.count():
            break
        all_emissions = (
            emitted if all_emissions is None else all_emissions.unionByName(emitted)
        )
        current = to_events(emitted)
        # Round pruning: later rounds see ONLY this round's derived types,
        # so a rule with no possible type overlap cannot start, consume, or
        # suppress anything — drop it from the next pass (and stop outright
        # when no rule overlaps, saving the would-be-empty correlate round).
        derived_types = _derivable_types(active)
        active = [
            r for r in rules
            if any(
                EVENT_MATCH_ANY in g or (set(g) & derived_types)
                for g in r.events
            )
        ]
        if not active:
            break
    if all_emissions is None:
        return spark.createDataFrame([], EMISSION_SCHEMA)
    return all_emissions
