"""Rule chaining — derived events re-enter the engine (J5).

The reference re-injects rule-emitted events on the next loop tick
(CorrelationEngine.php:372-391 handleEmit; Scheduler.php:800-814), so one
rule's output is another rule's input — the canonical online-shop flow:
CheckOrderPayment times out → emits shop:order:payment:timeout →
OrderPaymentReminder consumes it (examples/online_shop/rules/
CheckOrderPayment.php:20-27 → OrderPaymentReminder.php:7-17).

In batch mode the rounds are worked out before any Spark job: round 0
runs every rule over the source stream, and round k+1 runs the rules that
can consume a type round k can derive, over round k's derived events
only. When that static pruning ends the chain within the depth cap, the
whole chain is ONE lazy plan: round k+1 reads the very branch frames of
round k's producers (the rules that can derive a type round k+1
consumes), so nothing is built twice and Spark's exchange reuse runs
each shared shuffle once. A round is pinned and counted only where its
result would otherwise be computed twice or a runtime stop is needed: a
producer runs in the Python state machine, the round has a suppressing
rule, or the static pruning does not end the chain within the cap (a
cycle, e.g. through a ``'*'`` rule), so only an empty round can end it
early (php-ec can loop forever too; futureTick just defers).
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import DataFrame

from ..rules.base import EVENT_MATCH_ANY, Rule
from ..session import pin_intermediate
from .batch import EMISSION_SCHEMA, _branches
from .relational import _sql_lit


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
    ridx = "0"
    if rule_index:
        whens = "".join(
            f" WHEN rule = {_sql_lit(name)} THEN {i}"
            for name, i in rule_index.items()
        )
        ridx = f"(CASE{whens} ELSE 0 END)"
    ocode_whens = "".join(
        f" WHEN outcome = {_sql_lit(name)} THEN {c}"
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


def _derivable_types(rules: Sequence[Rule]) -> set:
    """STATIC superset of the '<rule>:<outcome>' types ``rules`` can
    emit, decided without a Spark job. A superset is always prune-safe:
    an over-kept rule runs one cheap round that emits nothing, and an
    actually emitted type can never fall outside it."""
    out = set()
    for r in rules:
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


def _round_rules(
    rules: Sequence[Rule], max_depth: int
) -> "tuple[list[list[Rule]], bool]":
    """(the rule set of each round, at most ``max_depth`` of them; whether
    the static pruning ends the chain by then). Later rounds see only
    derived events, so a rule that can consume none of the previous
    round's derivable types cannot start, consume or suppress anything
    there. An acyclic rule set ends within len(rules) rounds; a cyclic
    one never does."""
    if max_depth < 1:
        return [], True
    rounds = [list(rules)]
    while True:
        derived = _derivable_types(rounds[-1])
        nxt = [
            r for r in rules
            if any(EVENT_MATCH_ANY in g or set(g) & derived for g in r.events)
        ]
        if not nxt:
            return rounds, True
        if len(rounds) == max_depth:
            return rounds, False
        rounds.append(nxt)


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

    The rounds are decided up front (:func:`_round_rules`). Round k+1's
    input is the derived events of round k's producer branches — the same
    DataFrame objects round k's output unions — so an acyclic chain of
    relational producers is one lazy plan: no Spark job runs before the
    caller's action, and each shared branch is built once. A round read
    twice is pinned (``session.pin_intermediate``) and counted, which
    also stops the chain at an empty round, where a producer runs in the
    state machine (its Python would run twice), the round suppresses
    (its branches cannot be split per rule), or the static pruning does
    not end the chain within ``max_depth`` (a cycle), so only an empty
    round can end it early. Each pin cuts the lineage, so such a chain's
    plan stays one round deep.
    """
    to_events = _derived_events_mapper(events, rules)
    rounds, ends = _round_rules(rules, max_depth)
    out: list[DataFrame] = []
    feed = events
    for k, active in enumerate(rounds):
        branches = _branches(feed, active, historical)
        if not branches:
            break
        emitted = reduce(DataFrame.unionByName, (df for _, _, df in branches))
        if k + 1 == len(rounds):
            out.append(emitted)
            break
        wanted = {t for r in rounds[k + 1] for g in r.events for t in g}
        producers = [
            (strategy, df) for strategy, rs, df in branches
            if EVENT_MATCH_ANY in wanted or _derivable_types(rs) & wanted
        ]
        if (
            not ends
            or any(r.suppress for r in active)
            or any(strategy == "state-machine" for strategy, _ in producers)
        ):
            # LAZY checkpoint + count(): one job computes the round,
            # persists its blocks and answers the emptiness test
            emitted = pin_intermediate(emitted)
            if not emitted.count():
                break
            feed = to_events(emitted)
        else:
            feed = to_events(
                reduce(DataFrame.unionByName, (df for _, df in producers))
            )
        out.append(emitted)
    if not out:
        return events.sparkSession.createDataFrame([], EMISSION_SCHEMA)
    return reduce(DataFrame.unionByName, out)
