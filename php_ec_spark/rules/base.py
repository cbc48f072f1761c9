"""Declarative Rule API — the engine's user-facing "query language".

The reference's rule surface is a PHP class hierarchy (reference
src/StateMachine/AEventProcessor.php:122-137: class constants ``EVENTS``,
``TIMEOUT``; hooks acceptInitialEvent/acceptSubsequentEvent, lifecycle
callbacks onComplete/onTimeout/onProgress). Here a rule is a picklable
dataclass that the engine compiles to a Spark plan:

- N-step sequences of distinct types, single matches, counters and gap
  sessions → pure relational plans (window functions and aggregates, no
  Python in the hot path); ``engine.relational.strategies()`` decides
  which shape a rule is.
- Every other rule → per-key state machine via ``mapInPandas`` (batch) or
  ``applyInPandasWithState`` (streaming) — see ``engine/batch.py``.

Key difference from the reference, by design: the correlation key must be
DECLARED (``key`` = a column name). php-ec discovers keys imperatively inside
``acceptEvent`` (AEventProcessor.php:229-252); Spark needs the key before
``groupBy`` to partition state. Un-keyable rules set ``key=None`` and run on
a single ordered partition (correct, not scalable — documented escape hatch).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

#: Wildcard event type — matches every event (reference IEventMatcher.php:27).
EVENT_MATCH_ANY = "*"

_DUR_RE = re.compile(
    r"^P(?:(?P<days>\d+)D)?"
    r"(?:T(?:(?P<hours>\d+)H)?(?:(?P<minutes>\d+)M)?(?:(?P<seconds>\d+(?:\.\d+)?)S)?)?$"
)


def parse_duration(value: "str | int | float | None") -> Optional[float]:
    """ISO-8601 duration (``'PT20S'``, ``'PT30M'``) or numeric seconds → seconds.

    Mirrors the reference's ``DateInterval`` parsing of the TIMEOUT constant
    (AEventProcessor.php:122,389-393). Months/years intentionally unsupported
    (calendar-dependent; the reference's examples never use them).
    """
    if value is None:
        return None
    if isinstance(value, (int, float)):
        return float(value)
    m = _DUR_RE.match(value)
    if not m:
        raise ValueError(f"unsupported ISO-8601 duration: {value!r}")
    days = int(m.group("days") or 0)
    hours = int(m.group("hours") or 0)
    minutes = int(m.group("minutes") or 0)
    seconds = float(m.group("seconds") or 0)
    return days * 86400 + hours * 3600 + minutes * 60 + seconds


@dataclass(frozen=True)
class Rule:
    """One event-correlation rule (≈ a subclass of AEventProcessor).

    Attributes
    ----------
    name:
        Unique rule name; appears in the ``rule`` column of emissions.
    events:
        Sequence of event-type groups. A matcher instance consumes one event
        from group *i* before advancing to group *i+1*
        (AEventProcessor.php:137,169-186). ``'*'`` in a group matches any
        type (IEventMatcher.php:27).
    key:
        Correlation-key column name (``None`` ⇒ global single partition).
        Replaces the acceptEvent context-capture idiom
        (examples/online_shop/rules/CheckOrderPayment.php:13-18).
    timeout:
        ISO-8601 duration or seconds. The next event must arrive at or
        before ``last_consumed.ts + timeout``; otherwise the instance times
        out and fires ``onTimeout`` (AEventProcessor.php:357-396).
    continuous:
        ``complete()`` ≡ False — keep consuming events from the final group
        forever (Rule/MatchSingleContinuously.php:31-44). With a timeout this
        is a keep-alive / gap detector; the timeout deadline resets on every
        consumed event.
    chain_limit:
        ``trimEventChain(n)`` — keep only the most recent *n* consumed events
        (AEventProcessor.php:321-332); bounds state for continuous rules.
    suppress:
        When this rule consumes an event, stop offering that event to any
        later rule (EVENT_SUPPRESS flag, IEventMatcher.php:31; engine order
        semantics CorrelationEngine.php:231-236). Rule list order is
        therefore semantic.
    emit_progress:
        Emit an ``outcome='progress'`` row for every consumed event that
        does not complete the instance (onProgress hook).
    emit_final:
        Emit an ``outcome='final'`` row per live instance at end-of-stream
        (batch mode only) — lets continuous rules expose their rolling state
        to oracle checks.
    historical_ignore_timeout:
        Do not fire timeouts during historical replay
        (AEventProcessor.php:132 HISTORICAL_IGNORE_TIMEOUT).
    accept:
        Optional extra predicate ``f(event_dict, chain) -> bool`` applied
        before consuming (acceptSubsequentEvent analog beyond key equality).
        Python-visible only — rules with ``accept`` always take the
        state-machine path.
    on_complete / on_timeout:
        Optional callbacks ``f(chain, key) -> dict`` whose result is JSON-
        merged into the emission's ``payload`` column (emit('data', ...) analog,
        AEventProcessor.php:522-549).
    """

    name: str
    events: Sequence[Sequence[str]]
    key: Optional[str] = "user_id"
    timeout: "str | float | None" = None
    continuous: bool = False
    chain_limit: Optional[int] = None
    suppress: bool = False
    emit_progress: bool = False
    emit_final: bool = False
    historical_ignore_timeout: bool = False
    accept: Optional[Callable] = field(default=None, compare=False)
    on_complete: Optional[Callable] = field(default=None, compare=False)
    on_timeout: Optional[Callable] = field(default=None, compare=False)

    def __post_init__(self) -> None:
        if isinstance(self.events, str) or any(
            isinstance(g, str) for g in self.events
        ):
            # events=['placed','paid'] (a natural mistake for the
            # group-of-groups shape) would silently explode each string
            # into per-CHARACTER groups and the rule would never fire
            raise ValueError(
                f"rule {self.name}: events must be a sequence of GROUPS "
                "(e.g. [['placed'], ['paid']]), got a bare string"
            )
        if not self.events or any(len(g) == 0 for g in self.events):
            raise ValueError(f"rule {self.name}: events must be non-empty groups")
        object.__setattr__(self, "events", tuple(tuple(g) for g in self.events))
        # parse once at construction: timeout_s sits on the engine's
        # per-event hot path (EngineCore.consume), and re-running the
        # ISO-8601 regex there measured ~30% of the whole state machine
        object.__setattr__(self, "_timeout_s", parse_duration(self.timeout))
        # hot-path precomputes (EngineCore handles one event per call; at
        # 100 TB the Python state machine is the throughput ceiling, so
        # per-event attribute/property work is paid millions of times):
        # deadline arithmetic in integer ns, and per-group membership as
        # frozenset + match-any flag instead of tuple scans.
        ts = self._timeout_s
        object.__setattr__(self, "_timeout_ns", None if ts is None else int(ts * 1e9))
        object.__setattr__(
            self, "_group_sets", tuple(frozenset(g) for g in self.events)
        )
        object.__setattr__(
            self, "_group_any", tuple(EVENT_MATCH_ANY in g for g in self.events)
        )
        # inverted index: event type → the group indexes whose instances
        # want it (wildcard groups want everything). EngineCore buckets
        # live instances by awaiting group index, so an event only ever
        # touches the instances that can consume it — the difference
        # between O(live) and O(matching) per event when one group
        # accumulates waiters (e.g. many armed sequences awaiting a rare
        # second step).
        wild = tuple(
            gi for gi, anym in enumerate(self._group_any) if anym
        )
        by_type: dict = {}
        for gi, g in enumerate(self.events):
            for tname in g:
                if tname != EVENT_MATCH_ANY:
                    by_type.setdefault(tname, set()).add(gi)
        object.__setattr__(self, "_wildcard_gis", wild)
        object.__setattr__(
            self,
            "_gis_by_type",
            {t: tuple(sorted(s.union(wild))) for t, s in by_type.items()},
        )

    @property
    def timeout_s(self) -> Optional[float]:
        return self._timeout_s


def sequence_rule(
    name: str,
    event_types: Sequence[str],
    key: str = "user_id",
    timeout: "str | float | None" = None,
    **kw,
) -> Rule:
    """Ordered sequence A→B→…; the CheckOrderPayment shape
    (EVENTS [['placed'],['paid']], TIMEOUT PT20S)."""
    return Rule(name=name, events=[[t] for t in event_types], key=key, timeout=timeout, **kw)


def match_single(name: str, event_types: Sequence[str], key: Optional[str] = "user_id", **kw) -> Rule:
    """Fire once on the first accepted event, complete, never time out
    (Rule/MatchSingle.php:22-33)."""
    return Rule(name=name, events=[list(event_types)], key=key, timeout=None, **kw)


def match_single_continuously(
    name: str,
    event_types: Sequence[str],
    key: Optional[str] = "user_id",
    timeout: "str | float | None" = None,
    chain_limit: Optional[int] = None,
    **kw,
) -> Rule:
    """Keep accepting the same group forever (Rule/MatchSingleContinuously.php:22-45);
    with a timeout it detects the stream going quiet (gap/absence)."""
    return Rule(
        name=name,
        events=[list(event_types)],
        key=key,
        timeout=timeout,
        continuous=True,
        chain_limit=chain_limit,
        **kw,
    )
