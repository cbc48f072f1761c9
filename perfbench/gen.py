"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same inputs, byte for byte. Each one also returns the ground truth the
output checks compare against (the planted duplicates for the corpus, the
due time of every live event)."""

from __future__ import annotations

import datetime as dt

import numpy as np

#: Event types of the CEP workloads, with their share of the stream.
EVENT_TYPES = ("view", "cart", "checkout", "pay", "refund")
TYPE_SHARES = (0.50, 0.20, 0.13, 0.10, 0.07)

#: Epoch µs of the first generated event (2024-01-01T00:00:00Z).
T0_US = 1_704_067_200_000_000

_EPOCH = dt.datetime(1970, 1, 1)


def zipf_weights(n_keys: int, s: float = 1.0) -> np.ndarray:
    """Popularity of key rank k ∝ 1 / k**s, normalised to sum 1. With
    s = 1 and 50k keys the hottest key holds ~9% of the events."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return w / w.sum()


def gen_events(
    seed: int, n_events: int, n_keys: int, span_s: float, id_base: int = 0,
    t0_us: int = T0_US,
) -> dict:
    """Columns of a time-ordered event stream with Zipf key popularity.

    Returns plain numpy columns: ``event_id`` (``id_base`` + position, so
    ids follow (ts, event_id) stream order), ``ts_us`` (epoch µs),
    ``user_id``, ``event_type`` and ``value`` (NaN except on ``pay`` and
    ``refund``)."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, int(span_s * 1e6), n_events)) + t0_us
    ranks = rng.choice(n_keys, size=n_events, p=zipf_weights(n_keys))
    # shuffle rank → user id so the hot key is not user 0
    ids = rng.permutation(n_keys).astype(np.int64) + 1000
    types = rng.choice(len(EVENT_TYPES), size=n_events, p=TYPE_SHARES)
    value = np.round(rng.gamma(2.0, 30.0, n_events), 2)
    value[types < 3] = np.nan
    return {
        "event_id": np.arange(id_base, id_base + n_events, dtype=np.int64),
        "ts_us": ts.astype(np.int64),
        "user_id": ids[ranks],
        "event_type": np.array(EVENT_TYPES, dtype=object)[types],
        "value": value,
    }


def write_events_parquet(cols: dict, path: str) -> None:
    """Write the columns as the package's ``events.parquet`` envelope
    (µs UTC timestamps, null props)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(cols["event_id"])
    table = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts_us"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64(), from_pandas=True),
        "props": pa.nulls(n, pa.string()),
    })
    pq.write_table(table, path)


def iso_us(epoch_us: int) -> str:
    """Epoch µs → ISO-8601 UTC string with µs precision."""
    return (_EPOCH + dt.timedelta(microseconds=epoch_us)).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ")


def live_schedule(
    seed: int, rate: int, n_keys: int, seconds: float, t0: float, id_base: int
) -> tuple[dict, np.ndarray]:
    """Events of the open loop and their due times (epoch µs): event i is
    due at ``t0 + i / rate``. Keys, types and values come from the seed
    alone; only the due times depend on the start time ``t0``."""
    n = int(rate * seconds)
    cols = gen_events(seed, n, n_keys, span_s=1.0, id_base=id_base)
    due_us = int(round(t0 * 1e6)) + (np.arange(n, dtype=np.int64) * 1_000_000) // rate
    return cols, due_us


def shingles(text: str, n: int = 3) -> frozenset:
    """Distinct word n-grams, exactly as ``operators.dedup.with_shingles``
    builds them (a doc shorter than n is one shingle)."""
    toks = text.split()
    return frozenset(
        " ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1)))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class Corpus:
    """Seeded corpus with planted exact and near copies, and the
    increments that re-crawl it.

    Documents are lowercase, single-spaced word sequences over a large
    vocabulary, so two unrelated documents share (almost surely) no word
    trigram. A *family* is an original plus its copies; the generator
    knows every family and computes the exact Jaccard between its members,
    which is all the truth the checks need: no pair outside a family can
    reach the threshold."""

    VOCAB = 50_000
    #: share of the corpus that is a planted copy (half exact, half near)
    COPY_SHARE = 0.1
    #: the operators' default Jaccard threshold
    THRESHOLD = 0.8

    def __init__(self, seed: int, n_docs: int):
        self.rng = np.random.default_rng(seed)
        self.texts: dict[int, str] = {}
        self.family: dict[int, int] = {}  # doc id → family root id
        self.members: dict[int, list[int]] = {}  # root → member ids
        self.next_id = 0
        n_copies = int(n_docs * self.COPY_SHARE)
        for _ in range(n_docs - n_copies):
            self._add(self._fresh_text(), None)
        originals = self.rng.choice(self.next_id, size=n_copies, replace=False)
        for i, src in enumerate(originals.tolist()):
            self._add(self._copy_text(self.texts[src], near=i % 2 == 1), src)
        self.corpus_ids = list(range(self.next_id))
        self.stored: list[int] = list(self.corpus_ids)

    def _fresh_text(self) -> str:
        n = int(self.rng.integers(40, 201))
        return " ".join(f"w{w}" for w in self.rng.integers(0, self.VOCAB, n))

    def _copy_text(self, text: str, near: bool) -> str:
        if not near:
            return text
        toks = text.split()
        # one or two substitutions in the last shingles: J stays ≥ 0.9
        k = 1 if len(toks) < 80 else 2
        for j in range(k):
            toks[-1 - 3 * j] = f"x{int(self.rng.integers(0, self.VOCAB))}"
        return " ".join(toks)

    def _add(self, text: str, src: "int | None") -> int:
        doc = self.next_id
        self.next_id += 1
        self.texts[doc] = text
        root = doc if src is None else self.family[src]
        self.family[doc] = root
        self.members.setdefault(root, []).append(doc)
        return doc

    def rows(self, ids) -> list[tuple[int, str]]:
        return [(d, self.texts[d]) for d in ids]

    def pairs_truth(self) -> dict:
        """(doc_a, doc_b) → Jaccard rounded to 6 dp, for every corpus pair
        at or above the threshold."""
        ids = set(self.corpus_ids)
        out = {}
        for mem in self.members.values():
            mem = sorted(d for d in mem if d in ids)
            sh = {d: shingles(self.texts[d]) for d in mem}
            for i, a in enumerate(mem):
                for b in mem[i + 1:]:
                    j = round(jaccard(sh[a], sh[b]), 6)
                    if j >= self.THRESHOLD:
                        out[(a, b)] = j
        return out

    def clusters_truth(self) -> dict:
        """doc id → cluster id (the smallest id of its family)."""
        ids = set(self.corpus_ids)
        return {d: min(m for m in self.members[self.family[d]] if m in ids)
                for d in self.corpus_ids}

    def increment(self, n_docs: int):
        """Next crawl increment: a third fresh docs, a third exact and a
        third near copies of distinct stored docs (corpus or earlier
        survivors). Returns (rows, truth) where truth maps each new doc to
        its expected (exact_dup_of, near_dup_of) against the stored index;
        the docs with neither flag are the survivors and become stored."""
        srcs = self.rng.choice(
            len(self.stored), size=2 * n_docs // 3, replace=False).tolist()
        new = []
        for i in range(n_docs):
            if i < len(srcs):
                src = self.stored[srcs[i]]
                new.append(self._add(self._copy_text(
                    self.texts[src], near=i % 2 == 1), src))
            else:
                new.append(self._add(self._fresh_text(), None))
        stored = set(self.stored)
        truth = {}
        for d in new:
            cands = [m for m in self.members[self.family[d]] if m in stored]
            sh = shingles(self.texts[d])
            exact = [m for m in cands if self.texts[m] == self.texts[d]]
            best, best_j = None, -1.0
            for m in sorted(cands):
                j = round(jaccard(sh, shingles(self.texts[m])), 6)
                if j >= self.THRESHOLD and j > best_j:
                    best, best_j = m, j
            truth[d] = (min(exact) if exact else None, best)
        self.stored.extend(d for d in new if truth[d] == (None, None))
        return self.rows(new), truth
