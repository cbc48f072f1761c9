"""The one ingest-through-index door (``operators.dedup._ingest_through_index``)
under crashes: both index families — the text dedup index
(``streaming_index_ingest``) and the IVF embedding index
(``streaming_embedding_ingest``) — crash once in each window of the
door's protocol, restart on the same checkpoint, and must end where an
uncrashed run ends."""

from __future__ import annotations

import json
import os

import pytest

from php_ec_spark.operators import dedup, dedup_index, similarity

PARAMS = dict(num_hashes=64, bands=16, n=3, num_buckets=4)

#: batch 1 holds an exact dup of a batch-0 survivor (3 of 1), a near dup
#: of one (7 of 1) and an intra-batch near pair (4 and 5 -> 4 survives)
TEXT_BATCHES = [
    [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "entirely different content here"),
    ],
    [
        (3, "THE quick  brown fox jumps over the lazy dog"),
        (4, "a stitch in time saves nine said the old tailor"),
        (5, "a stitch in time saves nine said the old sailor"),
        (6, "novel sentence about something else entirely now"),
        (7, "the quick brown fox jumps over the lazy cat"),
    ],
]
TEXT_LANDED = {(1, 0), (2, 0), (4, 1), (6, 1)}

CENTERS = {
    0: [30.0, 0.0, 0.0, 1.0],
    1: [0.0, 30.0, 0.0, 1.0],
    2: [0.0, 0.0, 30.0, 1.0],
}


def _vec(cluster, jitter):
    v = list(CENTERS[cluster])
    v[3] += jitter
    return [float(x) for x in v]


#: batch 0: 100 re-embeds stored 0 (dropped), 101 is novel; batch 1: 102
#: re-embeds 101 (dropped against the index), 103/104 an intra-batch pair
EMB_BATCHES = [
    [(100, _vec(0, 0.0)), (101, _vec(1, 5.0))],
    [(102, _vec(1, 5.0)), (103, _vec(2, 7.0)), (104, _vec(2, 7.0))],
]
EMB_LANDED = {(101, 0), (103, 1)}

WINDOWS = ["before_landing", "landing_to_add", "add_to_commit"]


class _Crash(RuntimeError):
    pass


def _stage(src, rows_per_batch, key, val):
    src.mkdir()
    for b, rows in enumerate(rows_per_batch):
        p = src / f"{b:02d}.json"
        with open(p, "w") as f:
            for k, v in rows:
                f.write(json.dumps({key: k, val: v}) + "\n")
        os.utime(p, (1_700_000_000 + 10 * b,) * 2)


def _rows(df):
    return sorted(
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in df.collect()
    )


class _Text:
    def __init__(self, spark, tmp_path, tag):
        self.spark, self.name = spark, f"cm_{tag}"
        self.src = tmp_path / "src"
        _stage(self.src, TEXT_BATCHES, "doc_id", "text")
        dedup_index.dedup_index_build(
            spark.createDataFrame([], "doc_id long, text string"),
            self.name, **PARAMS,
        )

    def start(self, landed, ckpt):
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(self.src))
        )
        return dedup_index.streaming_index_ingest(
            self.spark, self.name, stream, landed_path=landed,
            checkpoint=ckpt, threshold=0.5, drop_near=True,
            available_now=True,
        )

    def index(self):
        return {
            part: _rows(self.spark.table(f"{self.name}_{part}"))
            for part in ("digests", "bands", "docs")
        }

    def drop(self):
        dedup_index.dedup_index_drop(self.spark, self.name)


class _Embedding:
    def __init__(self, spark, tmp_path, tag):
        self.spark, self.path = spark, str(tmp_path / "idx")
        self.src = tmp_path / "src"
        _stage(self.src, EMB_BATCHES, "vec_id", "embedding")
        base = [
            (c * 20 + i, _vec(c, 0.01 * i), c)
            for c in range(3)
            for i in range(5)
        ]
        similarity.ivf_build(
            spark.createDataFrame(
                base, "vec_id long, embedding array<float>, label int"
            ),
            self.path,
        )

    def start(self, landed, ckpt):
        stream = (
            self.spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(self.src))
        )
        return similarity.streaming_embedding_ingest(
            self.spark, self.path, stream, landed_path=landed,
            checkpoint=ckpt, threshold=0.99, nprobe=2, available_now=True,
        )

    def index(self):
        read = self.spark.read.parquet
        return {
            "corpus": _rows(
                read(f"{self.path}/corpus").select(
                    "vec_id", "label", "embedding"
                )
            ),
            "journal": _rows(read(f"{self.path}/ingest_log")),
        }

    def drop(self):
        pass


FAMILIES = {"text": (_Text, TEXT_LANDED), "embedding": (_Embedding, EMB_LANDED)}


def _run(family, spark, tmp_path, tag):
    """One uncrashed run: (landed rows, index content)."""
    fam = FAMILIES[family][0](spark, tmp_path, tag)
    try:
        landed = str(tmp_path / "landed")
        assert fam.start(landed, str(tmp_path / "ckpt")).awaitTermination(120)
        return _rows(spark.read.parquet(landed)), fam.index()
    finally:
        fam.drop()


@pytest.fixture(scope="module")
def uncrashed(spark, tmp_path_factory):
    cache = {}

    def get(family):
        if family not in cache:
            cache[family] = _run(
                family, spark, tmp_path_factory.mktemp(f"u_{family}"),
                f"u_{family}",
            )
        return cache[family]

    return get


def _crash_once_in(monkeypatch, window):
    """Make the door raise once, in ``window`` of micro-batch 1, by
    wrapping the family callbacks the door is handed."""
    state = {"batch": None, "armed": True}
    real = dedup._ingest_through_index

    def crash(here):
        if here == window and state["batch"] == 1 and state["armed"]:
            state["armed"] = False
            raise _Crash(f"injected crash {window}")

    def door(stream, *, decide, add, **kw):
        def decide_(s, batch_df, batch_id):
            state["batch"] = batch_id
            out = decide(s, batch_df, batch_id)
            crash("before_landing")
            return out

        def add_(s, survivors):
            crash("landing_to_add")
            add(s, survivors)
            crash("add_to_commit")

        return real(stream, decide=decide_, add=add_, **kw)

    monkeypatch.setattr(dedup, "_ingest_through_index", door)
    monkeypatch.setattr(dedup_index, "_ingest_through_index", door)
    return state


@pytest.mark.slow
@pytest.mark.parametrize("window", WINDOWS)
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_crash_matrix(spark, tmp_path, monkeypatch, uncrashed, family, window):
    """Crash once in ``window`` of batch 1, restart on the same
    checkpoint: the landed set and the index content equal the uncrashed
    run's. The one documented exception: a blind append (embeddings)
    that crashed between add and journal leaves batch 1's survivors in
    the corpus exactly once more."""
    want_landed, want_index = uncrashed(family)
    cls, expect = FAMILIES[family]
    assert {(r[0], r[-1]) for r in want_landed} == expect
    fam = cls(spark, tmp_path, f"{family}_{window}")
    landed, ckpt = str(tmp_path / "landed"), str(tmp_path / "ckpt")
    try:
        state = _crash_once_in(monkeypatch, window)
        with pytest.raises(Exception, match="injected crash"):
            fam.start(landed, ckpt).awaitTermination(120)
        assert not state["armed"]
        assert fam.start(landed, ckpt).awaitTermination(120)
        assert _rows(spark.read.parquet(landed)) == want_landed
        got = fam.index()
        if family == "embedding" and window == "add_to_commit":
            again = {r[0] for r in want_landed if r[-1] == 1}
            residue = [r for r in want_index["corpus"] if r[0] in again]
            assert residue
            want_index = dict(
                want_index, corpus=sorted(want_index["corpus"] + residue)
            )
        assert got == want_index
    finally:
        fam.drop()


def test_overwrite_rebuild_clears_ingest_journal(spark, tmp_path):
    """A rebuilt IVF index starts a new ingest history: a stream over it
    (fresh checkpoint) must apply batch 0 again instead of skipping it
    as journaled by the index the rebuild replaced."""
    base = [
        (c * 20 + i, _vec(c, 0.01 * i), c) for c in range(3) for i in range(5)
    ]
    base = spark.createDataFrame(
        base, "vec_id long, embedding array<float>, label int"
    )
    idx = str(tmp_path / "idx")
    src = tmp_path / "src"
    _stage(src, [[(101, _vec(1, 5.0))]], "vec_id", "embedding")

    def ingest(tag):
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).json(str(src))
        q = similarity.streaming_embedding_ingest(
            spark, idx, stream, landed_path=str(tmp_path / f"landed_{tag}"),
            checkpoint=str(tmp_path / f"ckpt_{tag}"), threshold=0.99,
            available_now=True,
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(f"{idx}/corpus").count()

    similarity.ivf_build(base, idx)
    assert ingest("a") == 16
    similarity.ivf_build(base, idx, mode="overwrite")
    assert spark.read.parquet(f"{idx}/corpus").count() == 15
    assert ingest("b") == 16
    assert {
        r.vec_id for r in spark.read.parquet(str(tmp_path / "landed_b")).collect()
    } == {101}
