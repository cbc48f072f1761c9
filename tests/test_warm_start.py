"""Warm start: batch snapshot → live streaming resume.

The reference boots by restoring its save file, injecting
CONTROL_MSG_RESTORED_STATE, and only then going live (Scheduler.php:
695-947). Here: ``snapshot_state`` replays history in batch and captures
per-key serialized EngineCore (no end-of-stream drain); feeding it to
``correlate_stream(initial_state=...)`` resumes matching mid-sequence —
chains span the snapshot boundary, deadlines armed in history still fire.
"""

from __future__ import annotations

import pytest
import json
import time
import uuid

from php_ec_spark.engine import snapshot_state
from php_ec_spark.engine.core import EngineCore
from php_ec_spark.engine.streaming import correlate_stream
from php_ec_spark.model import CONTROL_MSG_RESTORED
from php_ec_spark.rules import sequence_rule
from php_ec_spark.streaming import ndjson_dir_source

RULES = lambda: [  # noqa: E731 — fresh Rule objects per engine run
    sequence_rule("seq", ["a", "b"], key="user_id", timeout="PT20S"),
]


def _history_df(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # u1: pending (a consumed, waiting for b; deadline 00:00:20)
    # u2: pending (deadline 00:00:20)
    # u3: completed in history — nothing live to snapshot
    rows = [
        (1, base, 1, "a", 1.0, None),
        (2, base, 2, "a", 2.0, None),
        (3, base, 3, "a", 3.0, None),
        (4, base + dt.timedelta(seconds=10), 3, "b", 4.0, None),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


class TestSnapshotState:
    def test_snapshot_captures_only_inflight_keys(self, spark):
        snap = {
            r["__key"]: r["blob"]
            for r in snapshot_state(_history_df(spark), RULES()).collect()
        }
        assert sorted(snap) == ["1", "2"]  # u3 completed → nothing live

        core = EngineCore.from_state(RULES(), "1", snap["1"])
        assert core.has_live()
        # deadline = a.ts + PT20S
        assert core.next_deadline() == int(
            (1704067200 + 20) * 1e9
        )  # 2024-01-01T00:00:20Z

    def test_snapshot_blob_resumes_in_core(self, spark):
        """Pure-python continuation: blob + live event ≡ uninterrupted run."""
        snap = {
            r["__key"]: r["blob"]
            for r in snapshot_state(_history_df(spark), RULES()).collect()
        }
        t0 = int(1704067200 * 1e9)
        resumed = EngineCore.from_state(RULES(), "1", snap["1"])
        resumed.handle((10, t0 + int(10e9), "b", 5.0))

        full = EngineCore(RULES(), "1")
        full.handle((1, t0, "a", 1.0))
        full.handle((10, t0 + int(10e9), "b", 5.0))
        assert resumed.take_rows() == full.take_rows()

    def test_unconsumed_history_advances_replay_clock(self, spark):
        """The engine clock advances on EVERY event, consumed or not
        (CorrelationEngine.php:199). An unconsumed-type event past a key's
        deadline must fire-and-discard the pending instance during replay —
        were history prefiltered to consumed types, the instance would
        survive into the snapshot and the warm-started query would re-emit
        a timeout the history replay already reported."""
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = [
            (1, base, 1, "a", 1.0, None),  # deadline base+20s
            # unconsumed type, 60s later: replay must sweep the deadline
            (2, base + dt.timedelta(seconds=60), 1, "zzz_unconsumed", 0.0, None),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        assert snapshot_state(df, RULES()).collect() == []

    def test_keyless_snapshot_key(self, spark):
        # a→c never completes in history (no c) → three live instances
        # under the single synthetic key
        rules = [sequence_rule("k", ["a", "c"], key=None, timeout="PT20S")]
        snap = snapshot_state(_history_df(spark), rules).collect()
        assert [r["__key"] for r in snap] == ["__all__"]
        core = EngineCore.from_state(rules, None, snap[0]["blob"])
        assert sum(len(v) for v in core.live.values()) == 3


class TestWarmStartStream:
    def test_stream_resumes_from_snapshot(self, spark, tmp_path):
        """Live stream seeded with the history snapshot: u1's half-matched
        sequence completes across the boundary; u2 (kicked by the in-band
        Restored control row, never matched again) times out at its
        history-armed deadline; u3 stays silent."""
        snapshot = snapshot_state(_history_df(spark), RULES())

        src = tmp_path / f"live-{uuid.uuid4().hex[:8]}"
        src.mkdir()
        live = [
            # in-band restore kicks (Scheduler.php:730-737): touch every
            # restored key so pending deadlines get armed
            {"event_id": -2, "ts": "2024-01-01T00:00:10Z", "user_id": 1,
             "event_type": CONTROL_MSG_RESTORED, "value": None, "props": None},
            {"event_id": -1, "ts": "2024-01-01T00:00:10Z", "user_id": 2,
             "event_type": CONTROL_MSG_RESTORED, "value": None, "props": None},
            {"event_id": 10, "ts": "2024-01-01T00:00:15Z", "user_id": 1,
             "event_type": "b", "value": 5.0, "props": None},
        ]
        sentinel = [
            {"event_id": 99, "ts": "2024-01-01T03:00:00Z", "user_id": 1,
             "event_type": "zzz", "value": 0.0, "props": None},
        ]
        for i, chunk in enumerate((live, sentinel)):
            with open(src / f"{i:02d}.json", "w") as f:
                for r in chunk:
                    f.write(json.dumps(r) + "\n")
            time.sleep(0.05)  # distinct mtimes → deterministic file order

        emissions = correlate_stream(
            ndjson_dir_source(spark, str(src), max_files_per_trigger=1),
            RULES(),
            initial_state=snapshot,
        )
        collected: list = []
        q = (
            emissions.writeStream
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .foreachBatch(lambda df, _b: collected.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=180)

        got = sorted(
            (r["rule"], r["key"], r["outcome"], str(r["fire_ts"]),
             r["start_event_id"], r["last_event_id"], r["n_events"])
            for r in collected
        )
        assert got == [
            # u1: chain STARTED IN HISTORY (event_id 1) completes on live b
            ("seq", "1", "completed", "2024-01-01 00:00:15", 1, 10, 2),
            # u2: deadline armed in history fires when the watermark passes
            ("seq", "2", "timeout", "2024-01-01 00:00:20", 2, 2, 1),
        ]

    def test_drained_restore_key_does_not_resurrect(self, spark, tmp_path):
        """After a restored key completes, later batches for that key must
        start FRESH instances — the broadcast snapshot may not re-apply."""
        snapshot = snapshot_state(_history_df(spark), RULES())

        src = tmp_path / f"live-{uuid.uuid4().hex[:8]}"
        src.mkdir()
        chunks = [
            # completes the restored u1 instance → state drained
            [{"event_id": 10, "ts": "2024-01-01T00:00:05Z", "user_id": 1,
              "event_type": "b", "value": 5.0, "props": None}],
            # were the snapshot re-applied, this b would complete a
            # resurrected chain; correct behavior: b alone starts nothing
            [{"event_id": 11, "ts": "2024-01-01T00:00:08Z", "user_id": 1,
              "event_type": "b", "value": 6.0, "props": None}],
            [{"event_id": 99, "ts": "2024-01-01T03:00:00Z", "user_id": 1,
              "event_type": "zzz", "value": 0.0, "props": None}],
        ]
        for i, chunk in enumerate(chunks):
            with open(src / f"{i:02d}.json", "w") as f:
                for r in chunk:
                    f.write(json.dumps(r) + "\n")
            time.sleep(0.05)  # distinct mtimes → deterministic file order

        emissions = correlate_stream(
            ndjson_dir_source(spark, str(src), max_files_per_trigger=1),
            RULES(),
            initial_state=snapshot,
        )
        collected: list = []
        q = (
            emissions.writeStream
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .foreachBatch(lambda df, _b: collected.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=180)

        u1 = sorted(
            (r["outcome"], r["start_event_id"], r["last_event_id"])
            for r in collected if r["key"] == "1"
        )
        assert u1 == [("completed", 1, 10)]


class TestSnapshotRoundtripFuzz:
    """Serialize → restore mid-stream must be invisible: for ANY event
    stream and ANY split point, (handle prefix, to_state, from_state,
    handle suffix) emits exactly what an uninterrupted run emits."""

    def test_roundtrip_any_split(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        rules = lambda: [  # noqa: E731
            sequence_rule("s3", ["a", "b", "c"], key="user_id", timeout="PT25S"),
            sequence_rule("s2", ["b", "a"], key="user_id", timeout="PT10S"),
        ]
        t0 = 1704067200

        @settings(max_examples=200, deadline=None)
        @given(
            evs=st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=60),
                    st.sampled_from(["a", "b", "c"]),
                ),
                min_size=1,
                max_size=12,
            ),
            cut=st.integers(min_value=0, max_value=12),
        )
        def run(evs, cut):
            evs = sorted(
                (int((t0 + s) * 1e9), i, t) for i, (s, t) in enumerate(evs)
            )
            cut = min(cut, len(evs))

            full = EngineCore(rules(), "k")
            for ts, i, t in evs:
                full.handle((i, ts, t, float(i)))
            full.fire_due(None)
            want = full.take_rows()

            head = EngineCore(rules(), "k")
            for ts, i, t in evs[:cut]:
                head.handle((i, ts, t, float(i)))
            got = head.take_rows()
            tail = EngineCore.from_state(rules(), "k", head.to_state())
            for ts, i, t in evs[cut:]:
                tail.handle((i, ts, t, float(i)))
            tail.fire_due(None)
            got += tail.take_rows()
            assert got == want

        run()


class TestWarmStartBoundaryFuzz:
    """Spark-level: for random streams and a random snapshot boundary,
    snapshot(history) + warm-started live stream must emit exactly the
    post-boundary suffix of an uninterrupted batch replay. Each example
    costs a full streaming query, so examples are few but adversarial
    (duplicate timestamps, boundary on a timestamp tie, interleaved keys).
    """

    def _expected(self, rules, evs_hist, evs_live, kicks, sentinel_ns):
        """Uninterrupted EngineCore replay per key, dropping everything
        emitted while the history prefix was processed."""
        import pandas as pd

        by_key: dict = {}
        for phase, evs in (("h", evs_hist), ("l", kicks + evs_live)):
            for ev in sorted(evs, key=lambda e: (e[1], e[0])):
                by_key.setdefault(ev[4], []).append((phase, ev))
        rows = []
        for key, seq in by_key.items():
            core = EngineCore(rules(), key)
            for phase, (i, ts, t, v, _u) in seq:
                core.handle((i, ts, t, v))
                if phase == "h":
                    core.take_rows()  # pre-boundary emissions don't re-emit
                else:
                    rows.extend(core.take_rows())
            core.fire_due(sentinel_ns)  # global watermark passes everything
            rows.extend(core.take_rows())
        return sorted(
            (r[0], r[1], r[2], str(pd.to_datetime(r[3], unit="ns")), r[4], r[5], r[6])
            for r in rows
        )

    @pytest.mark.slow
    def test_boundary_parity(self, spark, tmp_path):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        rules = lambda: [  # noqa: E731
            sequence_rule("seq", ["a", "b"], key="user_id", timeout="PT20S"),
        ]
        t0 = 1704067200

        @settings(
            max_examples=3, deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            evs=st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=50),
                    st.integers(min_value=1, max_value=2),
                    st.sampled_from(["a", "b"]),
                ),
                min_size=2,
                max_size=8,
            ),
            cut_frac=st.floats(min_value=0.2, max_value=0.8),
        )
        def run(evs, cut_frac):
            evs = sorted(enumerate(evs), key=lambda p: (p[1][0], p[0]))
            all_evs = [
                (i, int((t0 + s) * 1e9), t, float(i), u)
                for i, (_o, (s, u, t)) in enumerate(evs)
            ]
            cut = max(1, int(len(all_evs) * cut_frac))
            hist, live = all_evs[:cut], all_evs[cut:]
            cut_ns = hist[-1][1]
            sentinel_ns = int((t0 + 4 * 3600) * 1e9)

            import datetime as dt

            hist_df = spark.createDataFrame(
                [
                    (i, dt.datetime.utcfromtimestamp(ts / 1e9), u, t, v, None)
                    for i, ts, t, v, u in hist
                ],
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string",
            )
            snapshot = snapshot_state(hist_df, rules())
            snap_keys = [r["__key"] for r in snapshot.collect()]
            kicks = [
                (-(j + 1), cut_ns, CONTROL_MSG_RESTORED, None, int(k))
                for j, k in enumerate(sorted(snap_keys))
            ]

            src = tmp_path / f"fz-{uuid.uuid4().hex[:8]}"
            src.mkdir()
            def jrow(i, ts_ns, t, v, u):
                iso = dt.datetime.utcfromtimestamp(ts_ns / 1e9).strftime(
                    "%Y-%m-%dT%H:%M:%SZ"
                )
                return {"event_id": i, "ts": iso, "user_id": u,
                        "event_type": t, "value": v, "props": None}
            chunks = [
                [jrow(*e) for e in kicks + live],
                [jrow(99, sentinel_ns, "zzz", 0.0, 1)],
            ]
            for i, chunk in enumerate(chunks):
                with open(src / f"{i:02d}.json", "w") as f:
                    for r in chunk:
                        f.write(json.dumps(r) + "\n")
                time.sleep(0.05)

            emissions = correlate_stream(
                ndjson_dir_source(spark, str(src), max_files_per_trigger=1),
                rules(),
                initial_state=snapshot,
            )
            collected: list = []
            q = (
                emissions.writeStream
                .option("checkpointLocation", str(tmp_path / f"ck-{uuid.uuid4().hex[:8]}"))
                .outputMode("append")
                .foreachBatch(lambda df, _b: collected.extend(df.collect()))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(timeout=180)
            got = sorted(
                (r["rule"], r["key"], r["outcome"], str(r["fire_ts"]),
                 r["start_event_id"], r["last_event_id"], r["n_events"])
                for r in collected
            )
            assert got == self._expected(rules, hist, live, kicks, sentinel_ns)

        run()
