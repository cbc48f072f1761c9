"""php-ec save-file import: a synthesized reference-format gzip save file
(FileAdapter.php:73-233 shape) round-trips into warm-start state — a
mid-flight sequence saved by the PHP engine completes on a live event in
the Spark engine."""

from __future__ import annotations

import gzip
import json
import time
import uuid

import pytest

from php_ec_spark.engine.core import EngineCore
from php_ec_spark.engine.streaming import correlate_stream
from php_ec_spark.rules import sequence_rule
from php_ec_spark.savefile import import_savefile, load_savefile
from php_ec_spark.streaming import ndjson_dir_source

RULES = lambda: [  # noqa: E731
    sequence_rule(
        "check_payment", ["order_placed", "payment"], key="user_id", timeout="PT20S"
    ),
]
RULE_MAP = {"App\\Rules\\CheckOrderPayment": "check_payment"}


def _savefile_doc() -> dict:
    """What Scheduler::buildState writes: two mid-flight CheckOrderPayment
    matchers (u42, u7), one matcher of an unmapped class, statistics,
    source checkpoints, errored actions, and memory entries."""
    return {
        "engine": {
            "eventstream_live": True,
            "matchers": [
                {
                    "c": "App\\Rules\\CheckOrderPayment",
                    "s": {
                        "events": [101],
                        "id": "0191-a",
                        "actionFired": False,
                        "isTimedOut": False,
                        "context": {},
                        "timeout": "2024-01-01T00:00:20+00:00",
                    },
                },
                {
                    "c": "App\\Rules\\CheckOrderPayment",
                    "s": {
                        "events": [102],
                        "id": "0191-b",
                        "actionFired": False,
                        "isTimedOut": False,
                        "context": {},
                        "timeout": "2024-01-01T00:00:25+00:00",
                    },
                },
                {
                    "c": "App\\Rules\\SomethingElse",
                    "s": {"events": [103], "id": "0191-c"},
                },
            ],
            "events": {
                "101": {
                    "id": 1,
                    "event": "order_placed",
                    "datetime": "2024-01-01T00:00:00.000+00:00",
                    "user_id": 42,
                    "value": 99.5,
                    "sku": "A-1",
                },
                "102": {
                    "id": 2,
                    "event": "order_placed",
                    "datetime": "2024-01-01T00:00:05.000+00:00",
                    "user_id": 7,
                    "value": 10.0,
                },
                "103": {
                    "id": 3,
                    "event": "unrelated",
                    "datetime": "2024-01-01T00:00:06.000+00:00",
                },
            },
            "statistics": {"seen": {"order_placed": 2}},
        },
        "scheduler": {
            "state": "RUNNING",
            "input": {
                "running": ["orders_feed"],
                "checkpoints": {"orders_feed": {"offset": 12345}},
            },
            "actions": {"inflight": [], "errored": [{"cmd": "notify", "n": 1}]},
        },
        "memory": [
            {
                "namespace": "thresholds",
                "key": "max_order",
                "value": 500,
                "expiresAt": None,
            },
            {
                "namespace": "thresholds",
                "key": "stale",
                "value": 1,
                "expiresAt": "2000-01-01T00:00:00+00:00",  # long expired
            },
        ],
    }


@pytest.fixture()
def savefile(tmp_path):
    p = tmp_path / "php-ce.state"
    p.write_bytes(gzip.compress(json.dumps(_savefile_doc()).encode(), 2))
    return str(p)


class TestImport:
    def test_load_handles_gzip_and_plain(self, tmp_path, savefile):
        assert load_savefile(savefile)["scheduler"]["state"] == "RUNNING"
        plain = tmp_path / "plain.state"
        plain.write_text(json.dumps(_savefile_doc()))
        assert load_savefile(str(plain))["scheduler"]["state"] == "RUNNING"

    def test_matchers_become_resumable_blobs(self, spark, savefile):
        imp = import_savefile(spark, savefile, RULES(), RULE_MAP)
        snap = {
            r["__key"]: r["blob"]
            for r in imp.initial_states["user_id"].collect()
        }
        assert sorted(snap) == ["42", "7"]
        # u42's half-matched chain completes on a live payment, exactly as
        # an uninterrupted engine would have
        core = EngineCore.from_state(RULES(), "42", snap["42"])
        assert core.next_deadline() == int((1704067200 + 20) * 1e9)
        core.handle((10, int((1704067200 + 15) * 1e9), "payment", 5.0))
        rows = core.take_rows()
        assert [(r[0], r[2], r[4], r[5]) for r in rows] == [
            ("check_payment", "completed", 1, 10)
        ]

    def test_import_blobs_equal_snapshot_state_of_equivalent_history(
        self, spark, savefile
    ):
        """The importer's replay IS snapshot_state's replay: a savefile
        synthesized from some history must produce byte-identical state
        blobs to snapshot_state over that same history — the invariant
        that makes 'restore from PHP savefile' and 'warm start from batch
        history' the same machine."""
        import datetime as dt

        from php_ec_spark.engine import snapshot_state

        base = dt.datetime(2024, 1, 1)
        history = spark.createDataFrame(
            [
                (1, base, 42, "order_placed", 99.5, None),
                (2, base + dt.timedelta(seconds=5), 7, "order_placed", 10.0, None),
            ],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        want = {
            r["__key"]: r["blob"]
            for r in snapshot_state(history, RULES()).collect()
        }
        imp = import_savefile(spark, savefile, RULES(), RULE_MAP)
        got = {
            r["__key"]: r["blob"]
            for r in imp.initial_states["user_id"].collect()
        }
        assert got == want

    def test_legacy_php_serialized_entries_decode_or_count(self, spark, tmp_path):
        """Pre-2022 save files store matchers/events as PHP serialize()
        strings (CorrelationEngine.php:688-696). Well-formed blobs now
        DECODE (phpserialize.py) and flow through the modern path —
        an O: stdClass matcher surfaces as an unmapped class, an a:0:{}
        state imports as an empty matcher — while malformed blobs are
        counted, never fatal."""
        doc = _savefile_doc()
        doc["engine"]["matchers"].append('O:8:"stdClass":0:{}')
        doc["engine"]["matchers"].append(
            {"c": "App\\Rules\\CheckOrderPayment", "s": 'a:0:{}'}
        )
        doc["engine"]["matchers"].append('O:8:"stdClass"')  # truncated
        doc["engine"]["matchers"].append(
            {"c": "App\\Rules\\CheckOrderPayment", "s": 'E:bogus;'}
        )
        p = tmp_path / "legacy.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        assert imp.legacy_entries == 2  # only the malformed pair
        assert "stdClass" in imp.unmapped_classes  # decoded, not counted
        # the modern entries still import fully
        assert sorted(
            r["__key"] for r in imp.initial_states["user_id"].collect()
        ) == ["42", "7"]

    def test_fully_legacy_savefile_imports_mid_flight_state(
        self, spark, tmp_path
    ):
        """A pre-2022 save file — matchers AND events all PHP-serialize()
        strings — imports with full state. The matcher/event blob shapes
        are the genuine-specimen formats of tests_adhoc/
        74_unserialisation.php (C:json payloads, hash-style object ids);
        the imported matcher must complete on the live payment event."""

        def php_c(cls: str, payload: dict) -> str:
            # C:len:"cls":LEN:{payload} — LEN counts the payload bytes
            # BETWEEN the delimiter braces (hence the {{…}} look of the
            # genuine specimens: the payload is itself a JSON object)
            body = json.dumps(payload, separators=(",", ":"))
            return (
                f'C:{len(cls.encode())}:"{cls}":{len(body.encode())}'
                ":{" + body + "}"
            )

        ev_cls = "EdgeTelemetrics\\EventCorrelation\\Event"
        oid = "00000000000000060000000000000000"  # hash-style object id
        doc = {
            "engine": {
                "eventstream_live": True,
                "matchers": [
                    php_c(
                        "App\\Rules\\CheckOrderPayment",
                        {
                            "events": [oid],
                            "id": "95051be938",
                            "actionFired": False,
                            "isTimedOut": False,
                            "context": [],
                        },
                    )
                ],
                "events": {
                    oid: php_c(
                        ev_cls,
                        {
                            "id": 6,
                            "event": "order_placed",
                            "datetime": "2024-01-01T00:00:00.000+00:00",
                            "user_id": 42,
                            "value": 99.5,
                        },
                    )
                },
            },
        }
        p = tmp_path / "pre2022.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        assert imp.legacy_entries == 0
        blobs = imp.initial_states["user_id"].collect()
        assert [r["__key"] for r in blobs] == ["42"]
        # the restored matcher completes on the live payment event
        core = EngineCore.from_state(RULES(), "42", blobs[0]["blob"])
        core.handle((7, 1704067210_000000000, "payment", 99.5))
        assert [(r[0], r[2]) for r in core.take_rows()] == [
            ("check_payment", "completed")
        ]

    def test_sidecar_sections_surface(self, spark, savefile):
        imp = import_savefile(spark, savefile, RULES(), RULE_MAP)
        assert imp.statistics == {"seen": {"order_placed": 2}}
        assert imp.source_checkpoints == {"orders_feed": {"offset": 12345}}
        assert imp.errored_actions == [{"cmd": "notify", "n": 1}]
        assert imp.unmapped_classes == ["App\\Rules\\SomethingElse"]

    def test_memory_entries_seed_engine_with_ttl(self, spark, savefile):
        imp = import_savefile(spark, savefile, RULES(), RULE_MAP)
        live = {
            (r["namespace"], r["key"]): r["value"]
            for r in imp.memory.live().collect()
        }
        # expired entry dropped by TTL, live entry readable
        assert live == {("thresholds", "max_order"): "500"}

    def test_one_liner_migration_boot(self, spark, tmp_path, savefile):
        """The documented migration one-liner: import_savefile →
        start_correlations(initial_states=...) on a QUIET live stream
        under the processing clock — both mid-flight instances saved by
        the PHP engine time out at their history-armed deadlines, no
        manual kicks, no history DataFrame."""
        import time

        from php_ec_spark.streaming import (
            ActionDispatcher,
            start_correlations,
        )

        imp = import_savefile(spark, savefile, RULES(), RULE_MAP)
        assert imp.max_event_iso == "2024-01-01T00:00:05.000000Z"
        src = tmp_path / "live"
        src.mkdir()
        seen: list = []

        def factory(_k):
            d = ActionDispatcher()
            d.register("capture", fn=seen.extend)
            return d

        group = start_correlations(
            ndjson_dir_source(spark, str(src)), RULES(),
            str(tmp_path / "ck"),
            dispatcher_factory=factory, clock="processing",
            initial_states=imp.initial_states,
            kick_ts=imp.max_event_iso,
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and len(seen) < 2:
                time.sleep(0.3)
        finally:
            group.stop_all()

        got = sorted(
            (r["rule"], r["key"], r["outcome"], str(r["fire_ts"])) for r in seen
        )
        assert got == [
            ("check_payment", "42", "timeout", "2024-01-01 00:00:20"),
            ("check_payment", "7", "timeout", "2024-01-01 00:00:25"),
        ]

    def test_stream_resumes_from_savefile(self, spark, tmp_path, savefile):
        """The migration boot: import → correlate_stream(initial_state=...)
        → the sequence the PHP engine had half-matched completes on a live
        payment; the untouched u7 instance times out at its history-armed
        deadline once the watermark passes."""
        from php_ec_spark.model import CONTROL_MSG_RESTORED

        imp = import_savefile(spark, savefile, RULES(), RULE_MAP)

        src = tmp_path / f"live-{uuid.uuid4().hex[:8]}"
        src.mkdir()
        chunks = [
            [
                {"event_id": -1, "ts": "2024-01-01T00:00:06Z", "user_id": 7,
                 "event_type": CONTROL_MSG_RESTORED, "value": None, "props": None},
                {"event_id": 10, "ts": "2024-01-01T00:00:15Z", "user_id": 42,
                 "event_type": "payment", "value": 99.5, "props": None},
            ],
            [
                {"event_id": 99, "ts": "2024-01-01T03:00:00Z", "user_id": 1,
                 "event_type": "zzz", "value": 0.0, "props": None},
            ],
        ]
        for i, chunk in enumerate(chunks):
            with open(src / f"{i:02d}.json", "w") as f:
                for r in chunk:
                    f.write(json.dumps(r) + "\n")
            time.sleep(0.05)

        emissions = correlate_stream(
            ndjson_dir_source(spark, str(src), max_files_per_trigger=1),
            RULES(),
            initial_state=imp.initial_states["user_id"],
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
             r["start_event_id"], r["last_event_id"])
            for r in collected
        )
        assert got == [
            ("check_payment", "42", "completed", "2024-01-01 00:00:15", 1, 10),
            ("check_payment", "7", "timeout", "2024-01-01 00:00:25", 2, 2),
        ]


class TestPerMatcherReplay:
    """Replay isolation (CorrelationEngine::setState parity): each saved
    matcher reconstructs under ONLY its mapped rule."""

    def test_unsaved_rule_gets_no_fabricated_instances(self, spark, savefile):
        """A rule with no saved matcher — even a match-any one that WOULD
        consume the replayed events live — must come out of the import
        with zero in-flight instances; the reference restores only saved
        matchers (CorrelationEngine.php:698-758)."""
        from php_ec_spark.rules import match_single_continuously

        rules = RULES() + [
            match_single_continuously(
                "greedy", ["*"], key="user_id", timeout="PT1H"
            ),
            sequence_rule(
                "same_types", ["order_placed", "payment"],
                key="user_id", timeout="PT20S",
            ),
        ]
        imp = import_savefile(spark, savefile, rules, RULE_MAP)
        for row in imp.initial_states["user_id"].collect():
            blob = json.loads(row["blob"])
            rules_in_blob = {i["rule"] for i in blob["instances"]}
            assert rules_in_blob == {"check_payment"}, (
                f"key {row['__key']}: fabricated state for {rules_in_blob}"
            )

    def test_timeout_mismatch_flags_contract_violation(self, spark, tmp_path):
        """The PHP engine saved an armed deadline; a mapped rule whose
        TIMEOUT differs re-derives a different one from the same chain —
        the importer must flag it (and stay quiet when they agree, as in
        the standard fixture)."""
        import warnings as _warnings

        doc = _savefile_doc()
        # u42's matcher claims a deadline 60s after its event; the mapped
        # rule arms PT20S -> mismatch. u7's stays consistent (+20s).
        doc["engine"]["matchers"][0]["s"]["timeout"] = "2024-01-01T00:01:00+00:00"
        p = tmp_path / "drift.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        with _warnings.catch_warnings(record=True) as w:
            _warnings.simplefilter("always")
            imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        assert len(imp.timeout_mismatches) == 1
        cls, rname, key, saved, got = imp.timeout_mismatches[0]
        assert (cls, rname, key) == (
            "App\\Rules\\CheckOrderPayment", "check_payment", "42"
        )
        assert saved.startswith("2024-01-01T00:01:00")
        assert got.startswith("2024-01-01T00:00:20")
        assert any("deadline" in str(x.message) for x in w)
        # the blobs themselves still import on both keys
        assert sorted(
            r["__key"] for r in imp.initial_states["user_id"].collect()
        ) == ["42", "7"]

    def test_consistent_savefile_has_no_mismatches(self, spark, savefile):
        imp = import_savefile(spark, savefile, RULES(), RULE_MAP)
        assert imp.timeout_mismatches == []

    @pytest.mark.slow
    def test_import_50k_matchers(self, spark, tmp_path):
        """A pathological 50k-matcher savefile imports in seconds."""
        import gzip as _gz

        n = 50_000
        matchers, events = [], {}
        for i in range(n):
            oid = str(1000 + i)
            events[oid] = {
                "id": i,
                "event": "order_placed",
                "datetime": f"2024-01-01T{(i // 3600) % 24:02d}:"
                f"{(i // 60) % 60:02d}:{i % 60:02d}+00:00",
                "user_id": i,  # one matcher per key
                "value": 1.0,
            }
            matchers.append(
                {
                    "c": "App\\Rules\\CheckOrderPayment",
                    "s": {"events": [oid], "id": f"m{i}", "actionFired": False,
                          "isTimedOut": False, "context": {}},
                }
            )
        doc = {
            "engine": {"matchers": matchers, "events": events, "statistics": {}},
            "scheduler": {},
            "memory": [],
        }
        p = tmp_path / "big.state"
        p.write_bytes(_gz.compress(json.dumps(doc).encode(), 1))

        t0 = time.perf_counter()
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        got = imp.initial_states["user_id"].count()
        dt = time.perf_counter() - t0
        assert got == n
        assert dt < 60, f"50k-matcher import took {dt:.1f}s"


class TestRoundTripFuzz:
    """Export→import round trip on adversarial streams: synthesize the
    PHP FileAdapter document FROM our own snapshot (one matcher per live
    instance, events section from history), import it, and require
    semantic equality with snapshot_state over the same history —
    instance lists must match modulo the seq counter (snapshot seq counts
    dead instances; import renumbers arming order)."""

    @staticmethod
    def _instances(blob: str) -> list:
        d = json.loads(blob)
        return sorted(
            (i["rule"], i["gi"], [tuple(e) for e in i["chain"]], i["deadline_ns"])
            for i in d["instances"]
        )

    @pytest.mark.slow
    def test_fuzz_import_equals_snapshot(self, spark):
        import datetime as dt

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from php_ec_spark.engine import snapshot_state

        T0 = dt.datetime(2024, 1, 1)
        rules = [
            sequence_rule("pay", ["order_placed", "payment"],
                          key="user_id", timeout="PT20S"),
            sequence_rule("ship", ["payment", "shipped"],
                          key="user_id", timeout="PT40S"),
        ]
        rule_map = {"App\\Pay": "pay", "App\\Ship": "ship"}
        by_name = {"pay": "App\\Pay", "ship": "App\\Ship"}

        EVENTS = st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=90),
                st.integers(min_value=1, max_value=3),
                st.sampled_from(["order_placed", "payment", "shipped"]),
            ),
            min_size=1, max_size=12,
        )

        @settings(max_examples=8, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture])
        @given(evs=EVENTS)
        def run(evs):
            rows = [
                (i, T0 + dt.timedelta(seconds=s), u, t, float(i), None)
                for i, (s, u, t) in enumerate(evs)
            ]
            history = spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string",
            )
            snap = {r["__key"]: r["blob"]
                    for r in snapshot_state(history, rules).collect()}
            # synthesize the PHP document from the snapshot's instances
            events_sec, matchers = {}, []
            by_id = {i: (s, u, t, float(i)) for i, (s, u, t) in enumerate(evs)}
            for key, blob in snap.items():
                for inst in json.loads(blob)["instances"]:
                    obj_ids = []
                    for (eid, ts_ns, etype, value) in inst["chain"]:
                        oid = str(eid)
                        s_off, u, t, v = by_id[eid]
                        events_sec[oid] = {
                            "id": eid,
                            "event": t,
                            "datetime": (
                                T0 + dt.timedelta(seconds=s_off)
                            ).strftime("%Y-%m-%dT%H:%M:%S+00:00"),
                            "user_id": u,
                            "value": v,
                        }
                        obj_ids.append(oid)
                    matchers.append({
                        "c": by_name[inst["rule"]],
                        "s": {"events": obj_ids, "id": "x",
                              "context": {}, "actionFired": False},
                    })
            import gzip as _gz
            import tempfile

            doc = {"engine": {"matchers": matchers, "events": events_sec,
                              "statistics": {}}, "scheduler": {}, "memory": []}
            with tempfile.NamedTemporaryFile(suffix=".state", delete=False) as f:
                f.write(_gz.compress(json.dumps(doc).encode(), 1))
                path = f.name
            imp = import_savefile(spark, path, rules, rule_map)
            got = {
                r["__key"]: r["blob"]
                for r in imp.initial_states.get("user_id", spark.createDataFrame(
                    [], "__key string, blob string")).collect()
            } if imp.initial_states else {}
            want_sem = {k: self._instances(b) for k, b in snap.items()
                        if json.loads(b)["instances"]}
            got_sem = {k: self._instances(b) for k, b in got.items()}
            assert got_sem == want_sem

        run()


class TestLegacyEdgeShapes:
    def test_foreign_shaped_event_blob_counts_not_crashes(
        self, spark, tmp_path
    ):
        """A decodable legacy event blob that is NOT Event-shaped (foreign
        class, or datetime null) must count-and-skip, never abort the
        import with a KeyError."""
        doc = _savefile_doc()
        doc["engine"]["events"]["101"] = 'O:8:"stdClass":1:{s:1:"x";i:1;}'
        doc["engine"]["events"]["102"] = (
            'C:38:"EdgeTelemetrics\\EventCorrelation\\Event":55:'
            '{{"id":2,"event":"order_placed","datetime":null,"user_id":7}}'
        )
        p = tmp_path / "foreign.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        assert imp.legacy_entries == 2
        assert imp.initial_states == {}  # both matchers lost their event

    def test_noncontiguous_legacy_events_array_keeps_oids(
        self, spark, tmp_path
    ):
        """A legacy O:-form matcher whose events array has non-contiguous
        integer keys (the engine unset a consumed slot) decodes to a dict
        — the object ids are its VALUES and must still resolve."""
        doc = _savefile_doc()
        doc["engine"]["matchers"] = [
            'O:27:"App\\Rules\\CheckOrderPayment":2:'
            '{s:6:"events";a:1:{i:1;s:3:"101";}s:2:"id";s:4:"abcd";}'
        ]
        p = tmp_path / "sparse.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        assert imp.legacy_entries == 0
        assert [r["__key"] for r in imp.initial_states["user_id"].collect()] \
            == ["42"]

    def test_custom_event_mapper_sees_nonstandard_shapes(
        self, spark, tmp_path
    ):
        """The event/datetime shape gate encodes the DEFAULT mapper's
        needs; a caller-supplied event_mapper targeting a differently
        shaped events section must still receive every dict entry (the
        gate previously counted them all as legacy and the custom mapper
        never ran)."""
        doc = _savefile_doc()
        doc["engine"]["events"] = {
            "101": {"type": "order_placed", "at": 0, "uid": 42, "amt": 99.5},
            "102": {"type": "order_placed", "at": 5, "uid": 7, "amt": 10.0},
            "103": {"type": "unrelated", "at": 6},
        }
        p = tmp_path / "custom.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))

        from datetime import datetime

        def mapper(obj_id, ev):
            return {
                "event_id": int(obj_id),
                "event_type": ev["type"],
                "ts": datetime(2024, 1, 1, 0, 0, ev["at"]),
                "user_id": ev.get("uid"),
                "value": ev.get("amt"),
                "props": "{}",
            }

        imp = import_savefile(
            spark, str(p), RULES(), RULE_MAP, event_mapper=mapper
        )
        assert imp.legacy_entries == 0
        assert sorted(
            r["__key"] for r in imp.initial_states["user_id"].collect()
        ) == ["42", "7"]


class TestSectionShapeRobustness:
    def test_dict_shaped_matchers_and_memory_sections_import(
        self, spark, tmp_path
    ):
        """json_encode of a non-contiguous PHP array emits an OBJECT: a
        dict-shaped matchers/memory section must iterate VALUES — key
        iteration silently discarded every mid-flight matcher."""
        doc = _savefile_doc()
        doc["engine"]["matchers"] = {
            str(i * 2): m for i, m in enumerate(doc["engine"]["matchers"])
        }
        doc["memory"] = {"5": doc["memory"][0], "9": doc["memory"][1]}
        p = tmp_path / "objshape.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        assert sorted(
            r["__key"] for r in imp.initial_states["user_id"].collect()
        ) == ["42", "7"]
        assert imp.memory is not None
        assert imp.memory.entries.count() == 2

    def test_modern_malformed_events_count_not_crash(self, spark, tmp_path):
        """Null datetime / missing event / unparseable datetime in MODERN
        dict entries must count-and-skip like the legacy path — and a bad
        event shared by several matchers counts ONCE."""
        doc = _savefile_doc()
        doc["engine"]["events"]["101"] = {
            "id": 1, "event": "order_placed", "datetime": None,
        }
        doc["engine"]["events"]["102"] = {
            "id": 2, "event": "order_placed", "datetime": "not-a-date",
        }
        # matcher 0 references both bad events; matcher 1 shares 101
        doc["engine"]["matchers"][0]["s"]["events"] = [101, 102]
        doc["engine"]["matchers"][1]["s"]["events"] = [101]
        p = tmp_path / "badmodern.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        # 101 counted once (shared), 102 once
        assert imp.legacy_entries == 2
        assert imp.initial_states == {}

    def test_nonstring_timeout_and_bad_memory_expiry_skip(
        self, spark, tmp_path
    ):
        doc = _savefile_doc()
        doc["engine"]["matchers"][0]["s"]["timeout"] = 1704067220  # epoch int
        doc["memory"].append(
            {"namespace": "ns", "key": "bad", "value": 1,
             "expiresAt": "not-a-date"}
        )
        p = tmp_path / "weird.state"
        p.write_bytes(gzip.compress(json.dumps(doc).encode(), 2))
        imp = import_savefile(spark, str(p), RULES(), RULE_MAP)
        # both matchers still import; the numeric timeout just skips the
        # cross-check; the malformed memory entry is skipped and counted
        assert sorted(
            r["__key"] for r in imp.initial_states["user_id"].collect()
        ) == ["42", "7"]
        assert imp.timeout_mismatches == []
        assert imp.legacy_entries == 1
        assert imp.memory.entries.filter("key = 'bad'").count() == 0


def test_memory_hub_pre_bind_delete_stays_deleted(tmp_path):
    """A delete issued before bind() must not be resurrected by the
    snapshot reload."""
    from php_ec_spark.memory import MemoryHub

    hub = MemoryHub(str(tmp_path))
    hub.write("ns", "stale", {"v": 1})
    hub.write("ns", "keep", {"v": 2})

    hub2 = MemoryHub()
    hub2.write("ns", "stale", None)  # drop the bad learned value pre-bind
    hub2.bind(str(tmp_path))
    assert hub2.get("ns", "stale") is None
    assert hub2.get("ns", "keep") == {"v": 2}
