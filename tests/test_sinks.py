"""ActionDispatcher paths: chunked driver dispatch, executor-side
distributed dispatch, cross-run batch markers, errored-action replay
(SURVEY S6-S8, W12; reference ActionExecutionCoordinator.php:98-296,
Scheduler.php:766-884)."""

import json
import os

import pytest

from php_ec_spark.streaming.sinks import ActionDispatcher


def _emissions(spark, n=5, rule="r1"):
    return spark.createDataFrame(
        [(rule, str(i), "completed", i) for i in range(n)],
        "rule string, key string, outcome string, last_event_id long",
    )


class TestDriverPath:
    def test_chunked_dispatch_never_buffers_more_than_chunk(self, spark):
        calls: list[int] = []
        rows_seen: list[dict] = []

        def act(rows):
            calls.append(len(rows))
            rows_seen.extend(rows)

        d = ActionDispatcher(chunk_size=2)
        d.register("a", fn=act, rules=["r1"])
        d(_emissions(spark, n=5), batch_id=0)
        assert sum(calls) == 5 and max(calls) <= 2
        assert {r["key"] for r in rows_seen} == {"0", "1", "2", "3", "4"}
        # one aggregated completed entry per action per batch
        assert d.completed == [(0, "a", 5)]

    def test_failed_chunk_quarantined_not_fatal(self, spark):
        def bad(rows):
            raise RuntimeError("boom")

        d = ActionDispatcher()
        d.register("bad", fn=bad, rules=["r1"])
        d(_emissions(spark, n=3), batch_id=0)
        assert d.completed == []
        assert len(d.failed) == 1 and d.failed[0][1] == "bad"


def _spy_fetches(monkeypatch, cls) -> list[str]:
    """Record every ``collect``/``toLocalIterator`` call on ``cls`` frames."""
    fetches: list[str] = []
    for name in ("collect", "toLocalIterator"):
        def spy(self, *a, _orig=getattr(cls, name), _name=name, **kw):
            fetches.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, spy)
    return fetches


class TestPinnedFetch:
    """A pinned batch within ``COLLECT_BUDGET_BYTES`` reaches the driver in
    one ``collect()`` (one Spark job); over the budget it streams through
    ``toLocalIterator`` (one job per partition). Rows, their order and the
    exactly-once markers are the same either way."""

    @pytest.fixture
    def pinned(self, spark):
        # one pin serves every dispatch of a test: a second shuffle could
        # order the rows of a partition differently
        df = _emissions(spark, n=40).repartition(4, "key")
        df = df.localCheckpoint(eager=True)
        yield df
        df.unpersist()

    def _dispatch(self, pinned, tmp_path, monkeypatch, budget=None):
        from php_ec_spark.streaming import sinks

        if budget is not None:
            monkeypatch.setattr(sinks, "COLLECT_BUDGET_BYTES", budget)
        fetches = _spy_fetches(monkeypatch, type(pinned))
        seen: list[dict] = []
        ckpt = tmp_path / f"budget-{budget}"
        d = ActionDispatcher(checkpoint_dir=str(ckpt), chunk_size=7)
        d.register("a", fn=seen.extend, rules=["r1"])
        d(pinned, batch_id=3, pre_materialized=True)
        monkeypatch.undo()
        assert os.path.exists(ckpt / "actions" / "batch_3.done")
        assert d.completed == [(3, "a", 40)] and d.failed == []
        return fetches, [r["key"] for r in seen]

    def test_pinned_batch_is_one_collect(self, pinned, tmp_path, monkeypatch):
        fetches, keys = self._dispatch(pinned, tmp_path, monkeypatch)
        assert fetches == ["collect"]
        assert sorted(keys) == sorted(str(i) for i in range(40))

    def test_over_budget_iterates_same_rows_in_same_order(
        self, pinned, tmp_path, monkeypatch
    ):
        _, collected = self._dispatch(pinned, tmp_path, monkeypatch)
        fetches, iterated = self._dispatch(pinned, tmp_path, monkeypatch, budget=0)
        assert fetches == ["toLocalIterator"]
        assert iterated == collected

    def test_dispatcher_pin_is_one_collect(self, spark, monkeypatch):
        em = _emissions(spark, n=5).repartition(3)
        fetches = _spy_fetches(monkeypatch, type(em))
        seen: list[dict] = []
        d = ActionDispatcher()
        d.register("a", fn=seen.extend, rules=["r1"])
        d(em, batch_id=0)
        assert fetches == ["collect"] and len(seen) == 5


class TestDistributedPath:
    def test_runs_on_executors_without_driver_collect(self, spark, tmp_path):
        out = tmp_path / "sink"
        out.mkdir()

        def write_rows(rows, _out=str(out)):
            # executor-side: local[*] shares the filesystem with the test
            path = os.path.join(_out, f"{os.getpid()}-{id(rows)}.json")
            with open(path, "w") as f:
                json.dump(rows, f, default=str)

        d = ActionDispatcher()
        d.register("dist", fn=write_rows, rules=["r1"], distributed=True)
        d(_emissions(spark, n=20).repartition(4), batch_id=0)
        got = []
        for fname in os.listdir(out):
            with open(out / fname) as f:
                got.extend(r["key"] for r in json.load(f))
        assert sorted(got, key=int) == [str(i) for i in range(20)]
        assert sum(n for _b, _a, n in d.completed) == 20

    def test_distributed_failure_reported_to_driver_log(self, spark):
        def bad(rows):
            raise RuntimeError("exec-side boom")

        d = ActionDispatcher()
        d.register("bad", fn=bad, rules=["r1"], distributed=True)
        d(_emissions(spark, n=3), batch_id=0)
        assert d.completed == []
        assert d.failed and "exec-side boom" in d.failed[0][3]

    def test_mixed_routing_driver_and_executor(self, spark, tmp_path):
        marker = tmp_path / "dist_rows.jsonl"
        driver_rows: list[dict] = []

        def dist(rows, _p=str(marker)):
            with open(_p, "a") as f:
                for r in rows:
                    f.write(json.dumps(r, default=str) + "\n")

        d = ActionDispatcher()
        d.register("dist", fn=dist, rules=["hot"], distributed=True)
        d.register("drv", fn=lambda rows: driver_rows.extend(rows), rules=["cold"])
        df = _emissions(spark, n=4, rule="hot").unionByName(
            _emissions(spark, n=3, rule="cold")
        )
        d(df, batch_id=0)
        assert len(driver_rows) == 3 and all(r["rule"] == "cold" for r in driver_rows)
        with open(marker) as f:
            dist_rows = [json.loads(line) for line in f]
        assert len(dist_rows) == 4 and all(r["rule"] == "hot" for r in dist_rows)


class TestCrossRunMarkers:
    def test_restarted_dispatcher_skips_done_batch(self, spark, tmp_path):
        seen1, seen2 = [], []
        d1 = ActionDispatcher(checkpoint_dir=str(tmp_path))
        d1.register("a", fn=lambda rows: seen1.extend(rows), rules=["r1"])
        d1(_emissions(spark), batch_id=7)
        assert len(seen1) == 5

        # fresh dispatcher, same checkpoint dir = a restarted run replaying
        # the same micro-batch: must NOT double-dispatch (W12)
        d2 = ActionDispatcher(checkpoint_dir=str(tmp_path))
        d2.register("a", fn=lambda rows: seen2.extend(rows), rules=["r1"])
        d2(_emissions(spark), batch_id=7)
        assert seen2 == [] and d2.completed == []
        # ...but a NEW batch id goes through
        d2(_emissions(spark), batch_id=8)
        assert len(seen2) == 5

    def test_no_checkpoint_dir_keeps_in_memory_dedup_only(self, spark):
        seen = []
        d = ActionDispatcher()
        d.register("a", fn=lambda rows: seen.extend(rows), rules=["r1"])
        d(_emissions(spark), batch_id=1)
        d(_emissions(spark), batch_id=1)
        assert len(seen) == 5


class TestErroredReplay:
    def test_journal_then_replay_succeeds(self, spark, tmp_path):
        state = {"fail": True}
        seen: list[dict] = []

        def flaky(rows):
            if state["fail"]:
                raise RuntimeError("transient")
            seen.extend(rows)

        d = ActionDispatcher(checkpoint_dir=str(tmp_path))
        d.register("flaky", fn=flaky, rules=["r1"])
        d(_emissions(spark, n=3), batch_id=0)
        assert d.failed and not seen
        errored = os.listdir(tmp_path / "errored")
        assert len(errored) == 1

        # next run: the action works again; replay before sources start
        state["fail"] = False
        out = d.replay_errored()
        assert out == {"replayed": 1, "halted": 0}
        assert len(seen) == 3
        assert os.listdir(tmp_path / "errored") == []

    def test_distributed_failure_journaled_and_replayed_after_restart(
        self, spark, tmp_path
    ):
        """W12 unification: a FAILED distributed action's payload ships
        back in the status rows and lands in the same checkpoint_dir/
        errored/ journal as driver-path failures — a restarted run replays
        it exactly like the reference's errored-action recovery."""
        import glob

        flag = tmp_path / "fail.flag"
        flag.write_text("1")
        sink_dir = tmp_path / "sunk"
        sink_dir.mkdir()

        def sometimes(rows, _flag=str(flag), _out=str(sink_dir)):
            # executor-side in run 1 (flag present → fail), driver-side
            # replay in run 2 (flag removed → write through)
            if os.path.exists(_flag):
                raise RuntimeError("downstream outage")
            with open(os.path.join(_out, f"{os.getpid()}-{id(rows)}.json"), "w") as f:
                json.dump(rows, f, default=str)

        d1 = ActionDispatcher(checkpoint_dir=str(tmp_path))
        d1.register("notify", fn=sometimes, rules=["r1"], distributed=True)
        d1(_emissions(spark, n=4).repartition(2), batch_id=0)
        assert d1.completed == [] and d1.failed
        journal = os.listdir(tmp_path / "errored")
        assert journal and all(f.startswith("notify-") for f in journal)

        # restart: outage over, fresh dispatcher replays the journal
        flag.unlink()
        d2 = ActionDispatcher(checkpoint_dir=str(tmp_path))
        d2.register("notify", fn=sometimes, rules=["r1"], distributed=True)
        out = d2.replay_errored()
        assert out["replayed"] == len(journal) and out["halted"] == 0
        assert os.listdir(tmp_path / "errored") == []
        replayed = []
        for fname in glob.glob(str(sink_dir / "*.json")):
            with open(fname) as f:
                replayed.extend(r["key"] for r in json.load(f))
        assert sorted(replayed, key=int) == ["0", "1", "2", "3"]

    def test_halt_after_max_attempts(self, spark, tmp_path):
        def always_bad(rows):
            raise RuntimeError("permanent")

        d = ActionDispatcher(checkpoint_dir=str(tmp_path))
        d.register("bad", fn=always_bad, rules=["r1"])
        d(_emissions(spark, n=2), batch_id=0)
        assert len(os.listdir(tmp_path / "errored")) == 1

        # journaled with attempts=1; two failed replays reach the 3-attempt
        # halt (Scheduler.php:766-792) and the payload is parked, not retried
        assert d.replay_errored() == {"replayed": 0, "halted": 0}
        assert d.replay_errored() == {"replayed": 0, "halted": 1}
        files = os.listdir(tmp_path / "errored")
        assert len(files) == 1 and files[0].endswith(".halted")
        assert d.replay_errored() == {"replayed": 0, "halted": 0}


class TestJsonSchemaValidation:
    """S8: the reference validates action params against a JSON-Schema
    document (AEC.php:230-239) — the mini validator covers the used subset."""

    SCHEMA = {
        "type": "object",
        "required": ["rule", "key"],
        "properties": {
            "rule": {"type": "string"},
            "key": {"type": "string", "minLength": 1},
            "outcome": {"enum": ["completed", "timeout"]},
            "n_events": {"type": "integer", "minimum": 1},
        },
    }

    def test_valid_rows_dispatch(self, spark):
        seen = []
        d = ActionDispatcher()
        d.register("a", fn=seen.extend, schema=self.SCHEMA, rules=["r1"])
        df = spark.createDataFrame(
            [("r1", "k", "completed", 2)],
            "rule string, key string, outcome string, n_events long",
        )
        d(df, batch_id=0)
        assert len(seen) == 1 and not d.failed

    def test_schema_violations_quarantine(self, spark):
        d = ActionDispatcher()
        d.register("a", fn=lambda rows: None, schema=self.SCHEMA, rules=["r1"])
        df = spark.createDataFrame(
            [("r1", "k", "exploded", 0)],  # bad enum + minimum
            "rule string, key string, outcome string, n_events long",
        )
        d(df, batch_id=0)
        assert len(d.failed) == 1
        err = d.failed[0][3]
        assert "enum" in err and "minimum" in err

    def test_unit_validator_nested(self):
        from php_ec_spark.streaming.schema import validate_json_schema

        schema = {
            "type": "object",
            "required": ["tags"],
            "properties": {
                "tags": {"type": "array", "minItems": 1,
                         "items": {"type": "string", "pattern": "^[a-z]+$"}},
                "level": {"type": ["integer", "null"], "maximum": 5},
            },
            "additionalProperties": False,
        }
        assert validate_json_schema({"tags": ["ab"], "level": 3}, schema) == []
        errs = validate_json_schema({"tags": [], "level": 9, "x": 1}, schema)
        assert any("minItems" in e for e in errs)
        assert any("maximum" in e for e in errs)
        assert any("additional properties" in e for e in errs)
        errs = validate_json_schema({"tags": ["AB!"]}, schema)
        assert any("pattern" in e for e in errs)


def test_replayed_batch_is_consumed_not_just_skipped(spark, tmp_path):
    """Crash-replay regression (Spark 4 state-store commit validation):
    a batch whose marker already exists must be DRAINED, not
    early-returned — an unconsumed micro-batch fails a restarted
    stateful query with STATE_STORE_COMMIT_VALIDATION_FAILED. Pre-marking
    batch 0 simulates 'dispatched, then crashed before stream commit'."""
    import json as _json
    import os as _os

    from php_ec_spark.rules import sequence_rule
    from php_ec_spark.streaming import (
        ActionDispatcher,
        ndjson_dir_source,
        start_correlation,
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in range(50):
            f.write(_json.dumps({
                "event_id": i, "ts": "2024-01-01T00:00:00Z",
                "user_id": i % 5, "event_type": "order_placed",
                "value": 1.0, "props": None,
            }) + "\n")
    ck = str(tmp_path / "ck")
    seen: list = []
    d = ActionDispatcher(checkpoint_dir=ck)
    d.register("cap", fn=seen.extend)
    # simulate: dispatcher completed batch 0 but the query died before
    # committing it — on restart Spark replays batch 0 through the sink
    marker_dir = _os.path.join(ck, "actions")
    _os.makedirs(marker_dir, exist_ok=True)
    open(_os.path.join(marker_dir, "batch_0.done"), "w").write("{}")

    q = start_correlation(
        ndjson_dir_source(spark, str(src)),
        [sequence_rule("r", ["order_placed", "payment"],
                       key="user_id", timeout="PT10S")],
        ck, dispatcher=d, trigger_once=True,
    )
    q.awaitTermination()  # without the drain this raises STREAM_FAILED
    assert q.exception() is None
    assert seen == []  # marker held: nothing re-dispatched


def test_empty_dispatcher_does_not_kill_stateful_query(spark, tmp_path):
    """Same hazard as the replayed-batch skip, different entry: a query
    started with NO registered actions (monitor-only, or actions added
    later) must still consume each micro-batch — an unconsumed stateful
    batch fails commit validation on Spark 4."""
    import json as _json

    from php_ec_spark.rules import sequence_rule
    from php_ec_spark.streaming import ndjson_dir_source, start_correlation

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in range(50):
            f.write(_json.dumps({
                "event_id": i, "ts": "2024-01-01T00:00:00Z",
                "user_id": i % 5, "event_type": "order_placed",
                "value": 1.0, "props": None,
            }) + "\n")
    q = start_correlation(
        ndjson_dir_source(spark, str(src)),
        [sequence_rule("r", ["order_placed", "payment"],
                       key="user_id", timeout="PT10S")],
        str(tmp_path / "ck"), trigger_once=True,
    )
    q.awaitTermination()
    assert q.exception() is None


class TestReviewRegressions:
    def test_journal_roundtrips_datetimes(self, spark, tmp_path):
        """default=str journaling replayed rows with STRINGS where the
        original dispatch had datetimes — a transient failure of a
        datetime-validated action became a guaranteed 3-strike halt."""
        import datetime as dtm

        state = {"fail": True}
        seen: list[dict] = []

        def flaky(rows):
            if state["fail"]:
                raise RuntimeError("transient")
            seen.extend(rows)

        d = ActionDispatcher(checkpoint_dir=str(tmp_path))
        d.register(
            "flaky", fn=flaky, rules=["r1"],
            schema={"fire_ts": dtm.datetime, "key": str},
        )
        em = spark.createDataFrame(
            [("r1", "k", "completed", dtm.datetime(2024, 1, 1, 12, 30))],
            "rule string, key string, outcome string, fire_ts timestamp",
        )
        d(em, batch_id=0)
        assert d.failed and not seen
        state["fail"] = False
        out = d.replay_errored()
        assert out == {"replayed": 1, "halted": 0}
        assert isinstance(seen[0]["fire_ts"], dtm.datetime)
        assert seen[0]["fire_ts"] == dtm.datetime(2024, 1, 1, 12, 30)

    def test_distributed_journal_roundtrips_datetimes(self, spark, tmp_path):
        """Same datetime round-trip contract on the EXECUTOR path: a
        failed distributed action's payload ships back through the status
        rows — a default=str encoding there replayed strings where the
        dispatch had datetimes, re-failing the typed schema into a
        3-strike halt (the driver-path fix alone did not cover this)."""
        import datetime as dtm

        marker = tmp_path / "ok"

        def flaky(rows):
            # executor side on attempt 1 (marker absent) → fail; replay
            # runs on the driver where the marker now exists → succeed,
            # but only if fire_ts came back as a real datetime
            if not marker.exists():
                raise RuntimeError("transient")
            assert all(isinstance(r["fire_ts"], dtm.datetime) for r in rows)
            (tmp_path / "replayed").write_text(
                rows[0]["fire_ts"].isoformat()
            )

        d = ActionDispatcher(checkpoint_dir=str(tmp_path / "ck"))
        d.register(
            "flaky", fn=flaky, rules=["r1"], distributed=True,
            schema={"fire_ts": dtm.datetime, "key": str},
        )
        em = spark.createDataFrame(
            [("r1", "k", "completed", dtm.datetime(2024, 1, 1, 12, 30))],
            "rule string, key string, outcome string, fire_ts timestamp",
        )
        d(em, batch_id=0)
        assert d.failed
        marker.write_text("1")
        out = d.replay_errored()
        assert out == {"replayed": 1, "halted": 0}
        assert (tmp_path / "replayed").read_text() == "2024-01-01T12:30:00"

    def test_typed_schema_with_field_named_type(self, spark):
        """A typed-dict schema whose FIELD is literally named 'type' must
        route to the typed validator, not the JSON-Schema one (which would
        reject every dispatch)."""
        seen: list[dict] = []
        d = ActionDispatcher()
        d.register(
            "tagged", fn=seen.extend, rules=["r1"],
            schema={"type": str, "key": str},
        )
        em = spark.createDataFrame(
            [("r1", "k", "alert")], "rule string, key string, type string"
        )
        d(em, batch_id=0)
        assert not d.failed and len(seen) == 1

    def test_null_rule_routes_to_distributed_default(self, spark, tmp_path):
        """isin() NULL propagation silently dropped NULL-rule rows when
        the default action was distributed; the driver default dispatches
        them, so the distributed default must too."""
        out_dir = tmp_path / "out"
        out_dir.mkdir()

        def record(rows):  # executor-side: write through the filesystem
            import json as j
            import uuid as u

            with open(out_dir / f"{u.uuid4().hex}.json", "w") as f:
                j.dump(rows, f, default=str)

        d = ActionDispatcher()
        d.register("dflt", fn=record, distributed=True)  # default action
        em = spark.createDataFrame(
            [(None, "k1", "completed", 1), ("known?", "k2", "completed", 2)],
            "rule string, key string, outcome string, last_event_id long",
        )
        d(em, batch_id=0)
        rows = []
        import json as j

        for f in os.listdir(out_dir):
            rows.extend(j.load(open(out_dir / f)))
        assert sorted(r["key"] for r in rows) == ["k1", "k2"]

    def test_driver_path_filters_distributed_rows(self, spark, tmp_path):
        """The driver iterator must not ship distributed-action rows to
        the driver only to discard them."""
        driver_seen: list[dict] = []
        d = ActionDispatcher()
        d.register("drv", fn=driver_seen.extend, rules=["low"])
        d.register("dist", fn=lambda rows: None, rules=["high"],
                   distributed=True)
        em = spark.createDataFrame(
            [("high", str(i), "completed", i) for i in range(50)]
            + [("low", "x", "completed", 99)],
            "rule string, key string, outcome string, last_event_id long",
        )
        d(em, batch_id=0)
        assert [r["key"] for r in driver_seen] == ["x"]
        done = {name: n for _b, name, n in d.completed}
        assert done == {"dist": 50, "drv": 1}
