"""End-to-end port of the reference's canonical online-shop scenario
(examples/online_shop/): orders placed must be paid within the timeout;
unpaid orders emit a derived timeout event which a chained reminder rule
consumes (CheckOrderPayment.php:7-27 → OrderPaymentReminder.php:7-17),
and the reminder dispatches an action."""

from __future__ import annotations

import datetime as dt

from php_ec_spark.engine import chain_correlate
from php_ec_spark.rules import match_single, sequence_rule
from php_ec_spark.streaming.sinks import ActionDispatcher

T0 = dt.datetime(2024, 1, 1)


def _events(spark):
    rows = [
        # order 1 (user 1): placed and paid in time → completed, no reminder
        (0, T0 + dt.timedelta(seconds=0), 1, "shop:order:placed", 100.0, None),
        (1, T0 + dt.timedelta(seconds=10), 1, "shop:order:paid", 100.0, None),
        # order 2 (user 2): never paid → timeout → reminder
        (2, T0 + dt.timedelta(seconds=5), 2, "shop:order:placed", 250.0, None),
        # order 3 (user 3): paid LATE → timeout + reminder, late pay ignored
        (3, T0 + dt.timedelta(seconds=8), 3, "shop:order:placed", 50.0, None),
        (4, T0 + dt.timedelta(seconds=120), 3, "shop:order:paid", 50.0, None),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


def test_online_shop_chain(spark, checkpoint_dir):
    rules = [
        sequence_rule(
            "pay_check", ["shop:order:placed", "shop:order:paid"],
            key="user_id", timeout="PT20S",
        ),
        match_single("reminder", ["pay_check:timeout"], key="user_id"),
    ]
    out = chain_correlate(_events(spark), rules, max_depth=3)
    rows = {(r["rule"], r["key"], r["outcome"]) for r in out.collect()}
    assert ("pay_check", "1", "completed") in rows
    assert ("pay_check", "2", "timeout") in rows
    assert ("pay_check", "3", "timeout") in rows
    assert ("reminder", "2", "completed") in rows
    assert ("reminder", "3", "completed") in rows
    assert ("reminder", "1", "completed") not in rows
    # reminder fire time = the pay deadline (placed + PT20S)
    fires = {r["key"]: r["fire_ts"] for r in out.collect() if r["rule"] == "reminder"}
    assert fires["2"] == T0 + dt.timedelta(seconds=25)
    # with a checkpoint dir set: same emissions. An acyclic chain of
    # relational producers is one lazy plan and pins no round, so no
    # checkpoint file is written
    with checkpoint_dir() as ckpt:
        reliable = chain_correlate(_events(spark), rules, max_depth=3).collect()
        assert sorted(map(tuple, reliable)) == sorted(map(tuple, out.collect()))
        assert not any(p.is_file() for p in ckpt.rglob("*"))


def test_state_machine_producer_round_is_checkpointed(spark, checkpoint_dir):
    """A producer with an ``accept`` predicate runs in the Python state
    machine, so its round is pinned rather than computed twice; with a
    checkpoint dir set the pin is a reliable checkpoint: same emissions,
    and the round lands as files under the dir."""
    rules = [
        sequence_rule(
            "pay_check", ["shop:order:placed", "shop:order:paid"],
            key="user_id", timeout="PT20S", accept=lambda ev, chain: True,
        ),
        match_single("reminder", ["pay_check:timeout"], key="user_id"),
    ]
    out = chain_correlate(_events(spark), rules, max_depth=3).collect()
    assert sorted(r["key"] for r in out if r["rule"] == "reminder") == ["2", "3"]
    with checkpoint_dir() as ckpt:
        reliable = chain_correlate(_events(spark), rules, max_depth=3).collect()
        assert sorted(map(tuple, reliable)) == sorted(map(tuple, out))
        assert any(p.is_file() for p in ckpt.rglob("*"))


def test_chain_with_non_default_key(spark):
    """Chaining must work for rules keyed on any column, not just user_id
    (the derived stream carries every key column the rule set uses)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(0, t0, 7, "placed", 1.0, None)]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, order_id long, event_type string, value double, props string",
    )
    rules = [
        sequence_rule("pay", ["placed", "paid"], key="order_id", timeout="PT20S"),
        match_single("remind", ["pay:timeout"], key="order_id"),
    ]
    out = chain_correlate(events, rules, max_depth=3)
    got = {(r["rule"], r["key"], r["outcome"]) for r in out.collect()}
    assert got == {("pay", "7", "timeout"), ("remind", "7", "completed")}


def test_streaming_rejects_mixed_keys(spark):
    """Spark supports one applyInPandasWithState per streaming query; mixed
    key columns must fail fast with guidance, not at query.start()."""
    import pytest

    from php_ec_spark.engine.streaming import correlate_stream
    from php_ec_spark.model import EVENT_SCHEMA

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "timestamp as ts",
                    "value as user_id", "'a' as event_type",
                    "cast(1.0 as double) as value", "cast(null as string) as props")
    )
    rules = [
        sequence_rule("r1", ["a", "b"], key="user_id", timeout="PT1S"),
        match_single("r2", ["a"], key=None),
    ]
    with pytest.raises(ValueError, match="share one correlation key"):
        correlate_stream(stream, rules)


def test_reminder_action_dispatch(spark):
    """The reminder emissions drive an action batch — the
    sendPaymentReminderEmail analog."""
    rules = [
        sequence_rule(
            "pay_check", ["shop:order:placed", "shop:order:paid"],
            key="user_id", timeout="PT20S",
        ),
        match_single("reminder", ["pay_check:timeout"], key="user_id"),
    ]
    out = chain_correlate(_events(spark), rules, max_depth=3)
    emails: list[dict] = []
    d = ActionDispatcher()
    d.register(
        "send_email",
        fn=lambda batch: emails.extend(batch),
        schema={"key": str, "fire_ts": (object, "optional")},
        rules=["reminder"],
    )
    d(out)  # batch-mode dispatch
    assert sorted(e["key"] for e in emails) == ["2", "3"]
    assert d.completed and not d.failed
