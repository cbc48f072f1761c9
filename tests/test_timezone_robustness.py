"""Driver-timezone robustness: the engine's claims ('a driver-local tz can
never shift event times / deadlines / TTLs') verified under an actual
non-UTC driver. Each case runs in a SUBPROCESS with TZ=America/New_York so
Python's naive-datetime semantics and the JVM's user.timezone really are
non-UTC — an in-process tzset() would not re-seed the already-running JVM."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_SCRIPT = r'''
import os, time
os.environ["TZ"] = "America/New_York"
time.tzset()
import gzip, json, tempfile
import datetime as dt

from php_ec_spark.session import get_spark
from php_ec_spark.engine import snapshot_state
from php_ec_spark.engine.core import EngineCore
from php_ec_spark.rules import sequence_rule
from php_ec_spark.savefile import import_savefile

spark = get_spark(cpus=2, app_name="tz-robustness")
RULES = lambda: [sequence_rule("check_payment", ["order_placed", "payment"],
                               key="user_id", timeout="PT20S")]

doc = {
    "engine": {
        "eventstream_live": True,
        "matchers": [{
            "c": "App\\Rules\\CheckOrderPayment",
            "s": {"events": [101], "id": "x", "actionFired": False,
                  "isTimedOut": False, "context": {},
                  "timeout": "2024-01-01T00:00:20+00:00"},
        }],
        "events": {"101": {"id": 1, "event": "order_placed",
                            "datetime": "2024-01-01T00:00:00.000+00:00",
                            "user_id": 42, "value": 99.5}},
        "statistics": {},
    },
    "scheduler": {},
    "memory": [
        {"namespace": "t", "key": "live", "value": 1, "expiresAt": None},
        # expired long ago IN UTC; a local-tz misread would shift it
        {"namespace": "t", "key": "stale", "value": 2,
         "expiresAt": "2000-01-01T00:00:00+00:00"},
    ],
}
workdir = tempfile.mkdtemp()
path = os.path.join(workdir, "php-ce.state")
with open(path, "wb") as f:
    f.write(gzip.compress(json.dumps(doc).encode(), 2))

imp = import_savefile(spark, path, RULES(),
                      {"App\\Rules\\CheckOrderPayment": "check_payment"})

# 1. replayed deadline is TRUE UTC epoch ns (2024-01-01T00:00:20Z), not
#    shifted by the driver's -05:00 offset
snap = {r["__key"]: r["blob"] for r in imp.initial_states["user_id"].collect()}
core = EngineCore.from_state(RULES(), "42", snap["42"])
assert core.next_deadline() == 1704067220_000000000, core.next_deadline()

# 2. importer blobs equal snapshot_state blobs of the equivalent history
#    (Spark's UTC-session timestamps) — byte-for-byte, even off-UTC.
#    NB the fixture must say "midnight UTC" tz-AWARE: createDataFrame
#    interprets a naive datetime in driver-local time (Spark semantics —
#    real ingestion paths carry true UTC from parquet/JSON).
base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
history = spark.createDataFrame(
    [(1, base, 42, "order_placed", 99.5, None)],
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string",
)
want = {r["__key"]: r["blob"] for r in snapshot_state(history, RULES()).collect()}
assert snap == want, (snap, want)

# 3. memory TTL: the 2000-expired entry is dropped, the no-expiry one lives
live = {(r["namespace"], r["key"]) for r in imp.memory.live().collect()}
assert live == {("t", "live")}, live
import shutil
shutil.rmtree(workdir, ignore_errors=True)
print("TZ-OK")
'''


_CHAIN_SCRIPT = r'''
import os, time
os.environ["TZ"] = "America/New_York"
time.tzset()
import json, tempfile

from php_ec_spark.session import get_spark
from php_ec_spark.rules import match_single, sequence_rule
from php_ec_spark.streaming import (ActionDispatcher, ndjson_dir_source,
                                    start_chained_correlation)

spark = get_spark(cpus=2, app_name="tz-chain")
tmp = tempfile.mkdtemp()
src = os.path.join(tmp, "src"); os.makedirs(src)
with open(os.path.join(src, "orders.json"), "w") as f:
    f.write(json.dumps({"event_id": 1, "ts": "2024-01-01T00:00:00Z",
                        "user_id": 42, "event_type": "order_placed",
                        "value": 99.5, "props": None}) + "\n")
rules = [
    sequence_rule("check_payment", ["order_placed", "payment"],
                  key="user_id", timeout="PT20S"),
    match_single("reminder", ["check_payment:timeout"], key="user_id"),
]
seen = []
d = ActionDispatcher(); d.register("capture", fn=seen.extend)
q = start_chained_correlation(
    ndjson_dir_source(spark, src), rules,
    checkpoint_dir=os.path.join(tmp, "ck"),
    chain_dir=os.path.join(tmp, "chain"),
    dispatcher=d, trigger_interval="300 milliseconds",
)
try:
    deadline = time.time() + 90
    while time.time() < deadline and not any(
        r["rule"] == "reminder" for r in seen
    ):
        time.sleep(0.3)
finally:
    q.stop()
by_rule = {r["rule"]: r for r in seen}
t = by_rule["check_payment"]
# the ADVICE bug: collect()+strftime shifted re-injected times by the
# driver's UTC offset; the executor-side Spark writer must not.
assert str(t["fire_ts"]).startswith("2024-01-01 00:00:20"), t
r = by_rule["reminder"]
assert r["outcome"] == "completed" and r["last_event_id"] < 0, r
import shutil
shutil.rmtree(tmp, ignore_errors=True)
print("TZ-CHAIN-OK")
'''


def _run_tz_subprocess(script: str, marker: str) -> None:
    env = {**os.environ, "TZ": "America/New_York"}
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo_root,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert marker in out.stdout


@pytest.mark.slow
def test_savefile_import_unshifted_under_nonutc_driver():
    _run_tz_subprocess(_SCRIPT, "TZ-OK")


@pytest.mark.slow
def test_chain_reinjection_unshifted_under_nonutc_driver():
    """The live-chain feedback loop end to end with a non-UTC driver: the
    derived timeout event re-enters carrying its true UTC deadline (the
    pre-fix collect()+strftime path shifted it by the UTC offset, breaking
    chain timing and watermark admission)."""
    _run_tz_subprocess(_CHAIN_SCRIPT, "TZ-CHAIN-OK")


def test_load_events_keeps_one_schema_cache_entry_per_table(
    spark, sf_dir, monkeypatch
):
    """``load_events`` sets the parquet timestamp confs on the session; a
    ``get_spark`` session already has the same values, so a table read
    before and after it keeps ONE schema-cache key. Two keys would make
    the first read of every table infer its schema again after the first
    ``load_events``, an extra Spark job per table."""
    from php_ec_spark import session as S
    from php_ec_spark.model import load_events

    monkeypatch.setattr(S, "_PARQUET_SCHEMA_CACHE", {})
    # a new session starts from the confs get_spark built the context with,
    # not from what earlier tests' load_events calls set on `spark`
    fresh = spark.newSession()
    path = f"{sf_dir}/orders.parquet"
    S.read_parquet(fresh, path)
    load_events(fresh, sf_dir)
    S.read_parquet(fresh, path)
    keys = [k for k in S._PARQUET_SCHEMA_CACHE if k[0] == path]
    assert len(keys) == 1, keys
