import os
import time

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

# Pin the PROCESS timezone, not just the Spark session's (get_spark pins
# that to UTC): several tests round-trip naive datetimes through
# createDataFrame/collect, whose conversions use the local timezone —
# on a non-UTC developer machine hour-sensitive assertions (cron fires,
# window boundaries) would fail spuriously while CI stays green.
os.environ["TZ"] = "UTC"
if hasattr(time, "tzset"):
    time.tzset()

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from php_ec_spark.session import get_spark

    s = get_spark(app_name="php-ec-spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from php_ec_spark.model import load_events

    return load_events(spark, sf_dir)


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Context-manager factory: ``with checkpoint_dir() as path:`` sets a
    session checkpoint directory — the switch that turns every
    ``pin_intermediate`` pin into a reliable ``checkpoint()`` — and
    clears it on exit. A None checkpoint dir isn't settable back through
    the public API, so the scala option is cleared directly and later
    tests see the session state they started with."""
    import contextlib

    sc = spark.sparkContext

    @contextlib.contextmanager
    def use():
        assert sc.getCheckpointDir() is None
        path = tmp_path / "ckpt"
        sc.setCheckpointDir(str(path))
        try:
            yield path
        finally:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None)
            )

    return use
