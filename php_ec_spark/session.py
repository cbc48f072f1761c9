"""SparkSession factory with engine-appropriate defaults.

Pinned settings and why:

- ``spark.sql.session.timeZone=UTC`` — the reference normalizes every event
  time to UTC (reference src/Event.php:63-80); also required for DuckDB
  oracle parity (DuckDB timestamps are UTC-naive).
- AQE on (+ skew-join handling) — correlation keys can be skewed (one hot
  user/device); AQE re-plans shuffle partitioning at runtime.
- Arrow enabled — every Python-side operator uses pandas UDFs /
  ``applyInPandas``; Arrow batching is the only acceptable transfer path.
- shuffle partitions default to the local core count; on a real cluster this
  should be set to ~2-3× total executor cores by the submitter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "php-ec-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.

    ``master`` defaults to ``$SPARK_GRAFT_MASTER`` else ``local[cpus]``.
    NOTE for spark-submit deployments: a programmatic ``.master()`` beats
    the ``--master`` flag, so under ``spark-submit --master yarn`` either
    set ``SPARK_GRAFT_MASTER=yarn``, pass ``master=``, or put
    ``spark.master`` in ``extra_conf`` — otherwise the job would silently
    run local-mode on the driver host.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if extra_conf and "spark.master" in extra_conf:
        master = extra_conf["spark.master"]

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # Read µs-naive parquet timestamps as UTC TIMESTAMP, not NTZ
        # (DuckDB-oracle parity; NTZ forbids the double casts our clock
        # arithmetic uses).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Read INT64 TIMESTAMP(NANOS) parquet columns as long (model.
        # load_events floors them to µs). Set here, not only in load_events,
        # so every read_parquet of the session sees one conf value and the
        # schema cache keeps one entry per table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: keep splits reasonable for local; cluster submitters
        # should size maxPartitionBytes so a partition fits executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (path, file fingerprint, schema-affecting confs) → StructType. METADATA
#: only — what a catalog/metastore provides at warehouse scale. Never holds
#: data or results; invalidated whenever the underlying bytes change.
_PARQUET_SCHEMA_CACHE: dict = {}


def _parquet_fingerprint(path: str):
    """(size, mtime_ns) fingerprint of a parquet file or directory —
    the cache key component that invalidates the remembered schema when
    the table is rewritten. Directories fingerprint their direct entries
    (names + sizes + mtimes): parquet writers replace files, so any
    rewrite moves at least one entry's (size, mtime)."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    entries = []
    with os.scandir(path) as it:
        for e in it:
            es = e.stat()
            entries.append((e.name, es.st_size, es.st_mtime_ns))
    return tuple(sorted(entries))


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet`` with the inferred schema remembered per
    (path, file fingerprint): the first read in a process infers the
    schema from footers (one driver-blocking Spark job); every later
    CONSTRUCTION of the same unchanged table passes the remembered
    StructType and skips that job entirely — the metadata a catalog
    table provides at warehouse scale, recreated for bare-path reads.

    Strictly metadata caching: the data path is untouched (same scan,
    same pushdown/pruning — ``spark.read.schema(s).parquet(path)`` plans
    identically to the inferred-schema read), results are never cached,
    and the fingerprint (sizes + mtimes) invalidates on any rewrite.
    The two schema-affecting session confs ride the key so e.g.
    ``load_events``'s nanos handling can never leak a mismatched schema
    between call sites."""
    confs = (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
    )
    try:
        key = (path, _parquet_fingerprint(path), confs)
    except OSError:
        # path not stat-able locally (remote FS) — fall back to plain read
        return spark.read.parquet(path)
    schema = _PARQUET_SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _PARQUET_SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Read the driver's parquet tables as a dict of DataFrames.

    Plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown and
    column pruning; never cache here — each query should prune its own scan.
    ``events`` goes through :func:`php_ec_spark.model.load_events` (nanos
    timestamp handling).
    """
    from .model import load_events

    return {
        name: load_events(spark, sf_dir) if name == "events"
        else read_parquet(spark, f"{sf_dir}/{name}.parquet")
        for name in names
    }


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Expose the driver tables as temp views so plain ``spark.sql(...)``
    works — the engine's SQL front door (the reference has no SQL surface;
    Catalyst provides the whole relational layer for free)."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def shuffle_partitions(spark: SparkSession, default: int = 32) -> int:
    """Resolve ``spark.sql.shuffle.partitions`` as an int, falling back to
    the cluster's default parallelism when the value is non-numeric
    (managed platforms set "auto"). The one place the operators that pin
    an explicit repartition width (state machine, snapshot builder,
    inverted-index join) read it from."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def pin_intermediate(df: DataFrame, eager: bool = False) -> DataFrame:
    """Pin a multiply-consumed corpus-scale intermediate, truncating its
    lineage — the one pin policy of the package's operators and of the
    ``chain_correlate`` rounds that are read twice (a state-machine
    producer's, a suppressing round's, every non-final round of a chain
    the static pruning cannot end within its depth cap).

    With a checkpoint directory configured (``sc.setCheckpointDir`` —
    standard on any cluster run) the pin is a reliable ``checkpoint()``:
    replicated fault-tolerant files, so losing an executor mid-query
    does not kill the job. Without one it is ``localCheckpoint()`` —
    fastest, but the blocks live non-replicated on executor local
    storage (right for local / single-executor / short-job runs; sweep
    them with ``session.release_checkpoint_caches``). See SCALE.md
    "Durability of pinned intermediates".
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_checkpoint_caches(spark: SparkSession) -> int:
    """Unpersist every RDD pinned in the block manager — primarily the
    ``localCheckpoint()`` lineages the iterative/multi-branch operators
    (``jaccard_pairs`` inverted index, ``dedup_clusters`` label rounds,
    ``chain_correlate``'s pinned rounds; an acyclic chain of relational
    producers pins none) leave behind after their action completes. A one-query-per-job deployment never needs this; call it
    between queries in a long-lived session (notebook, service, benchmark
    harness) so dead checkpoint blocks don't accumulate into GC pressure.
    Returns the number of RDDs released. Only call AFTER the results built
    on those checkpoints have been fully consumed — a localCheckpoint
    cannot be recomputed once its blocks are gone.

    A user's ``df.cache()`` / ``df.persist()`` frames are registered in
    Spark SQL's CacheManager, not just the block manager: unpersisting
    their RDDs alone would free the blocks but leave the CacheManager
    entry behind, and any later plan matching the cached fragment would
    silently re-materialize it. ``catalog.clearCache()`` releases those
    through the front door first; the RDD sweep then picks up what
    CacheManager does not track (localCheckpoint lineages)."""
    released = len(spark.sparkContext._jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    return released
