"""php_ec_spark — a PySpark-native event-correlation + analytics engine.

Re-implements the capability set of lucasnetau/php-ec (a PHP complex-event-
processing engine; see /root/reference) on top of Apache Spark:

- Declarative ``Rule`` API (sequence match, timeout/absence, continuous
  match, suppression, chaining, enrichment) compiled to Spark plans: pure
  window/aggregate fast paths for N-step sequences, gap sessions, single
  matches and keyless counters (`engine/relational.py`); a per-key
  Arrow-batched state machine for the general case (`engine/batch.py`);
  and live mode via ``applyInPandasWithState`` with event-time timers and
  checkpointed state (`engine/streaming.py`).
- A plain Spark SQL/DataFrame relational surface (the reference has none —
  Catalyst provides scans/filters/joins/aggs/windows for free), plus an
  as-of join composition Spark SQL lacks (`functions/`).
- Large-scale training-data pipeline operators (`operators/`): dedup
  (exact, MinHash+LSH banded, SimHash chunk-banded, exact n-gram Jaccard
  via inverted index), similarity search (broadcast cosine top-k, IVF
  cluster-pruned ANN), text analysis (token/quality stats, marker-token
  lang-id, rolling-hash fingerprints), multimodal binary-column plumbing
  (Arrow-batched mapInPandas; codec decode stubbed in this container).

Everything is designed for a real multi-executor cluster: high-cardinality
correlation keys partition the stateful path, small dimensions broadcast,
filters/projections stay in Catalyst so pushdown and whole-stage codegen
apply.
"""

__version__ = "0.1.0"


def _reread_zip_directories_only_on_change() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    A PySpark worker calls ``importlib.invalidate_caches()`` at every task
    start (``pyspark/worker_util.py``), and before Python 3.13 each
    ``zipimporter`` then re-reads its archive's whole directory — about 16
    importers over ``pyspark.zip``, the py4j zip and the spark-core jar,
    170–280 ms per task start, paid twice per state task per live
    micro-batch. Every worker that unpickles a package UDF imports this
    package, so installing the fix here covers them all.

    Each read records the archive's ``(st_mtime_ns, st_size)``, taken
    before the read; an importer re-reads only when ``os.stat`` now says
    something else, so a changed or newly added archive behaves as
    before. Directory (``FileFinder``) caches are untouched. Python 3.13
    already drops the cache lazily, so it is left alone.
    """
    import sys

    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    stat_at_read: dict = {}

    def signature(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _read_directory(archive):
        sig = signature(archive)
        files = read_directory(archive)
        stat_at_read[archive] = sig
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        sig = signature(self.archive)
        if files is not None and sig is not None and sig == (
            stat_at_read.get(self.archive)
        ):
            self._files = files  # the last read still matches the disk
        else:
            reread(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches

    # Inside a worker task, every archive was re-read at this task's start,
    # moments before the UDF that imported this package was unpickled:
    # record those reads now, or each worker's next task pays once more.
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        for archive in list(zipimport._zip_directory_cache):
            stat_at_read[archive] = signature(archive)


_reread_zip_directories_only_on_change()
