"""A reused PySpark worker must not re-read unchanged zip archives.

Every task start in a PySpark worker calls ``importlib.invalidate_caches()``;
before Python 3.13 that makes each ``zipimporter`` (about 16 of them over
``pyspark.zip``, the py4j zip and the spark-core jar) re-read its archive's
whole directory, 170–280 ms per task start. Importing ``php_ec_spark``
makes the re-read conditional on the archive's stat having changed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import php_ec_spark  # noqa: F401  (installs the stat-gated re-read)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ zipimport already drops its cache lazily",
)


def _write_module(archive, source: str) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("ec_zip_probe.py", source)


def test_unchanged_archive_is_not_reread_and_changed_one_is(
    tmp_path, monkeypatch
):
    archive = tmp_path / "probe.zip"
    _write_module(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setitem(sys.modules, "ec_zip_probe", None)  # undo drops it
    del sys.modules["ec_zip_probe"]
    mod = importlib.import_module("ec_zip_probe")
    assert mod.VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []

    before = os.stat(archive)
    _write_module(archive, "VALUE = 'rewritten'\n")
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    after = os.stat(archive)
    assert (after.st_mtime_ns, after.st_size) != (
        before.st_mtime_ns, before.st_size
    )
    importlib.invalidate_caches()
    assert str(archive) in reads
    assert importlib.reload(mod).VALUE == "rewritten"


def test_reused_worker_task_start_reads_no_archive(spark):
    def probe(batches):
        import os
        import zipimport

        import php_ec_spark  # noqa: F401  (as unpickling a package UDF does)

        read = zipimport._read_directory
        if hasattr(read, "reads"):
            # this worker ran an earlier probe: report what this task's
            # start re-read, then reset for the next one
            seen = len(read.reads)
            read.reads.clear()
        else:
            def counting(path, _read=read):
                counting.reads.append(path)
                return _read(path)

            counting.reads = []
            zipimport._read_directory = counting
            seen = -1
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [seen]})

    installed, reused = set(), []
    for _ in range(40):
        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "pid long, reads long")
            .collect()[0]
        )
        if row.reads < 0:
            installed.add(row.pid)
        else:
            reused.append((row.pid, row.reads))
            if len(reused) >= 2:
                break
    assert reused, "no worker was reused across 40 one-task jobs"
    assert all(pid in installed for pid, _ in reused)
    assert [n for _, n in reused] == [0] * len(reused)
