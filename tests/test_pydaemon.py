"""The package's PySpark daemon: PySpark imported byte-compiled, zip
archives re-read only when they change, idle workers trimmed, and the local
test session's workers fork from it."""

from __future__ import annotations

import ctypes
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from approximate_anomaly_detection_in_data_streams_spark import pydaemon


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 invalidates zip caches lazily"
)
def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("aads_zip_a.py", "X = 1\n")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("aads_zip_a").X == 1
    importlib.invalidate_caches()  # takes the importer's first stamp

    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("aads_zip_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("aads_zip_b").Y == 2


def test_local_session_workers_fork_from_the_package_daemon(spark):
    def probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "daemon": [sys.modules["__main__"].__spec__.name],
                "invalidate": [zipimport.zipimporter.invalidate_caches.__name__],
            }
        )

    rows = spark.range(4, numPartitions=2).mapInArrow(
        probe, "daemon string, invalidate string"
    )
    assert {tuple(r) for r in rows.collect()} == {
        (pydaemon.__name__, "_invalidate_if_changed")
    }


@pytest.mark.parametrize(
    "site_version,archive_kept", [("4.1.2", False), ("4.0.0", True)],
    ids=["same-version", "other-version"],
)
def test_byte_compiled_pyspark_replaces_only_a_same_version_archive(
    tmp_path, site_version, archive_kept
):
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "version.py").write_text(f'__version__ = "{site_version}"\n')
    path = [str(tmp_path), str(archive), str(tmp_path / "py4j.zip"), str(site)]
    want = list(path) if archive_kept else [p for p in path if p != str(archive)]
    pydaemon.prefer_compiled_pyspark(path)
    assert path == want


@pytest.mark.skipif(
    not hasattr(ctypes.CDLL(None), "malloc_trim"), reason="the C library has no malloc_trim"
)
def test_idle_workers_return_a_task_heap(spark):
    """The session's MALLOC_TRIM_THRESHOLD_ lets a task hoard 256 MB of
    freed heap; the daemon trims it when the task ends, so an idle worker
    holds about its forked size, not its last task's peak."""

    def allocate(batches):
        import numpy as np
        import pyarrow as pa

        for _ in batches:
            pass
        total = float(np.ones(32 * 2**20).sum())
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "total": [total]})

    def rss(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        with open("/proc/self/status") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS"))
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "rss_mb": [kb / 1024]})

    big = spark.range(4, numPartitions=4).mapInArrow(allocate, "pid long, total double")
    allocated = {r.pid for r in big.collect()}
    idle = spark.range(4, numPartitions=4).mapInArrow(rss, "pid long, rss_mb double")
    # Spark hands out idle workers oldest first, and earlier tests may
    # have left more than four: probe until an allocating worker answers
    probed = {}
    for _ in range(4):
        probed.update((r.pid, r.rss_mb) for r in idle.collect())
        if allocated & set(probed):
            break
    assert allocated & set(probed), "the probe reached none of the allocating workers"
    assert max(probed.values()) < 200, probed
