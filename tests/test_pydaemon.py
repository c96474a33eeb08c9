"""The package's PySpark daemon: zip archives re-read only when they change,
and the local test session's workers fork from it."""

from __future__ import annotations

import importlib
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
