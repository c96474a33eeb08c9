"""PySpark daemon for the local sessions ``session.get_spark`` builds: the
stock ``pyspark.daemon`` manager, with three changes made once, before it
forks its first worker, and a heap trim after every task.

* Byte-compiled PySpark. Spark puts ``pyspark.zip`` first on the daemon's
  ``sys.path``, and zipimport compiles every module of it from source and
  never caches the result: importing the daemon's stack from the archive
  took over a second. When a later ``sys.path`` directory (the
  interpreter's own site-packages) holds the same PySpark version, the
  archive is dropped from ``sys.path`` so that copy, with its ``.pyc``
  files, is the one imported. Different versions keep the archive.
* Cheap zip invalidation (CPython < 3.12). Every Python task ends its
  setup with ``importlib.invalidate_caches()`` (pyspark/worker_util.py,
  ``setup_spark_files``). On CPython 3.11 each ``zipimport.zipimporter``
  then re-reads its archive's whole central directory in pure Python;
  workers that import PySpark from ``pyspark.zip`` (1,328 entries) do so
  through 16 such importers: 16 re-reads per task, most of the time
  between task launch and the Python function being entered, wherever the
  archive stays on ``sys.path``. Here an importer re-reads only when its
  archive's (st_mtime_ns, st_size) stamp moved since it last read it, so
  a py-file archive rewritten on disk — the reason the invalidation
  exists — is still picked up. CPython 3.12 makes the invalidation lazy
  by itself.
* One import for all workers. pyarrow, pandas, the package's kernel
  modules and what a worker still imports on its first task are imported
  here: ``pyarrow.pandas_compat``, ``pyarrow.vendored.version`` and
  ``concurrent.futures`` for every ``mapInArrow`` task;
  ``pyspark.sql.streaming.state`` and the ``pyspark.testing.utils`` that
  ``GroupState.update`` imports (with ``unittest``) for every
  ``applyInPandasWithState`` task. (Found by diffing a worker's
  ``sys.modules`` after such tasks against the daemon's at fork.)
  ``gc.collect()`` and ``malloc_trim(0)`` then drop the garbage and free
  heap those imports left, and ``gc.freeze()`` keeps the collector from
  writing to the rest, so forked workers share those pages copy-on-write.
  (The stock daemon already imports numpy.)
* Idle workers give their task heap back. ``session.get_spark`` raises
  glibc's trim and mmap thresholds so a task's Arrow batches reuse freed
  pages instead of refaulting them; nothing would hand those pages back
  once the task ends, and each reused worker would hold its task's peak
  heap while idle. Every task therefore ends with ``malloc_trim(0)``,
  run once the task's output is flushed (``pyspark.daemon.worker``
  returns), so the trim and the next task's refault of those pages cost
  a few milliseconds per task but delay no result. Where the C library
  has no ``malloc_trim`` (non-glibc) the trim is skipped.

Run as ``python -m approximate_anomaly_detection_in_data_streams_spark.pydaemon``
(Spark's ``spark.python.daemon.module``).
"""

from __future__ import annotations

import ctypes
import gc
import importlib
import os
import re
import sys
import zipfile
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its (st_mtime_ns, st_size) differs from the stamp this importer
    took when it last read it (no stamp yet, or no archive: re-read)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def _pyspark_version(entry: str) -> str | None:
    """The ``__version__`` of the PySpark under one ``sys.path`` entry (a
    directory or a zip archive); None when it holds no PySpark."""
    try:
        if os.path.isfile(entry):
            with zipfile.ZipFile(entry) as zf:
                text = zf.read("pyspark/version.py").decode()
        else:
            with open(os.path.join(entry, "pyspark", "version.py")) as fh:
                text = fh.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    found = re.search(r"^__version__\b[^=]*=\s*['\"]([^'\"]+)", text, re.M)
    return found and found.group(1)


def prefer_compiled_pyspark(path: list[str]) -> None:
    """Drop the zip archive that holds the first PySpark on ``path`` when
    the next PySpark on ``path`` is a directory of the same version, so
    that byte-compiled copy is imported; otherwise leave ``path`` as is."""
    holders = [(e, v) for e in path if (v := _pyspark_version(e)) is not None]
    if len(holders) < 2:
        return
    (first, version), (second, other) = holders[:2]
    if os.path.isfile(first) and not os.path.isfile(second) and version == other:
        path.remove(first)


try:
    _malloc_trim = ctypes.CDLL(None).malloc_trim
except (OSError, AttributeError):  # a C library without it (not glibc)
    _malloc_trim = None


def _trim_heap() -> None:
    """Return the C heap's free pages to the kernel (glibc only)."""
    if _malloc_trim is not None:
        _malloc_trim(0)


def _trimmed(worker):
    """The daemon's per-task ``worker``, followed by a heap trim when the
    task ended well (a worker whose task failed exits). ``worker`` flushes
    the task's last bytes before it returns, so the JVM already holds the
    result while the trim runs."""

    def run(sock, authenticated):
        code = worker(sock, authenticated)
        if code == 0:
            _trim_heap()
        return code

    return run


def main() -> None:
    prefer_compiled_pyspark(sys.path)
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    import concurrent.futures  # noqa: F401

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
    import pyarrow.vendored.version  # noqa: F401
    import pyspark.daemon
    import pyspark.sql.streaming.state  # noqa: F401
    import pyspark.testing.utils  # noqa: F401

    from .operators import lsh, pairs  # noqa: F401
    from .streaming import keyed  # noqa: F401

    pyspark.daemon.worker = _trimmed(pyspark.daemon.worker)
    # stamp every importer once, here: a worker forked later inherits the
    # stamps, so even its first task re-reads nothing
    importlib.invalidate_caches()
    gc.collect()
    _trim_heap()
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
