"""PySpark daemon for the local sessions ``session.get_spark`` builds: the
stock ``pyspark.daemon`` manager, with two changes made once, before it
forks its first worker.

* Cheap zip invalidation (CPython < 3.12). Every Python task ends its
  setup with ``importlib.invalidate_caches()`` (pyspark/worker_util.py,
  ``setup_spark_files``). On CPython 3.11 each ``zipimport.zipimporter``
  then re-reads its archive's whole central directory in pure Python, and
  the workers import PySpark from ``pyspark.zip`` (1,328 entries) through
  16 such importers: 16 re-reads per task, most of the time between task
  launch and the Python function being entered. Here an importer re-reads
  only when its archive's (st_mtime_ns, st_size) stamp moved since it last
  read it, so a py-file archive rewritten on disk — the reason the
  invalidation exists — is still picked up. CPython 3.12 makes the
  invalidation lazy by itself.
* One import for all workers. pyarrow, pandas and the package's kernel
  modules, which every worker otherwise imports on its first task, are
  imported here; ``gc.freeze()`` then keeps the collector from writing to
  them, so forked workers share those pages copy-on-write. (The stock
  daemon already imports numpy.)

Run as ``python -m approximate_anomaly_detection_in_data_streams_spark.pydaemon``
(Spark's ``spark.python.daemon.module``).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
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


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager

    from .operators import lsh, pairs  # noqa: F401
    from .streaming import keyed  # noqa: F401

    # stamp every importer once, here: a worker forked later inherits the
    # stamps, so even its first task re-reads nothing
    importlib.invalidate_caches()
    gc.freeze()
    manager()


if __name__ == "__main__":
    main()
