"""Stat-guarded ``zipimport.zipimporter.invalidate_caches``.

Every PySpark worker task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Workers import pyspark and
py4j from zip archives, and on CPython 3.11 each zipimporter answers that
call by re-reading its archive's central directory. A worker holds 14-16
such importers, so the re-reads cost ~0.2 CPU-s per task, whatever its
row count.

The guard re-reads only when the archive's ``(st_mtime_ns, st_size)``
differs from what THAT importer last read, or when ``stat`` fails. The
state is per importer: several importers share one archive, and a
per-archive memo would leave all but the first stale after a change.

Installed from the package ``__init__``: every engine UDF imports the
package when it unpickles in a worker, i.e. during the worker's first
task. What an importer read before the install is unknown, so its first
guarded call still re-reads and records; a worker skips the re-reads from
its third task on. Only ``os`` and ``zipimport`` are imported, so the
registry import path stays light.
"""

from __future__ import annotations

import os
import zipimport


def install_zip_invalidation_guard() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once; a second call is a no-op."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        # stat BEFORE the read: a rewrite racing the read leaves the old
        # key recorded, so the next call re-reads instead of going stale
        if key is None or getattr(self, "_read_stat", None) != key:
            original(self)
            self._read_stat = key

    invalidate_caches.__wrapped__ = original
    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
