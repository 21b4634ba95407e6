"""Stamp-checked ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Up to
CPython 3.12, that makes every cached ``zipimporter`` re-read its
archive's central directory at once: a worker holds about 16 importers
on ``pyspark.zip`` (1.3k entries, ~13 ms per read), so each task of a
pandas UDF paid ~0.2 CPU s before it touched a row. CPython 3.13 defers
the re-read until the importer is next used.

``install()`` wraps ``invalidate_caches`` so that an importer re-reads its
archive only when the archive's ``(st_ino, st_size, st_mtime_ns)``
differs from the stamp taken when that importer last read it. An
unchanged archive costs one ``stat``; a changed or replaced one (e.g. a
zip re-shipped with ``SparkContext.addPyFile``) is re-read as before.
"""

from __future__ import annotations

import functools
import os
import sys


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches``; idempotent, and a
    no-op on CPython >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stamp_checked", False):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        # stamp before the read: a change that lands during it shows as a
        # stamp mismatch next time, so it is never missed
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        reread(self)
        self._read_stamp = stamp

    invalidate_caches._stamp_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
