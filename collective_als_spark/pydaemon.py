"""PySpark worker daemon that skips re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython < 3.13, ``zipimporter.invalidate_caches`` re-reads
the whole central directory of its archive, and the workers import
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``: a dozen or more
zipimporters over thousands of entries, a few hundred milliseconds of
every Python task before user code runs. CPython 3.13 made that re-read
lazy.

This module patches ``zipimporter.invalidate_caches`` so an importer
re-reads its archive only on its first call or when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since it last read it, then
runs ``pyspark.daemon.manager()``. ``get_spark`` selects it through
``spark.python.daemon.module``. It imports nothing from the rest of the
package, so the daemon and its forked workers stay lean.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# zipimport re-reads an archive on every invalidate_caches() call
EAGER_REREAD = sys.version_info < (3, 13)


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` (idempotent; a
    no-op on Python >= 3.13)."""
    cls = zipimport.zipimporter
    if not EAGER_REREAD or getattr(cls.invalidate_caches, "_skips_unchanged", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        reread(self)
        self._read_stamp = stamp

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # Read every archive once here, so forked workers inherit stamped
    # importers and skip the re-read even on their first task.
    importlib.invalidate_caches()
    daemon.manager()
