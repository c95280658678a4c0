"""Python worker daemon for sessions built by ``session.get_spark``.

Spark forks every Python worker from one daemon process per executor,
and each worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimporter`` re-read its archive's whole central directory.
Workers import pyspark from ``pyspark.zip`` through about 16 importers,
one per sub-package path, so each task parsed about 27k directory
entries (0.1-0.2 s) before any of its own work: most of the cost of a
small Python task.

Run as the daemon module (``spark.python.daemon.module``), this swaps
the stock ``zipimporter`` path hook for ``_StampedZipImporter``, which
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since that importer's last read (one ``stat`` per importer per task),
then runs the stock ``pyspark.daemon`` manager. Importing this module
changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


class _StampedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches()`` re-reads the
    archive's directory only when the archive changed on disk since this
    importer last read it. The stamp is taken before the read, so a
    rewrite during a read is caught by the next call."""

    def __init__(self, path):
        super().__init__(path)
        # the directory may be an earlier importer's read of an older
        # archive: read it again under this importer's own stamp
        self._stamp = None
        self.invalidate_caches()

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            self._stamp = stamp
            super().invalidate_caches()


def _install() -> None:
    """Route zip path entries through ``_StampedZipImporter`` from now on."""
    sys.path_hooks[:] = [
        _StampedZipImporter if h is zipimport.zipimporter else h
        for h in sys.path_hooks
    ]
    # importers already built for zip paths would stay stock
    sys.path_importer_cache.clear()


if __name__ == "__main__":
    _install()
    from pyspark import daemon

    daemon.manager()
