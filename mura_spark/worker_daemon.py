"""Executor Python-worker daemon: ``pyspark.daemon`` with stamped zip importers.

``get_spark`` pins ``spark.python.daemon.module`` to this module. Before
every task PySpark's worker calls ``importlib.invalidate_caches()``, and
a plain ``zipimporter`` then re-reads its whole archive directory; a
worker holds one per package directory it imported from ``pyspark.zip``,
the py4j zip and the spark-core jar, so each task re-read thousands of
entries (0.15-0.22 s with Python 3.11 on a 4-core Xeon). A
:class:`StampedZipImporter` re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed, the rule Python applies to ``.pyc``
files. Run as ``__main__`` this module swaps the class in for the zip
path hook and every zip importer already cached, then runs
``pyspark.daemon.manager()``: each forked worker inherits the stamped
importers and the already-imported ``mura_spark``.
"""

import importlib
import os
import sys
import zipimport


class StampedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` keeps the directory
    it read while the archive's stamp is unchanged."""

    _stamp = None  # (st_mtime_ns, st_size) when last read; None: unread

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = st.st_mtime_ns, st.st_size
        except OSError:
            stamp = None
        if stamp is None or stamp != self._stamp:
            self._stamp = stamp
            super().invalidate_caches()


def install() -> None:
    """Stamp the zip path hook and every cached zip importer, then have
    each read its archive under a stamp: here, once, rather than in
    every forked worker."""
    sys.path_hooks[:] = [StampedZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = StampedZipImporter
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon
    daemon.manager()
