"""Python daemon for local sessions: ``pyspark.daemon`` plus one fix to
zip-archive cache invalidation.

Before every task a Python worker runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 each
``zipimport.zipimporter`` then re-reads its archive's central directory,
and a worker holds one importer per package it imported from
``pyspark.zip`` (~16 of them over a 1,300-entry archive): 0.15-0.2 s of
CPU per task before the UDF runs.  Here an importer re-reads its archive
only when the archive's ``os.stat`` (inode, size, mtime_ns) changed since
*that importer* last read it.  The stamp is kept per importer, not per
archive path: the first importer to see a changed archive must not hide
the change from the others, whose listings would stay stale.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for local masters.  It is the daemon hook, not the worker hook, because
Spark's daemon ignores a worker module whose name does not start with
``pyspark``.  Importing this module changes nothing; the patch is
installed only when it runs as the daemon (``python -m``).
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # stat before the read: an archive rewritten during the read carries a
    # newer stamp than the one kept, so the next call reads it again
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_recrun_stamp", None):
        _stock_invalidate(self)
        self._recrun_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager
    manager()
