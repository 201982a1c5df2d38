"""Spark's Python worker daemon, minus the per-task zip re-reads.

Every Python task, even one run by a reused worker, starts with
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  On Python 3.11 that makes each
``zipimport.zipimporter`` on the worker path re-read its archive's
whole central directory: the Spark core jar (thousands of entries)
and one importer per imported sub-package of ``pyspark.zip``, about
0.15-0.2 s per task on a 4-core host, where a JVM-only task takes a
few milliseconds.

Run as the daemon module (``spark.python.daemon.module``, which
:func:`dask_ms_spark.get_spark` sets), this module patches
``zipimporter.invalidate_caches`` to re-read an archive only when its
``(st_mtime_ns, st_size)`` differs from when that importer last read
it, so a rewritten archive is still re-read, then runs
``pyspark.daemon.manager()``.  Workers are forked from the daemon and
inherit the patch.  It imports only the standard library and
``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_dms_stamp"


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Importers already in ``sys.path_importer_cache`` are stamped as
    read now: in a freshly started daemon each one read its archive a
    moment ago.  An importer without a stamp re-reads on its first
    invalidation.  Patching twice is a no-op.
    """
    cls = zipimport.zipimporter
    read = cls.invalidate_caches
    if getattr(read, "_dms_patched", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, _STAMP, None):
            read(self)
            setattr(self, _STAMP, stamp)

    invalidate_caches._dms_patched = True
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            setattr(finder, _STAMP, _stamp(finder.archive))


if __name__ == "__main__":
    from pyspark import daemon

    patch_zipimport()
    daemon.manager()
