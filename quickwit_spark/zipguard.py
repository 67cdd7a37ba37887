"""Skip re-reading unchanged zip archives when import caches are invalidated.

A PySpark worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``) so that files shipped with
``SparkContext.addPyFile`` become importable.  On CPython 3.11 that call
makes every cached ``zipimport.zipimporter`` re-read its archive's whole
central directory.  A reused worker caches ~16 of them, over
``pyspark.zip`` (1,328 entries) and its sub-packages, the py4j zip and the
spark-core jar (5,359 entries): ~270 ms of CPU per task, which on a 4-vCPU
host was most of a light query's Spark job.

``install()`` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs from
the stamp it took at its own last re-read.  The stamp lives on the
importer instance, not on the archive path: several importers share one
archive (one per sub-package prefix), and when one of them re-reads a
changed archive the others must still drop their stale directory.  A new
or rewritten archive is therefore always re-read, and an archive that
cannot be stat'ed takes the original path.  An importer re-reads once
more on its first guarded invalidation, since it has no stamp yet.

Installed from quickwit_spark/__init__.py, which every Python worker
imports when it unpickles its first engine closure.
"""
from __future__ import annotations

import os
import zipimport

_STAMP = "_qw_archive_stamp"


def install() -> None:
    """Idempotently wrap ``zipimporter.invalidate_caches`` with the guard."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_qw_guard", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except (OSError, ValueError):
            self.__dict__.pop(_STAMP, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if self.__dict__.get(_STAMP) != stamp:
            # stat BEFORE the read: an archive rewritten in between keeps
            # the old stamp and is read again next time
            original(self)
            self.__dict__[_STAMP] = stamp

    invalidate_caches.__doc__ = original.__doc__
    invalidate_caches._qw_guard = True
    cls.invalidate_caches = invalidate_caches
