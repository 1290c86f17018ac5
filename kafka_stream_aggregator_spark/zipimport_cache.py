"""Skip re-reading unchanged zip archives on `importlib.invalidate_caches()`.

PySpark's worker calls `importlib.invalidate_caches()` before every
Python task (`pyspark.worker_util.setup_spark_files`). On CPython 3.11
and 3.12 that makes every cached `zipimport.zipimporter` re-read its
whole archive directory. A worker holds one importer per package
directory of `pyspark.zip` (1,328 entries) and of the `spark-core` jar
(5,359 entries), 16 in all, which costs about 0.24 CPU-s per task even
for a UDF that does nothing. CPython 3.13 reads the directory lazily and
needs none of this.

`install()` wraps `zipimporter.invalidate_caches` so that an importer
re-reads its archive only when the archive's (mtime_ns, size, inode)
changed since that importer last read it. The stat is taken before the
read, so a write that lands during the read is seen on the next call. A
failed stat falls through to the original method.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> bool:
    """Wrap `zipimporter.invalidate_caches` once per process. Returns
    whether the wrapper is in place (never on Python 3.13 or later)."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    original = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except (OSError, ValueError):
            return original(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if self.__dict__.get("_archive_stat") != key:
            original(self)
            self._archive_stat = key

    invalidate_caches.__wrapped__ = original
    cls.invalidate_caches = invalidate_caches
    return True
