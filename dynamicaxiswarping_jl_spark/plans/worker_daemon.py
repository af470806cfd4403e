"""PySpark worker daemon that skips unchanged zip-directory re-reads.

``get_spark`` sets ``spark.python.daemon.module`` to this module. Every
PySpark task starts with ``importlib.invalidate_caches()``; before CPython
3.12 (gh-103200 made it lazy) that makes every ``zipimporter`` re-read its
archive's whole directory (pyspark.zip, the py4j zip, the spark-core jar),
about 0.2 s per task. Here an importer re-reads only when its archive's
(inode, mtime, size) changed since the last read, and otherwise takes the
shared directory cache. Then it runs ``pyspark.daemon.manager()``.
"""

import importlib
import os
import sys
import zipimport


def skip_unchanged_zip_rereads() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process, and read
    each archive once so that forked workers inherit the read."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is None or read_at.get(self.archive) != sig:
            reread(self)
            read_at[self.archive] = sig
        else:
            self._files = zipimport._zip_directory_cache.get(self.archive, {})

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    skip_unchanged_zip_rereads()
    from pyspark import daemon
    daemon.manager()
