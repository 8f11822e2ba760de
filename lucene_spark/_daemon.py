"""Spark's Python worker daemon (``spark.python.daemon.module``), minus a
per-task cost: pyspark calls ``importlib.invalidate_caches()`` for every
task, and before CPython 3.13 that makes each ``zipimporter`` re-read its
archive's central directory (pyspark.zip: ~1300 entries, one importer per
subpackage). Here an archive is re-read only when its (mtime_ns, size,
inode) changed since the last read."""

import os
import sys


def _install_zip_cache() -> None:
    import zipimport

    reread, read_at = zipimport.zipimporter.invalidate_caches, {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and read_at.get(self.archive) == key and files is not None:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 made the invalidation lazy
        _install_zip_cache()
    from pyspark.daemon import manager

    manager()
