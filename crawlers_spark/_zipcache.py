"""Stat-checked ``zipimporter.invalidate_caches``.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task. On CPython 3.11 every ``zipimporter`` answers that
by re-parsing its archive's central directory, and a worker holds one
importer per imported package directory of ``pyspark.zip`` (1,328
entries), py4j and the shipped package zip: 80-100 ms of CPU per task
that does no work. ``install()`` makes the call re-read an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed since this process
last read it, and otherwise reuses zipimport's own cached directory.
"""

from __future__ import annotations

import os
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_checked", False):
        return
    # archive path -> stat stamp taken just before its last read; the stat
    # comes first so a write racing the read shows up as a changed stamp
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        """Reload the file data of the archive path if its stat changed."""
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        read_at[self.archive] = stamp

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
