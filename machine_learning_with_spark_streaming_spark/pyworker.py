"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before CPython 3.12 that
makes every cached ``zipimporter`` re-read its whole archive directory:
``pyspark.zip`` has 1328 entries and a worker holds a dozen importers
into it (one per package path), so each task re-parsed the archive a
dozen times: about 0.21 CPU-s of worker time per task whatever its row
count, against 0.03 with this daemon (``mapInPandas`` identity, 4-core
host).

This daemon makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last
read, then runs the stock ``pyspark.daemon.manager()``; the forked
workers inherit the patch. A rewritten archive is still re-read, and a
missing one takes the stock path (the importer is emptied). CPython 3.12
re-reads lazily on its own, so there the daemon is the stock one.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` to skip unchanged archives
    (no-op on CPython 3.12+)."""
    if sys.version_info >= (3, 12):
        return
    stock = zipimport.zipimporter.invalidate_caches
    read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read.pop(self.archive, None)
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        hit = read.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        # stat before the read: an archive rewritten in between is read
        # again on the next call, since its key then differs
        stock(self)
        read[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # install from the named module, so the patch reports its home as
    # this module rather than ``__main__``
    from machine_learning_with_spark_streaming_spark import pyworker
    from pyspark import daemon

    pyworker.install()

    daemon.manager()
