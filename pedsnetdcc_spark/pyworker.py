"""Python-worker daemon for local sessions: Spark's own daemon plus a
stat-guarded ``zipimport`` cache.

Every Python task runs ``importlib.invalidate_caches()`` (PySpark's
``worker_util.setup_spark_files``).  Before CPython 3.13 each cached
``zipimporter`` answers that by re-parsing its archive's whole central
directory, and a worker holds one importer per package path it has
imported from ``pyspark.zip`` — 12-16 re-reads of 1,328 entries per task,
about 0.2 CPU-s even with reused workers.  Importing this module
replaces that method with one that re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since its directory was last
read, or when the directory is no longer cached; a changed or added
archive is picked up exactly as before.  3.13+ reads lazily and is left
alone.

Run as ``python -m pedsnetdcc_spark.pyworker`` (``spark.python.daemon.module``,
set by :func:`pedsnetdcc_spark.session.build_session`), it runs
``pyspark.daemon.manager()``; forked workers inherit the guard.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _install() -> None:
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> stat stamp taken just before its directory was last
    # read; process-wide, like zipimport's own directory cache
    read_stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        stamp = _stat_stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and read_stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_stamps[self.archive] = stamp
        else:
            read_stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install()


if __name__ == "__main__":
    # a worker that imports this module by name gets this instance, not
    # a second copy that would wrap the guard again
    sys.modules.setdefault("pedsnetdcc_spark.pyworker", sys.modules[__name__])
    import importlib

    from pyspark import daemon

    # read each archive's directory once here, so forked workers start
    # with its stamp recorded
    importlib.invalidate_caches()
    daemon.manager()
