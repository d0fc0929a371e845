"""Python-worker daemon for local sessions: Spark's own daemon plus a
stat-guarded ``zipimport`` cache, started from a preloaded, gc-frozen
heap.

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

A reused worker runs a full ``gc.collect()`` after every task
(``pyspark.daemon``'s worker loop).  Once pandas, pyarrow and
``pyspark.sql`` are loaded that walks ~73k objects, 20-40 ms of CPU a
task on a 4-core x86 VM (CPython 3.11.7).  Objects frozen with
``gc.freeze()`` before the fork are skipped by every collection in the
children, so the daemon imports what each Arrow/pandas worker needs once
and freezes it (:func:`_prefork`); forked workers then neither import
pandas/pyarrow themselves nor re-walk them per task.  Preloading alone
gains nothing: the per-task collection then walks the preloaded objects
instead.

Run as ``python -m pedsnetdcc_spark.pyworker`` (``spark.python.daemon.module``,
set by :func:`pedsnetdcc_spark.session.build_session`), it runs
:func:`_prefork` and then ``pyspark.daemon.manager()``; forked workers
inherit the guard and the frozen heap.  Importing the module freezes and
preloads nothing.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

# what every Arrow/pandas worker imports
PRELOAD = ("pyspark.worker", "pyspark.sql.pandas.serializers", "pandas", "pyarrow")


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


def _prefork() -> None:
    """The daemon's step before it forks any worker: import
    :data:`PRELOAD` (a module that raises ``ImportError`` is skipped),
    read each archive's directory once so workers start with its stamp
    recorded, then freeze every surviving object out of the collector's
    reach.

    Spark's daemon already forks with numpy's OpenBLAS threads running;
    the only thread these imports add is pyarrow's jemalloc background
    thread, whose allocator state jemalloc resets in the child through
    its fork handlers."""
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:
            pass
    importlib.invalidate_caches()
    # collect first, or the import garbage would be frozen for good
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    # a worker that imports this module by name gets this instance, not
    # a second copy that would wrap the guard again
    sys.modules.setdefault("pedsnetdcc_spark.pyworker", sys.modules[__name__])
    from pyspark import daemon

    _prefork()
    daemon.manager()
