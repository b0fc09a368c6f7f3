"""Python worker entry for the engine's Spark sessions.

``db_migration_spark.session.get_spark`` sets
``spark.python.worker.module=pyspark_graft_worker``, so the PySpark daemon
imports this module (the name must start with ``pyspark``: the daemon only
imports a custom worker module with that prefix) and forks its workers from
it; each runs ``pyspark.worker.main`` unchanged, task after task.

Why a custom entry: before every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
``zipimporter`` on the worker path re-read its archive's central directory —
``pyspark.zip`` (~1,300 entries), the py4j zip and the spark-core jar, which
Spark puts on the worker ``PYTHONPATH`` — 16 directory reads and ~0.25 CPU-s
per task, whatever the data size.  CPython 3.12 made the invalidation lazy.

This module replaces ``zipimport.zipimporter.invalidate_caches`` with one that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
this importer last read it.  The stamp is kept per ``(archive, prefix)``
importer, because several importers share one archive and each holds its own
copy of the directory.  Non-zip finders are still invalidated on every task,
and a zip added with ``addPyFile``/``--py-files``, or rewritten in place, is
still seen by the next task: that is what ``invalidate_caches()`` is for
(a rewrite that keeps the size is missed only within one mtime tick, on a
file system with coarse timestamps).  On 3.12+ the check only saves a no-op.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.worker import main

__all__ = ["main"]

_reread_directory = zipimport.zipimporter.invalidate_caches
# (archive, prefix) -> (st_mtime_ns, st_size) when that importer last read
# the archive's directory; None when the archive could not be stat'ed
_stamps: dict[tuple[str, str], tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive changed (or
    vanished) since this importer last read it."""
    key = (self.archive, self.prefix)
    # stat before reading: a rewrite racing the read leaves a stale stamp,
    # so the next call re-reads rather than missing it
    stamp = _stamp(self.archive)
    if stamp is not None and _stamps.get(key) == stamp:
        return
    _reread_directory(self)
    _stamps[key] = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

# the importers already on the path (pyspark.zip, py4j) read their
# directories moments ago, while this daemon imported pyspark: stamp them
# so that even a worker's first task skips the re-read
_stamps.update(
    ((finder.archive, finder.prefix), _stamp(finder.archive))
    for finder in list(sys.path_importer_cache.values())
    if isinstance(finder, zipimport.zipimporter)
)

if __name__ == "__main__":
    # without the daemon (``spark.python.use.daemon=false``) Spark runs
    # ``python -m <worker module>`` per worker; run pyspark.worker's own
    # ``__main__`` block, which connects back to the JVM and calls main
    import runpy
    import warnings

    # runpy warns that pyspark.worker is already imported (by this module,
    # for ``main``): expected here, and re-running it is harmless
    warnings.filterwarnings(
        "ignore", "'pyspark.worker' found in sys.modules", RuntimeWarning
    )
    runpy.run_module("pyspark.worker", run_name="__main__")
