"""Python daemon entry for ``get_spark`` sessions: pyspark's own daemon
and worker, minus one redundant re-read per task.

Every task a Python worker runs (``mapInPandas``, ``applyInPandas``,
Python UDFs) starts in ``pyspark.worker_util.setup_spark_files``, which
ends with ``importlib.invalidate_caches()`` so that files shipped with
``addPyFile``/SparkFiles become importable. On CPython 3.11 that call
also makes every ``zipimporter`` re-read its archive's whole central
directory, and ``$SPARK_HOME/python/lib/pyspark.zip`` is served by one
zipimporter per pyspark package directory a worker imported from (12
of a worker's 16 zipimporters; ~12 ms per read of its 1,328 entries),
so each task spent 0.15-0.24 s of CPU before any UDF code ran (4-vCPU
VM, Spark 4.1, Python 3.11).

``invalidate_caches`` below does what ``importlib.invalidate_caches``
does, except that a zipimporter re-reads its directory only when its
archive's (mtime, size) changed since the last read. Path-directory
finders are still invalidated on every task, so ``addPyFile`` modules
stay importable exactly as before.

Spark starts this module as the daemon
(``spark.python.daemon.module``, set by ``session.get_spark``):
``python -m sunat_rree_demo_spark.pydaemon pyspark.worker``. It installs
the replacement, then runs ``pyspark.daemon.manager()`` unchanged, and
the workers it forks inherit the replacement. It cannot be the worker
module instead: pyspark's daemon honours a worker module only if its
name starts with ``pyspark`` and otherwise silently runs
``pyspark.worker``. If the installed pyspark no longer calls
``invalidate_caches`` per task, the stock function is left in place.

Sessions the engine did not create (the driver's vanilla session, which
only gets ``session.tune``) run stock pyspark: the daemon module is a
context-level conf.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = importlib.invalidate_caches

#: archive path -> (st_mtime_ns, st_size) taken just before its
#: directory was last read by ``invalidate_caches`` (None: it could not
#: be stat'ed, so it is read again next time). Process-wide, like the
#: zip directory cache and the path-finder cache it describes.
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()``, except that a zipimporter whose
    archive is unchanged on disk since its last read here keeps its
    directory cache. The first call in a process re-reads every archive
    once (there is no stamp yet); a changed archive is re-read by all of
    its zipimporters in the same call."""
    cache = sys.path_importer_cache
    kept, reread = {}, {}
    for path, finder in list(cache.items()):
        if not (isinstance(finder, zipimport.zipimporter)
                and os.path.isabs(path)):
            continue
        stamp = _stamp(finder.archive)
        if stamp is not None and _read_stamps.get(finder.archive) == stamp:
            kept[path] = cache.pop(path)
        else:
            reread[finder.archive] = stamp
    try:
        # the stock walk over what is left: every other path finder,
        # the namespace-path epoch and the meta-path finders
        _stock_invalidate_caches()
    finally:
        cache.update(kept)
    _read_stamps.update(reread)


def install() -> None:
    """Route this process's ``importlib.invalidate_caches`` (and so the
    one pyspark calls per task) through ``invalidate_caches``. Reads
    every archive already open once, so that forked workers start with
    stamps. Changes nothing when the installed pyspark does not call it
    per task."""
    try:
        from pyspark.worker_util import setup_spark_files
    except ImportError:
        return
    if "invalidate_caches" not in setup_spark_files.__code__.co_names:
        return
    invalidate_caches()
    importlib.invalidate_caches = invalidate_caches


def main() -> None:
    # pyspark.daemon picks and imports the worker module (sys.argv[1])
    # at import, so install after it: the archives that import opened
    # get their stamps before the first fork.
    from pyspark import daemon

    install()
    daemon.manager()


if __name__ == "__main__":
    # run the importable module's main, not this __main__ copy's, so
    # workers see the installed function as
    # sunat_rree_demo_spark.pydaemon.invalidate_caches
    from sunat_rree_demo_spark.pydaemon import main as _main

    _main()
