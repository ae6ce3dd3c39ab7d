"""Python worker daemon: ``pyspark.daemon`` with zip-archive directories
re-read only when the archive changed.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython below 3.13 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its whole archive directory. A worker holds one importer per package
directory it imported from ``pyspark.zip`` (1,328 entries): with the 14 of
a pandas-UDF worker, one call cost ~90 ms of CPU on a 4-vCPU Xeon host,
paid by every task for the same unchanged zip (~0.1 ms with the wrapper).
CPython 3.13 made zipimport invalidation lazy.

:func:`install` wraps ``zipimporter.invalidate_caches``: the archive is
stat'ed, and its directory is re-read only when ``(st_mtime_ns, st_size)``
differs from the last read; otherwise the importer just re-attaches the
shared cached directory. A rewritten archive is still re-read, so imports
behave as before. The daemon installs the wrapper and reads each archive
once before it forks, so every forked worker inherits both.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Run as ``python -m wingfoil_spark.pydaemon`` (Spark passes the worker
module as the first argument, exactly as for ``pyspark.daemon``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: the stock method, called whenever an archive does need a re-read
_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) when its directory was last read;
#: per process, like zipimport's own directory cache that it guards
_read_as: dict[str, tuple[int, int]] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    sig = _signature(self.archive)  # before the read: a racing rewrite re-reads next time
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _read_as.get(self.archive) == sig:
        self._files = files
        return
    _reread(self)
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _read_as[self.archive] = sig
    else:
        _read_as.pop(self.archive, None)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process (and in
    every process it forks afterwards). Idempotent."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    from pyspark import daemon  # imports the worker module before any fork

    importlib.invalidate_caches()  # one read per archive, inherited by forks
    daemon.manager()


if __name__ == "__main__":
    main()
