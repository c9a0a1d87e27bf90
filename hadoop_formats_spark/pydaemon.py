"""Python worker daemon for this package's sessions
(``spark.python.daemon.module``, set by ``session.get_spark``).

PySpark's worker calls ``importlib.invalidate_caches()`` on every task,
and so does every datasource planner process
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 that
makes each cached ``zipimporter`` re-read its whole archive directory
at once; a worker holds 16 of them for ``pyspark.zip`` (1328 entries,
one importer per imported sub-package), and skipping those re-reads cut
a one-task identity job from 0.25 s to 0.10 s on ``local[3]`` (SCALE.md
"Per-task Python floor").  This module re-reads an archive only when
its ``(mtime, size)`` changed since the last read, as CPython's own
``FileFinder`` trusts directory mtimes, then runs PySpark's daemon.
Run as the daemon it installs the guard in itself and the workers it
forks; importing it changes nothing until ``install()``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data, unless it is unchanged since the
    last read and that read is still cached."""
    stamp = _stamp(self.archive)  # taken before any read: a change after it re-reads next time
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in this process."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # install from the importable module, not from this ``__main__`` copy
    from hadoop_formats_spark.pydaemon import install as _install
    from pyspark import daemon

    _install()
    importlib.invalidate_caches()  # read each archive once here, not once per forked worker
    daemon.manager()
