"""Zip-import guard for the Python processes Spark launches for this
package's sessions: task daemons, datasource planner daemons and the
workers they fork.

PySpark's worker calls ``importlib.invalidate_caches()`` on every task,
and so does every datasource planner process (``schema()`` at
``load()``, ``partitions()`` at execution, the writer's commit):
``pyspark.worker_util.setup_spark_files``.  Before CPython 3.13 that
makes each cached ``zipimporter`` re-read its whole archive directory
at once; a worker holds 16 of them for ``pyspark.zip`` (1328 entries,
one importer per imported sub-package).  Skipping those re-reads cut
a one-task identity job from 0.25 s to 0.10 s, and a fresh
``hadoop_seq`` read's ``load()`` from about 0.17 s to 0.015 s, on
``local[3]`` (SCALE.md "Per-task Python floor").  This module re-reads
an archive only when its ``(mtime, size)`` changed since the last
read, as CPython's own ``FileFinder`` trusts directory mtimes.

No Spark conf selects the planners' daemon module, so the guard is
installed at interpreter start instead: ``session.ensure_ready`` puts
``_worker_site/`` and the checkout root on the workers' ``PYTHONPATH``
(``sc.environment``, which every planner and UDF wrapped afterwards
carries), and that directory's ``sitecustomize`` calls ``install()``.
The driver interpreter is left alone; importing this module changes
nothing until ``install()``.
"""

from __future__ import annotations

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
