"""Interpreter-start hook for the Python processes Spark launches for
this package's sessions.  ``session.ensure_ready`` puts this directory
on their ``PYTHONPATH`` only (never on the driver's), so task daemons,
datasource planner daemons and the workers they fork all start with
``pydaemon``'s zip guard installed.

``pydaemon.py`` is loaded by file path under its package name, and the
package itself is not imported: the hook works whatever else is on the
path, and a worker imports ``hadoop_formats_spark`` only when a task or
planner needs it, from the checkout ``ensure_ready`` put next to this
directory.  A ``sitecustomize`` further down ``sys.path`` is run after
the guard, as if this one were not there."""

import importlib.machinery
import importlib.util
import os
import sys

_SITE = os.path.dirname(os.path.abspath(__file__))

_guard = importlib.util.spec_from_file_location(
    "hadoop_formats_spark.pydaemon", os.path.join(os.path.dirname(_SITE), "pydaemon.py")
)
_pydaemon = importlib.util.module_from_spec(_guard)
_guard.loader.exec_module(_pydaemon)
_pydaemon.install()

_next = importlib.machinery.PathFinder.find_spec(
    __name__, [p for p in sys.path if os.path.abspath(p) != _SITE]
)
if _next is not None:
    sys.modules[__name__] = importlib.util.module_from_spec(_next)
    _next.loader.exec_module(sys.modules[__name__])
