"""Skip the Python worker's no-op import-cache reset between tasks.

At the start of every task, Spark 4.1's worker runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python 3.11 that makes every cached
``zipimporter`` re-read its archive's directory — ``pyspark.zip`` alone
lists ~1,300 entries — and it dominates the worker's per-task start cost
(tens to hundreds of ms against a task body of a few ms).

The reset only matters when the task changed ``sys.path``: ``add_path``
inserts an include (a ``--py-files`` / ``addPyFile`` zip) only when it
is new, and Spark never re-registers a file name it already shipped.
:func:`install` therefore swaps ``worker_util``'s ``importlib`` for a
proxy that runs the real reset only when ``tuple(sys.path)`` differs
from the last one it saw. A new ``addPyFile`` zip still grows
``sys.path`` and still invalidates; a new ``.py`` file is copied into
the SparkFiles directory, already on ``sys.path``, whose path finder
notices the directory's new mtime without a reset.

The package calls :func:`install` when it is imported inside a Python
worker (``pyspark.worker_util`` already loaded). Every engine kernel
unpickles through ``tgdigest_spark``, so one import covers them all;
the driver never loads ``worker_util`` and is left alone.
"""

from __future__ import annotations

import importlib
import sys


class _ImportlibProxy:
    """``importlib`` with a ``sys.path``-gated ``invalidate_caches``."""

    def __init__(self, real):
        self._real = real
        self._seen = tuple(sys.path)

    def __getattr__(self, name):
        return getattr(self._real, name)

    def invalidate_caches(self) -> None:
        path = tuple(sys.path)
        if path != self._seen:
            self._seen = path
            self._real.invalidate_caches()


def install() -> bool:
    """Gate ``worker_util``'s import-cache reset on ``sys.path`` changes.

    Idempotent. Patches only the Spark 4.1 shape (``worker_util`` loaded
    and holding the ``importlib`` module itself); otherwise does nothing.
    Returns whether the proxy is in place.
    """
    wu = sys.modules.get("pyspark.worker_util")
    if wu is None:
        return False
    current = getattr(wu, "importlib", None)
    if isinstance(current, _ImportlibProxy):
        return True
    if current is not importlib:
        return False
    wu.importlib = _ImportlibProxy(importlib)
    return True
