"""Per-task Python-worker overhead fix: skip redundant zipimport rescans.

Why: every PySpark task begins with `worker_util.setup_spark_files`, which
unconditionally calls `importlib.invalidate_caches()` (pyspark 4.1.2,
worker_util.py:144). On a worker whose `sys.path` contains zip archives
(pyspark.zip, py4j-src.zip — always, in any stock deployment), each call
makes every cached `zipimporter` re-read its whole archive central
directory before user code runs. On 4 cores a one-task `rdd.map` job
took ~308 ms when every task paid it and ~76 ms when none did; the call
alone timed 117-165 ms inside a task.

The invalidation exists so files shipped mid-session (SparkContext.addPyFile)
become importable. `worker_util.add_path` only mutates `sys.path` when a NEW
path arrives, so "something new was shipped" is observable as a `sys.path`
change — this patch makes the invalidation conditional on exactly that,
preserving the addPyFile contract while making the steady-state task
preamble O(len(sys.path)) instead of O(total zip entries).

Known (accepted) semantic narrowing: re-shipping a DIFFERENT archive under
an ALREADY-KNOWN path mid-session no longer invalidates zipimporter caches.
Directory-based imports are unaffected (FileFinder auto-invalidates via
directory mtime). This engine never re-ships archives.

Where the patch is installed: in whichever process imports this module.
`redisgears_spark/__init__.py` imports it, so importing anything from the
package installs it. Two such imports reach the Python workers:

- The Python daemon. `session.get_spark` sets `spark.python.daemon.module`
  to `redisgears_spark.workerdaemon`, which imports this module before
  `pyspark.daemon.manager()` forks a worker. Every worker starts patched,
  so every task takes the short preamble: plain RDD and UDF tasks, Arrow
  kernels (mapInPandas, applyInPandas, applyInPandasWithState), Python
  data-source reads, and the PythonRDDs behind `createDataFrame` of a
  local list. A worker still invalidates once, on its first task, when
  `add_path` adds the session's SparkFiles directory.
- A kernel. A worker of a session built without `get_spark`'s settings (a
  bare `SparkSession.builder`, as the external driver builds) comes from
  the stock daemon. It is patched as soon as it unpickles one of this
  engine's kernels: it pays the stock preamble on that first task and is
  patched from its next task on. A kernel handed to mapInPandas,
  mapInArrow or applyInPandas is a module-level function or a
  `functools.partial` of one: the pickler writes the function by
  reference, so unpickling it imports the package, and the partial's
  bound values (broadcast handles, codebooks, lookup tables) by value.
  `tests/test_workerpatch.py::test_no_nested_kernel_is_shipped` fails on
  a kernel defined inside the function that ships it. (The streaming
  runtimes' router and reducer factories return closures that reach the
  package through a module-level name of it or an import as they run.)
  Without a package import, a bare session's Python tasks paid the stock
  preamble on every task: a bare-session run of the 70 `dedup_*`, `sim_*`
  and `pipeline_*` registry queries (4 cores, sf0.01) took a median
  138 s against 118 s with it.

On the driver the patch does nothing: the driver never runs
`setup_spark_files`.
"""

from __future__ import annotations

import importlib
import sys


class _LazyInvalidator:
    """importlib facade whose invalidate_caches() only fires when sys.path
    has changed since the last call (the only signal setup_spark_files
    acts on — add_path inserts iff the path is new)."""

    def __init__(self, real):
        self._real = real
        self._last_path = list(sys.path)

    def invalidate_caches(self) -> None:
        if sys.path != self._last_path:
            self._real.invalidate_caches()
            self._last_path = list(sys.path)

    def __getattr__(self, attr):
        return getattr(self._real, attr)


def _install() -> None:
    try:
        import pyspark.worker_util as wu
    except ImportError:
        # never let an internal-layout change in pyspark stop the daemon or
        # an import of the package; the patch is a perf fix, not a
        # correctness dependency
        return
    wu.importlib = _LazyInvalidator(importlib)  # type: ignore[assignment]


_install()
