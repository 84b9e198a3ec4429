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

Where the patch is installed:

- In the Python daemon. `session.get_spark` sets
  `spark.python.daemon.module` to this module, whose `__main__` calls
  `ensure()` and then runs `pyspark.daemon.manager()`. Every worker the
  daemon forks starts patched, so every task takes the short preamble:
  plain RDD and UDF tasks, and the PythonRDDs behind `createDataFrame`
  of a local list, which run none of this engine's kernels. A worker
  still invalidates once, on its first task, when `add_path` adds the
  session's SparkFiles directory.
- At the top of every Arrow kernel this engine ships (trigger processors,
  stateful reducers, similarity/multimodal/BPE kernels), through
  `ensure()` or `arrow_kernel`. That is the fallback for a session built
  without `get_spark`'s settings (a bare `SparkSession.builder`): there
  a worker pays the stock preamble until one of those kernels reaches
  it, and is patched from its next task on.

Importing this module on the DRIVER is harmless: the driver never runs
`setup_spark_files`.
"""

from __future__ import annotations

import importlib
import sys

_done = False


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


def ensure() -> None:
    """Idempotent; ~100 ns after the first call. Safe on driver and worker."""
    global _done
    if _done:
        return
    _done = True
    try:
        import pyspark.worker_util as wu

        if not isinstance(getattr(wu, "importlib", None), _LazyInvalidator):
            wu.importlib = _LazyInvalidator(importlib)  # type: ignore[assignment]
    except Exception:
        # never let an internal-layout change in pyspark break user jobs;
        # the patch is a perf fix, not a correctness dependency
        pass


def arrow_kernel(fn):
    """Wrap a mapInPandas/applyInPandas kernel so every worker that runs
    it installs the lazy-invalidation patch first. Use at the call site:
    `.mapInPandas(arrow_kernel(score), schema)` — the wrapper is what
    gets pickled, so ensure() runs worker-side before the kernel body."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        ensure()
        return fn(*args, **kwargs)

    return wrapper


if __name__ == "__main__":
    # Python daemon entry point (spark.python.daemon.module). Patch through
    # the imported module, not this `__main__` copy, so that kernel-site
    # ensure() calls in forked workers see the patch as already installed.
    from pyspark import daemon

    from redisgears_spark import workerpatch

    workerpatch.ensure()
    daemon.manager()
