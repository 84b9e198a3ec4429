"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload tfcall --seed 1 --seconds 10 --trace 0

Workloads: tfcall, trigger_stream, query_mix (see perfbench/README.md).
With --trace 0 the result holds the end-to-end metrics; with --trace 1 it
holds the per-layer metrics from spans and Spark counters, and the spans
are kept in the run's record in .perfbench_runs/ in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import common
from common import Run

WORKLOADS = ("tfcall", "trigger_stream", "query_mix")


def _descendants(pid: int) -> list[int]:
    """Every live process below `pid` (the JVM's Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        kids = [c for c, p in parent.items() if p == cur]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark() -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = gw.proc
    workers = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if _alive(w)]
        time.sleep(0.05)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    r = Run(
        args.workload, args.seed, args.seconds, bool(args.trace),
        started=common.process_start_time(),
    )
    sys.path.insert(0, common.ROOT)
    try:
        import redisgears_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    common.prepare(r)
    ticks = common.cpu_ticks()
    t = time.time()
    canary = [common.canary_ms()]
    canary_all = [common.all_core_canary_ms()]
    r.started += time.time() - t  # the canaries are not set-up work
    wl = importlib.import_module(f"wl_{args.workload}")
    try:
        correct = wl.run(r)
        r.mark("workload")
        r.layer["mem.driver_hwm_mb"] = (common.vm_hwm_mb(), "MiB")
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        r.layer["mem.jvm_hwm_mb"] = (common.vm_hwm_mb(common.jvm_pid(sc)), "MiB")
    finally:
        _stop_spark()
        shutil.rmtree(r.work, ignore_errors=True)
        try:
            os.rmdir(common.WORK_ROOT)  # only when no other run uses it
        except OSError:
            pass
    r.mark("stopped")
    canary.append(common.canary_ms())
    canary_all.append(common.all_core_canary_ms())
    r.layer["box.md5_ms"] = (sum(canary) / 2, "ms")
    r.layer["box.md5_all_ms"] = (sum(canary_all) / 2, "ms")
    r.notes.update(
        canary_ms=canary, canary_all_ms=canary_all, steal_pct=common.steal_pct(ticks)
    )
    from probes import LAYER_METRICS

    for name, unit in LAYER_METRICS:
        r.layer.setdefault(name, (0.0, unit))
    common.save_record(r)
    print(f"perfbench: notes {json.dumps(r.notes)}", file=sys.stderr)
    common.emit(r, correct)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
