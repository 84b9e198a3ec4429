"""What every workload shares: the run's working directory and
environment, the Spark session, the machine canary, memory high-water
marks and the result line."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import asdict, dataclass, field
from typing import Any

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# run directories live in the checkout; .gitignore names this directory
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# one record per run (metrics, notes and, traced, the spans), read by
# perfbench/report.py
RECORD_ROOT = os.path.join(ROOT, ".perfbench_runs")

# at most 4 load threads and 4 Spark cores, whatever the machine has
CORES = min(4, os.cpu_count() or 1)
# every fixture-backed workload uses this scale (60k lineitems)
SCALE = 0.01


def process_start_time() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def canary_ms() -> float:
    """A fixed single-thread CPU task (md5 over 32 MiB); its time tracks the
    machine's speed, not the program's."""
    buf = bytes(range(256)) * 4096
    t = time.perf_counter()
    h = hashlib.md5()
    for _ in range(32):
        h.update(buf)
    h.hexdigest()
    return (time.perf_counter() - t) * 1000.0


def _canary_at(barrier, out) -> None:
    barrier.wait()
    out.put(canary_ms())


def all_core_canary_ms() -> float:
    """The canary on CORES processes started together, mean time: unlike
    the one-thread canary, it is meant to slow when the machine cannot give
    the run all its cores at once."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    barrier, out = ctx.Barrier(CORES), ctx.Queue()
    procs = [ctx.Process(target=_canary_at, args=(barrier, out)) for _ in range(CORES)]
    for p in procs:
        p.start()
    times = [out.get() for _ in procs]
    for p in procs:
        p.join()
    return sum(times) / len(times)


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(since: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others since `since`."""
    d = [b - a for a, b in zip(since, cpu_ticks())]
    return 100.0 * d[7] / max(1, sum(d))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Run:
    """One benchmark invocation: its arguments, its directory and what it
    measured."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    started: float
    work: str = ""
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    # diagnostics that are not metrics: sample counts, canaries, mix
    notes: dict[str, Any] = field(default_factory=dict)
    spans: list = field(default_factory=list)

    def mark(self, phase: str) -> None:
        """Note the wall time since process start at the end of a phase."""
        self.notes.setdefault("phase_s", {})[phase] = round(time.time() - self.started, 3)

    def fail(self, what: str) -> None:
        """Record one failed operation or wrong result."""
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def prepare(run: Run) -> None:
    """Create the run directory and point every temp file, Spark's local
    dirs and the Python workers' import path into or at the checkout."""
    run.work = os.path.join(WORK_ROOT, f"{run.workload}-{run.seed}-{os.getpid()}")
    shutil.rmtree(run.work, ignore_errors=True)
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # Python workers unpickle trigger callbacks by module reference: they
    # need the program and the benchmark on their import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR, os.environ.get("PYTHONPATH", "")]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def get_spark(run: Run):
    """The program's own session factory, with temp files kept in the run
    directory."""
    from redisgears_spark.session import get_spark as program_get_spark

    tmp = os.environ["TMPDIR"]
    return program_get_spark(
        f"perfbench-{run.workload}",
        cpus=CORES,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.executor.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid(sc: Any) -> int:
    return int(sc._jvm.java.lang.ProcessHandle.current().pid())


def save_record(run: Run) -> None:
    """Write the run's metrics, notes and spans to RECORD_ROOT."""
    os.makedirs(RECORD_ROOT, exist_ok=True)
    path = os.path.join(
        RECORD_ROOT, f"{run.workload}-trace{int(run.trace)}-seed{run.seed}.json"
    )
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": run.workload,
                "seed": run.seed,
                "seconds": run.seconds,
                "trace": run.trace,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": run.metrics,
                "layer": run.layer,
                "notes": run.notes,
                "spans": [asdict(s) for s in run.spans],
            },
            fh,
        )


def emit(run: Run, correct: bool) -> None:
    """Print the result line: end-to-end metrics untraced, per-layer
    metrics traced."""
    chosen = run.layer if run.trace else run.metrics
    for e in run.errors:
        print(f"perfbench: failed: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(run.attempted),
                "failed": int(run.failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()
                },
            }
        ),
        flush=True,
    )
