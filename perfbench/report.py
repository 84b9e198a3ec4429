"""Run every workload untraced and traced, then print the end-to-end
metrics under their per-workload names, the per-layer self time and
counts from the spans, and the tracing overhead.

    python3 perfbench/report.py --seed 1 --seconds 10
    python3 perfbench/report.py --records    # only read .perfbench_runs/

Self time of a span is its duration minus the part its child spans cover;
overhead is (traced - untraced) / untraced per end-to-end metric, from one
run each, so it carries the run-to-run spread.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
from collections import defaultdict

import common
from probes import LAYER_METRICS
from run import WORKLOADS
from spans import Span, self_times

# the generic end-to-end metric -> its name on each workload
NAMES = {
    "tfcall": {
        "setup_s": "setup_s", "rate_per_s": "calls_per_s",
        "typical_ms": "call_geomean_ms", "tail_ms": "call_p90_ms",
    },
    "trigger_stream": {
        "setup_s": "setup_s", "rate_per_s": "backfill_events_per_s",
        "typical_ms": "event_latency_p50_ms", "tail_ms": "event_latency_batch_max_p50_ms",
    },
    "query_mix": {
        "setup_s": "setup_s", "rate_per_s": "queries_per_s",
        "typical_ms": "query_geomean_ms", "tail_ms": "query_p90_ms",
    },
}


def _record(workload: str, trace: int, seed: int | None) -> dict | None:
    pat = f"{workload}-trace{trace}-seed{'*' if seed is None else seed}.json"
    paths = sorted(glob.glob(os.path.join(common.RECORD_ROOT, pat)), key=os.path.getmtime)
    if not paths:
        return None
    with open(paths[-1]) as fh:
        return json.load(fh)


def _rollup(rec: dict) -> list[tuple[str, int, float, dict]]:
    """Per span name: count, total self time (s) and summed counters."""
    spans = [Span(**s) for s in rec["spans"]]
    selfs = self_times(spans)
    out: dict[str, list] = defaultdict(lambda: [0, 0.0, defaultdict(int)])
    for s in spans:
        row = out[s.name]
        row[0] += 1
        row[1] += selfs[s.span_id]
        for k in ("jobs", "tasks", "failed_tasks"):
            if k in s.attrs:
                row[2][k] += s.attrs[k]
    return [(n, c, t, dict(k)) for n, (c, t, k) in sorted(out.items())]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--records", action="store_true", help="do not run; report the latest records")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    seed = None if args.records else args.seed
    if not args.records:
        for wl in workloads:
            for trace in (0, 1):
                cmd = [
                    sys.executable, os.path.join(common.BENCH_DIR, "run.py"),
                    "--workload", wl, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(trace),
                ]
                subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    for wl in workloads:
        plain, traced = _record(wl, 0, seed), _record(wl, 1, seed)
        print(f"== {wl}")
        if plain:
            print(f"  attempted {plain['attempted']}  failed {plain['failed']}  seed {plain['seed']}")
            for key, name in NAMES[wl].items():
                v, unit = plain["metrics"][key]
                print(f"  {name:<24} {v:14.4f} {unit}")
            print(f"  notes {json.dumps(plain['notes'])}")
        if traced:
            print("  per-layer metrics (traced run)")
            for name, unit in LAYER_METRICS:
                print(f"    {name:<32} {traced['layer'][name][0]:14.4f} {unit}")
            print("  spans: name, count, self time, counters")
            for name, n, t, k in _rollup(traced):
                print(f"    {name:<24} {n:6d} {t:10.3f} s  {k or ''}")
        if plain and traced:
            print("  tracing overhead (traced vs untraced)")
            for key, name in NAMES[wl].items():
                a, b = plain["metrics"][key][0], traced["metrics"][key][0]
                print(f"    {name:<24} {100.0 * (b - a) / a:+7.1f} %")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
