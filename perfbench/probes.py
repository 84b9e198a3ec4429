"""Per-layer metrics: the names every traced run reports, and the probes a
traced run makes after its timed window."""

from __future__ import annotations

import statistics
import time
from typing import Any

from common import Run
from stats import percentile
from spans import JobCounter, Tracer

# the modules that define the query_mix names, one `operators.<m>.s` each
OPERATOR_MODULES = (
    "inventory", "relational", "text", "dedup", "similarity", "graph",
    "pipeline", "linkage",
)

# every per-layer metric, reported by every workload: a layer the
# workload leaves idle reads 0
LAYER_METRICS: tuple[tuple[str, str], ...] = (
    ("session.get_spark_s", "s"),
    ("engine.load_library_ms", "ms"),
    ("engine.noop_call_us", "us"),
    ("engine.dispatch_ms_p50", "ms"),
    ("engine.async_wait_ms_p95", "ms"),
    ("engine.calls_failed", "count"),
    ("sources.build_ms_p50", "ms"),
    ("sources.build_jobs_per_call", "count"),
    ("spark.exec_ms_p50", "ms"),
    ("spark.jobs_per_call", "count"),
    ("spark.tasks_per_call", "count"),
    ("operators.build_s", "s"),
    ("operators.build_jobs", "count"),
    ("operators.exec_s", "s"),
    ("operators.exec_jobs", "count"),
    ("operators.tasks", "count"),
    ("operators.failed_tasks", "count"),
    ("operators.scratch_mb", "MiB"),
    *((f"operators.{m}.s", "s") for m in OPERATOR_MODULES),
    ("triggers.batches", "count"),
    ("triggers.batch_ms_p50", "ms"),
    ("triggers.add_batch_ms_p50", "ms"),
    ("triggers.source_ms_p50", "ms"),
    ("triggers.commit_ms_p50", "ms"),
    ("triggers.rows_per_batch_p50", "count"),
    ("triggers.sink_files", "count"),
    ("triggers.backlog_events_max", "count"),
    ("triggers.records_failed", "count"),
    ("triggers.records_deferred", "count"),
    ("generator.late_ms_max", "ms"),
    ("box.md5_ms", "ms"),
    ("box.md5_all_ms", "ms"),
    ("mem.driver_hwm_mb", "MiB"),
    ("mem.jvm_hwm_mb", "MiB"),
)

NOOP_CALLS = 500


def layer_probes(
    r: Run, spark: Any, sf_dir: str, tr: Tracer, jc: JobCounter,
    engine: Any = None,
) -> None:
    """After the timed window of a traced run: a no-op `engine.call` probe,
    one `load_table` per fixture table, and the sources figures over every
    DataFrame build the run recorded."""
    from redisgears_spark.engine import GearsEngine
    from redisgears_spark.sources.keyspace import TABLES, load_table

    engine = engine or GearsEngine(spark, sf_dir=sf_dir)
    engine.load_library(
        lambda lib: lib.register_function("noop", lambda client: 1),
        name="perfbench_probe",
    )
    us = []
    for _ in range(NOOP_CALLS):
        t = time.perf_counter()
        engine.call("perfbench_probe", "noop")
        us.append((time.perf_counter() - t) * 1e6)
    r.layer["engine.noop_call_us"] = (percentile(us, 50), "us")
    for name in TABLES:
        with tr.span("sources.build", trace_id=f"probe/{name}") as sp, jc.group(
            f"probe/{name}"
        ):
            load_table(spark, sf_dir, name)
        sp.attrs.update(jc.counts(f"probe/{name}"))
    builds = [s.duration * 1000.0 for s in tr.spans if s.name == "sources.build"]
    r.layer["sources.build_ms_p50"] = (percentile(builds, 50), "ms")
    jobs = [s.attrs["jobs"] for s in tr.spans if s.name == "sources.build"]
    r.layer["sources.build_jobs_per_call"] = (statistics.fmean(jobs), "count")
