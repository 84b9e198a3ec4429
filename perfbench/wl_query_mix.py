"""`query_mix`: one client runs a fixed ordered list of inventory queries,
each built by its factory and executed into the noop sink, in whole passes
with `reclaim_scratch()` between passes.

The list holds one name from each of eight operator modules, and one name
behind each size switch: `_CC_` (dedup_clusters), `_PR_`
(part_copurchase_pagerank), `_BPE_` (pipeline_bpe_train), `_BRUTEFORCE_`
(sim_topk_bruteforce) and `_JOIN_PATH_` (customer_fuzzy_link). At sf0.01
every switch takes its small-input (local) branch; the distributed branches
are not run. dedup_clusters and part_copurchase_pagerank spend most of their
time building the DataFrame (eager jobs and scratch writes). The engine and
streaming layers do no work.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent import futures
from contextlib import nullcontext
from types import SimpleNamespace

import fixture
import probes
from common import SCALE, Run, get_spark
from stats import geomean, percentile
from spans import JobCounter, Tracer

NAMES = (
    "q11_lookup_join",
    "events_user_zscore",
    "docs_char_class_profile",
    "dedup_clusters",
    "sim_topk_bruteforce",
    "part_copurchase_pagerank",
    "pipeline_bpe_train",
    "customer_fuzzy_link",
)
# a warm pass over NAMES takes about this long on 4 cores; the timed window
# is the whole number of passes closest to --seconds, so both sides of a
# comparison run exactly the same work
PASS_NOMINAL_S = 9.0


def _scratch_mb() -> float:
    """Size of the scratch parquet directories under the run's temp dir."""
    tmp = os.environ["TMPDIR"]
    total = 0
    for d in os.listdir(tmp):
        if d.startswith("rg-scratch-"):
            for root, _, files in os.walk(os.path.join(tmp, d)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def run(r: Run) -> bool:
    from redisgears_spark.operators import ORACLES, QUERIES
    from redisgears_spark.sources.keyspace import reclaim_scratch

    from tests import oracle

    tr = Tracer(r.trace)
    sf_dir = fixture.write(fixture.generate(r.seed, SCALE), os.path.join(r.work, "fixture"))
    t = time.perf_counter()
    spark = get_spark(r)
    r.layer["session.get_spark_s"] = (time.perf_counter() - t, "s")
    setup_s = time.time() - r.started
    r.mark("setup")

    # warm-up pass, doubling as the correctness check: every result is
    # collected and compared with its DuckDB oracle by the repository's own
    # comparator, on a thread while the next query runs
    con = oracle.duckdb_conn(sf_dir)
    con.execute("SET threads = 1")  # leave the cores to the warm-up pass
    checks = {}
    with futures.ThreadPoolExecutor(1) as pool:
        for name in NAMES:
            r.attempted += 1
            try:
                got = QUERIES[name](spark, sf_dir).toPandas()
            except Exception as e:  # counted as a failed query
                r.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            collected = SimpleNamespace(toPandas=lambda got=got: got)
            checks[name] = pool.submit(oracle.compare, collected, con, ORACLES[name], name)
        t_wait = time.perf_counter()
        for name, check in checks.items():
            try:
                check.result()
            except Exception as e:  # a wrong result is a failed query
                r.fail(f"{name}: {type(e).__name__}: {e}")
        r.notes["oracle_wait_s"] = time.perf_counter() - t_wait
    con.close()
    reclaim_scratch()
    r.mark("warmup_check")

    jc = JobCounter(spark) if r.trace else None
    group = jc.group if jc else lambda _: nullcontext()
    module = {n: QUERIES[n].__module__.rsplit(".", 1)[-1] for n in NAMES}
    execs: list[tuple[str, float, float]] = []  # (name, build s, exec s)
    pass_walls, scratch = [], []
    for p in range(max(1, round(r.seconds / PASS_NOMINAL_S))):
        t_pass = time.perf_counter()
        with tr.span("query_mix.pass", trace_id=f"pass/{p}"):
            for name in NAMES:
                tag = f"{p}/{name}"
                r.attempted += 1
                try:
                    with tr.span("operators.build", trace_id=tag, module=module[name]) as b, group(f"{tag}/b"):
                        t0 = time.perf_counter()
                        df = QUERIES[name](spark, sf_dir)
                        t1 = time.perf_counter()
                    with tr.span("operators.exec", trace_id=tag, module=module[name]) as e, group(f"{tag}/e"):
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as ex:  # counted as a failed query
                    r.fail(f"{name}: {type(ex).__name__}: {ex}")
                    continue
                execs.append((name, t1 - t0, t2 - t1))
                if jc:
                    b.attrs.update(jc.counts(f"{tag}/b"))
                    e.attrs.update(jc.counts(f"{tag}/e"))
            if jc:
                scratch.append(_scratch_mb())
            reclaim_scratch()
        pass_walls.append(time.perf_counter() - t_pass)

    r.mark("timed")
    ms = [(b + x) * 1000.0 for _, b, x in execs]
    r.metrics["setup_s"] = (setup_s, "s")
    r.metrics["rate_per_s"] = (len(execs) / sum(pass_walls), "1/s")
    r.metrics["typical_ms"] = (geomean(ms), "ms")
    r.metrics["tail_ms"] = (percentile(ms, 90), "ms")
    r.notes.update(passes=len(pass_walls), executions=len(execs), pass_s=pass_walls)

    if r.trace:
        r.spans = tr.spans
        n = len(pass_walls)
        builds = [s for s in tr.spans if s.name == "operators.build"]
        runs = [s for s in tr.spans if s.name == "operators.exec"]
        r.layer["operators.build_s"] = (sum(s.duration for s in builds) / n, "s")
        r.layer["operators.build_jobs"] = (sum(s.attrs["jobs"] for s in builds) / n, "count")
        r.layer["operators.exec_s"] = (sum(s.duration for s in runs) / n, "s")
        r.layer["operators.exec_jobs"] = (sum(s.attrs["jobs"] for s in runs) / n, "count")
        r.layer["operators.tasks"] = (sum(s.attrs["tasks"] for s in runs) / n, "count")
        r.layer["operators.failed_tasks"] = (
            sum(s.attrs["failed_tasks"] for s in builds + runs) / n, "count"
        )
        r.layer["operators.scratch_mb"] = (statistics.fmean(scratch), "MiB")
        for m in probes.OPERATOR_MODULES:
            secs = sum(s.duration for s in builds + runs if s.attrs["module"] == m)
            r.layer[f"operators.{m}.s"] = (secs / n, "s")
        probes.layer_probes(r, spark, sf_dir, tr, jc)
    return r.failed == 0
