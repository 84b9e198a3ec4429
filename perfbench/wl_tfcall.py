"""`tfcall`: a closed loop of TFCALL-style calls into one library.

CORES client threads each call, one after the other, a seeded mix of:
  70% get_order        sync, NO_WRITES: one order by key (client.lookup)
  20% customer_orders  async: count and max price of a customer's orders
  10% log_event        sync write of one row into the client's directory
Keys are uniform over the fixture's key ranges. Every call pays the
engine's dispatch, `load_table` building a DataFrame and Spark scheduling
a tiny job; the operators and streaming layers do no work.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from collections import Counter

import pyarrow.dataset as ds

import fixture
import probes
from common import CORES, SCALE, Run, get_spark
from stats import BEYOND, beyond, geomean, percentile
from spans import JobCounter, Span, Tracer, self_times

MIX = (("get_order", 0.7), ("customer_orders", 0.2), ("log_event", 0.1))
WARMUP_CALLS = 12  # per client, untimed


def _expected(tables) -> tuple[dict, dict]:
    """Replies the three functions must give, computed with pyarrow."""
    orders = tables["orders"]
    by_order = {
        row["o_orderkey"]: [str(v) for v in row.values()]
        for row in orders.to_pylist()
    }
    agg = orders.group_by("o_custkey").aggregate(
        [("o_totalprice", "count"), ("o_totalprice", "max")]
    )
    by_cust = {
        k: [n, m]
        for k, n, m in zip(
            agg["o_custkey"].to_pylist(),
            agg["o_totalprice_count"].to_pylist(),
            agg["o_totalprice_max"].to_pylist(),
        )
    }
    for k in range(tables["customer"].num_rows):
        by_cust.setdefault(k, [0, 0.0])
    return by_order, by_cust


def _ops(seed: int, client: int, phase: str, n_orders: int, n_cust: int):
    """The endless seeded sequence of (function, key, seq) one client calls:
    shuffled cycles of 10 calls holding exactly the MIX shares, so every
    window of a run sees nearly the same mix, and uniform keys."""
    rng = random.Random(f"{seed}/{client}/{phase}")
    cycle = [name for name, share in MIX for _ in range(round(share * 10))]
    seq = 0
    while True:
        rng.shuffle(cycle)
        for fn in cycle:
            key = rng.randrange(n_orders if fn == "get_order" else n_cust)
            seq += 1
            yield fn, key, seq


def _layers(r: Run, spans: list[Span]) -> None:
    """engine and Spark figures from the call spans. Dispatch is a call's
    self time: the call's wall time minus the body the benchmark owns."""
    selfs = self_times(spans)
    calls = {s.span_id: s for s in spans if s.name == "tfcall.call"}
    bodies = [s for s in spans if s.name == "engine.body"]
    execs = [s for s in spans if s.name == "spark.exec"]
    r.layer["engine.dispatch_ms_p50"] = (
        percentile([selfs[i] * 1000.0 for i in calls], 50), "ms"
    )
    waits = [
        (b.start - calls[b.parent_id].start) * 1000.0
        for b in bodies
        if calls[b.parent_id].attrs["fn"] == "customer_orders"
    ]
    r.layer["engine.async_wait_ms_p95"] = (percentile(waits, 95), "ms")
    r.layer["spark.exec_ms_p50"] = (percentile([s.duration * 1000.0 for s in execs], 50), "ms")
    r.layer["spark.jobs_per_call"] = (statistics.fmean(s.attrs["jobs"] for s in execs), "count")
    r.layer["spark.tasks_per_call"] = (statistics.fmean(s.attrs["tasks"] for s in execs), "count")


def run(r: Run) -> bool:
    tr = Tracer(r.trace)
    t = time.perf_counter()
    spark = get_spark(r)
    r.layer["session.get_spark_s"] = (time.perf_counter() - t, "s")
    from redisgears_spark.engine import NO_WRITES, GearsEngine

    tables = fixture.generate(r.seed, SCALE)
    sf_dir = fixture.write(tables, os.path.join(r.work, "fixture"))
    by_order, by_cust = _expected(tables)
    n_orders, n_cust = tables["orders"].num_rows, tables["customer"].num_rows
    log_root = os.path.join(r.work, "log")
    jc = JobCounter(spark) if r.trace else None
    calls: dict[str, object] = {}  # tag -> open call span, for async bodies

    def body(tag: str, build, execute, build_layer: str = "sources.build"):
        """Run a function body under spans and job groups: `build` makes
        the DataFrame (the sources layer, unless `build_layer` says
        otherwise), `execute` runs it (Spark)."""
        parent = calls.get(tag)
        with tr.span("engine.body", parent=parent) as sp:
            if not r.trace:
                return execute(build())
            with tr.span(build_layer) as b, jc.group(f"{tag}/b"):
                df = build()
            with tr.span("spark.exec") as e, jc.group(f"{tag}/e"):
                out = execute(df)
            b.attrs.update(jc.counts(f"{tag}/b"))
            e.attrs.update(jc.counts(f"{tag}/e"))
            sp.attrs["fn"] = tag.split("/")[0]
            return out

    def setup(lib):
        def get_order(client, k, tag):
            rows = body(tag, lambda: client.lookup("orders", k), lambda df: df.collect())
            # stringified: the reply converter rejects datetime values
            return [str(v) for v in rows[0]] if rows else []

        def customer_orders(client, k, tag):
            from pyspark.sql import functions as F

            row = body(
                tag,
                lambda: client.table("orders")
                .filter(F.col("o_custkey") == k)
                .agg(F.count("*").alias("n"), F.max("o_totalprice").alias("m")),
                lambda df: df.collect()[0],
            )
            return [int(row["n"]), float(row["m"] or 0.0)]

        def log_event(client, cid, seq, tag):
            body(
                tag,
                lambda: client.spark.createDataFrame([(cid, seq)], "client int, seq long"),
                lambda df: client.write(df, os.path.join(log_root, f"client{cid}")),
                build_layer="driver.local_rows",
            )
            return "OK"

        lib.register_function("get_order", get_order, flags={NO_WRITES})
        lib.register_async_function("customer_orders", customer_orders, flags={NO_WRITES})
        lib.register_function("log_event", log_event)

    engine = GearsEngine(spark, sf_dir=sf_dir)
    t = time.perf_counter()
    engine.load_library(setup, name="bench")
    r.layer["engine.load_library_ms"] = ((time.perf_counter() - t) * 1000.0, "ms")
    setup_s = time.time() - r.started

    written: list[tuple[int, int]] = []
    wlock = threading.Lock()

    def call(cid: int, fn: str, key: int, seq: int, rec: list) -> None:
        tag = f"{fn}/{cid}/{seq}"
        t0 = time.perf_counter()
        with tr.span("tfcall.call", trace_id=tag, fn=fn) as sp:
            calls[tag] = sp
            try:
                if fn == "get_order":
                    reply = engine.call("bench", fn, key, tag)
                elif fn == "customer_orders":
                    reply = engine.call_async("bench", fn, key, tag).result()
                else:
                    reply = engine.call("bench", fn, cid, seq, tag)
                    with wlock:
                        written.append((cid, seq))
                err = None
            except Exception as e:  # counted as a failed call
                reply, err = None, f"{fn}({key}): {type(e).__name__}: {e}"
            finally:
                calls.pop(tag, None)
        rec.append((fn, key, t0, time.perf_counter(), reply, err))

    def client(cid: int, phase: str, n: int | None, deadline: float | None, rec: list):
        ops = _ops(r.seed, cid, phase, n_orders, n_cust)
        for i, (fn, key, seq) in enumerate(ops):
            if (n is not None and i >= n) or (deadline is not None and time.perf_counter() >= deadline):
                break
            call(cid, fn, key, seq if phase == "timed" else -seq, rec)

    def phase(name: str, n: int | None, seconds: float | None) -> tuple[list, float]:
        recs: list[list] = [[] for _ in range(CORES)]
        start = time.perf_counter()
        deadline = start + seconds if seconds else None
        threads = [
            threading.Thread(target=client, args=(c, name, n, deadline, recs[c]))
            for c in range(CORES)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return [x for rec in recs for x in rec], start

    r.mark("setup")
    warm, _ = phase("warm", WARMUP_CALLS, None)
    r.mark("warmup")
    timed, start = phase("timed", None, r.seconds)
    r.mark("timed")

    # correctness, outside the timed window
    for fn, key, t0, t1, reply, err in warm + timed:
        if err is None:
            if fn == "get_order":
                ok = reply == by_order[key]
            elif fn == "customer_orders":
                ok = reply == by_cust[key]
            else:
                ok = reply == "OK"
            if not ok:
                err = f"{fn}({key}) replied {reply!r}"
        if err is not None:
            r.fail(err)
    r.attempted = len(warm) + len(timed)
    got = Counter()
    for c in range(CORES):
        d = os.path.join(log_root, f"client{c}")
        if os.path.isdir(d):
            t = ds.dataset(d, format="parquet").to_table()
            got.update(zip(t["client"].to_pylist(), t["seq"].to_pylist()))
    want = Counter(written)
    if got != want:
        r.fail(f"log_event rows: {sum((got - want).values())} extra, {sum((want - got).values())} missing")

    lat = [(t1 - t0) * 1000.0 for _, _, t0, t1, _, _ in timed]
    window = max(t1 for _, _, _, t1, _, _ in timed) - start
    r.metrics["setup_s"] = (setup_s, "s")
    r.metrics["rate_per_s"] = (len(timed) / window, "1/s")
    # the geometric mean, not the median: the three functions' latencies
    # form separate modes, and the median jumps between them from run to run
    r.metrics["typical_ms"] = (geomean(lat), "ms")
    # 60-85 calls per 10-s window leave only 6-8 calls beyond p90
    # (ten_beyond_met in the notes); p95 would rest on 3-4
    r.metrics["tail_ms"] = (percentile(lat, 90), "ms")
    r.notes["calls"] = len(timed)
    r.notes["call_p50_ms"] = percentile(lat, 50)
    r.notes["p50_ms_by_fn"] = {
        name: percentile([(t1 - t0) * 1000.0 for fn, _, t0, t1, _, _ in timed if fn == name], 50)
        for name, _ in MIX
    }
    # completions per 3-s bucket of the window: shows how far the warm-up
    # curve still climbs inside it
    buckets = Counter(int((t1 - start) // 3) for _, _, _, t1, _, _ in timed)
    r.notes["calls_per_3s"] = [buckets[i] for i in range(max(buckets) + 1)]
    r.notes["ten_beyond_met"] = beyond(lat, 90) >= BEYOND
    r.notes["mix"] = dict(Counter(x[0] for x in timed))

    r.layer["engine.calls_failed"] = (sum(1 for x in timed if x[5]), "count")
    if r.trace:
        r.spans = tr.spans
        _layers(r, tr.spans)
        probes.layer_probes(r, spark, sf_dir, tr, jc)
    return r.failed == 0

