"""`trigger_stream`: one sync stream trigger with a Python callback and an
unbounded window, fed through a parquet spool.

Warm-up: the trigger starts on WARMUP_FILES files of WARMUP_EVENTS events
in all and drains them. Backfill: then a seeded backlog of BACKLOG_FILES files appears in the
spool at once (renamed in from a staging directory); the runtime admits 8
files per micro-batch, so the backlog takes several batches through the
callback stage.
Live: an open loop writes one file every FILE_PERIOD_S at LIVE_RATE events
per second. Files appear atomically (dot-prefixed temp file, then rename)
and every event carries its file's scheduled send time, so latency counts
the wait a stall imposes on later files. At this rate each batch is mostly
fixed cost: file listing, planning, WAL and commit.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import callbacks
import fixture
import probes
from common import SCALE, Run, get_spark
from stats import BEYOND, batches_beyond, percentile
from spans import JobCounter, Tracer

BACKLOG_EVENTS = 32_000
BACKLOG_FILES = 32
LIVE_RATE = 1000  # events per second
FILE_PERIOD_S = 0.25
N_USERS = 150  # stream keys 'user:<id>'
# the warm-up is one batch of the backfill's shape (8 files of 1k events),
# so the backfill does not start on a cold first batch
WARMUP_EVENTS = 8_000
WARMUP_FILES = 8
LIB, TRIGGER = "streambench", "enrich"


def _write_atomic(tbl: pa.Table, spool: str, name: str) -> None:
    tmp = os.path.join(spool, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(spool, name))


def _events(rng, first_id: int, n: int, ts: np.ndarray) -> pa.Table:
    """`n` events with fresh ids from `first_id`, stamped `ts` (epoch µs)."""
    tbl = fixture.event_table(rng, np.arange(first_id, first_id + n), ts, N_USERS)
    return tbl.set_column(
        1, "ts", pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC"))
    )


def _expected(tbl: pa.Table) -> dict[int, str]:
    """id -> the JSON result the sink must hold for it."""
    out = {}
    for eid, et, v, props in zip(
        tbl["event_id"].to_pylist(), tbl["event_type"].to_pylist(),
        tbl["value"].to_pylist(), tbl["props"].to_pylist(),
    ):
        rec = {"fields": {"event_type": et, "value": str(v), "props": props}}
        out[eid] = json.dumps(callbacks.enrich(rec), default=str)
    return out


def _setup(lib) -> None:
    from redisgears_spark.engine import UNBOUNDED_WINDOW

    lib.register_stream_trigger(
        TRIGGER, prefix="user:", fn=callbacks.enrich, window=UNBOUNDED_WINDOW
    )


def _sink_files(work: str) -> list[str]:
    d = os.path.join(work, "sink", LIB, TRIGGER)
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(".")]


def _batch_of(mtime: float, batches: list[tuple[int, float, float]]) -> int:
    """The micro-batch whose [start, end] holds `mtime` (-1 if none). The
    end gets 50 ms of slack: a part file's mtime can trail the duration the
    progress report rounds to whole milliseconds."""
    for bid, lo, hi in batches:
        if lo <= mtime <= hi + 0.05:
            return bid
    return -1


def _progress_intervals(progress: list[dict]) -> list[tuple[int, float, float]]:
    from datetime import datetime

    out = []
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append((p["batchId"], start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0))
    return out


class _Progress:
    """Every micro-batch's progress, gathered by a StreamingQueryListener
    (StreamingQuery.recentProgress keeps only the last 100)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        self.rows = 0
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                outer.batches.append(p)
                outer.rows += p.get("numInputRows", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()
        spark.streams.addListener(self.listener)


def run(r: Run) -> bool:
    from redisgears_spark.engine import GearsEngine
    from redisgears_spark.streaming.triggers import StreamTriggerRuntime, events_to_stream

    tr = Tracer(r.trace)
    t = time.perf_counter()
    spark = get_spark(r)
    r.layer["session.get_spark_s"] = (time.perf_counter() - t, "s")
    rng = np.random.default_rng(r.seed)

    spool = os.path.join(r.work, "spool")
    staged = os.path.join(r.work, "staged")
    os.makedirs(spool)
    os.makedirs(staged)
    engine = GearsEngine(spark, sf_dir=r.work)
    rt = StreamTriggerRuntime(engine, spool, r.work, source_adapter=events_to_stream)
    t = time.perf_counter()
    lib = engine.load_library(_setup, name=LIB)
    r.layer["engine.load_library_ms"] = ((time.perf_counter() - t) * 1000.0, "ms")
    now_us = int(time.time() * 1e6)
    warm = _events(rng, -WARMUP_EVENTS, WARMUP_EVENTS, np.full(WARMUP_EVENTS, now_us))
    expected = _expected(warm)
    per_file = WARMUP_EVENTS // WARMUP_FILES
    for i in range(WARMUP_FILES):
        _write_atomic(warm.slice(i * per_file, per_file), spool, f"warm-{i:04d}.parquet")
    per_file = BACKLOG_EVENTS // BACKLOG_FILES
    for i in range(BACKLOG_FILES):
        tbl = _events(rng, i * per_file, per_file, np.full(per_file, now_us))
        expected.update(_expected(tbl))
        pq.write_table(tbl, os.path.join(staged, f"backlog-{i:04d}.parquet"))
    setup_s = time.time() - r.started
    r.mark("setup")

    # warm-up: the trigger starts on the warm-up files alone
    prog = _Progress(spark) if r.trace else None
    (query,) = rt.start_library(lib)
    query.processAllAvailable()
    r.mark("warmup")

    # backfill: the whole backlog appears in the spool at once
    with tr.span("triggers.backfill", trace_id="backfill"):
        t0 = time.perf_counter()
        for name in sorted(os.listdir(staged)):
            os.rename(os.path.join(staged, name), os.path.join(spool, name))
        query.processAllAvailable()
        backfill_s = time.perf_counter() - t0
    r.mark("backfill")

    # live phase: an open loop that writes each file at its due time,
    # whatever the trigger's progress
    per_tick = int(LIVE_RATE * FILE_PERIOD_S)
    sched: dict[int, float] = {}  # live event id -> scheduled send time
    late: list[float] = []
    backlog_max = 0
    live0 = time.time() + FILE_PERIOD_S
    next_id = BACKLOG_EVENTS
    for j in range(int(r.seconds / FILE_PERIOD_S)):
        due = live0 + j * FILE_PERIOD_S
        tbl = _events(rng, next_id, per_tick, np.full(per_tick, int(due * 1e6)))
        expected.update(_expected(tbl))
        for k in range(next_id, next_id + per_tick):
            sched[k] = due
        next_id += per_tick
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        with tr.span("generator.write", trace_id=f"live/{j}"):
            _write_atomic(tbl, spool, f"live-{j:05d}.parquet")
        late.append((time.time() - due) * 1000.0)
        if prog is not None:
            offered = next_id - BACKLOG_EVENTS
            processed = prog.rows - BACKLOG_EVENTS - WARMUP_EVENTS
            backlog_max = max(backlog_max, offered - processed)

    query.processAllAvailable()
    progress = [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]
    listing = engine.list_libraries(verbose=2, library=LIB)[0]["stream_triggers"][0]["stats"]
    rt.stop_all()
    r.mark("live")

    # correctness, outside the timed phases
    sink = rt.read_sink(LIB, TRIGGER, exactly_once=True).select("id", "result").toPandas()
    got = dict(zip(sink["id"].tolist(), sink["result"].tolist()))
    r.attempted = len(expected)
    for eid, want in expected.items():
        if got.get(eid) != want:
            r.fail(f"event {eid}: sink holds {got.get(eid)!r}, expected {want!r}")
    extra = set(got) - set(expected)
    if extra:
        r.fail(f"{len(extra)} ids in the sink were never generated")
    if listing["n_failed"]:
        r.fail(f"trigger reports n_failed={listing['n_failed']}")

    # latency: scheduled send time -> mtime of the sink file holding it
    intervals = _progress_intervals(prog.batches if prog else progress)
    lat, bids = [], []
    worst: dict = {}  # batch (or part file, if no batch matched) -> max latency
    for path in _sink_files(r.work):
        mtime = os.stat(path).st_mtime
        ids = pq.read_table(path, columns=["id"])["id"].to_pylist()
        bid = _batch_of(mtime, intervals)
        for eid in ids:
            if eid in sched:
                lat.append((mtime - sched[eid]) * 1000.0)
                bids.append(bid)
                key = path if bid < 0 else bid
                worst[key] = max(worst.get(key, 0.0), lat[-1])
    r.metrics["setup_s"] = (setup_s, "s")
    r.metrics["rate_per_s"] = (BACKLOG_EVENTS / backfill_s, "1/s")
    r.metrics["typical_ms"] = (percentile(lat, 50), "ms")
    # the median over batches of the batch's oldest event: ~20 batches
    # support a median, while an event p90 rests on the 2-3 slowest batches
    r.metrics["tail_ms"] = (percentile(list(worst.values()), 50), "ms")
    r.notes.update(
        live_events=len(lat),
        live_batches=len(set(bids)),
        event_latency_p90_ms=percentile(lat, 90),
        batches_beyond_p90=batches_beyond(lat, bids, 90),
        backfill_s=backfill_s,
        ten_beyond_met=batches_beyond(lat, bids, 90) >= BEYOND,
    )
    r.layer["generator.late_ms_max"] = (max(late), "ms")
    r.layer["triggers.records_failed"] = (listing["n_failed"], "count")
    r.layer["triggers.records_deferred"] = (listing["n_deferred"], "count")
    r.layer["triggers.sink_files"] = (len(_sink_files(r.work)), "count")
    if r.trace:
        r.spans = tr.spans
        b = [p for p in prog.batches if p.get("numInputRows", 0) > 0]
        d = [p["durationMs"] for p in b]
        r.layer["triggers.batches"] = (len(b), "count")
        r.layer["triggers.batch_ms_p50"] = (percentile([x.get("triggerExecution", 0) for x in d], 50), "ms")
        r.layer["triggers.add_batch_ms_p50"] = (percentile([x.get("addBatch", 0) for x in d], 50), "ms")
        r.layer["triggers.source_ms_p50"] = (
            percentile([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d], 50), "ms"
        )
        r.layer["triggers.commit_ms_p50"] = (
            percentile([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d], 50), "ms"
        )
        r.layer["triggers.rows_per_batch_p50"] = (percentile([p["numInputRows"] for p in b], 50), "count")
        r.layer["triggers.backlog_events_max"] = (backlog_max, "count")
        sf_dir = fixture.write(fixture.generate(r.seed, SCALE), os.path.join(r.work, "fixture"))
        probes.layer_probes(r, spark, sf_dir, tr, JobCounter(spark))
    return r.failed == 0
