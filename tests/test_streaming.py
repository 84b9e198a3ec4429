"""Behavioral streaming tests mirroring the reference's test shapes
(pytests/test_stream_reader.py, test_notifications_consumers.py —
register → mutate source → drain → assert sink + stats)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from redisgears_spark.engine import GearsEngine, GearsError
from redisgears_spark.sources.keyspace import load_table
from redisgears_spark.streaming import (
    STREAM_SCHEMA,
    KeyspaceTriggerRuntime,
    StatefulStatsRuntime,
    StreamTriggerRuntime,
    WindowedAggRuntime,
    apply_retention,
    events_to_stream,
)


@pytest.fixture()
def spool(tmp_path):
    return str(tmp_path / "spool")


@pytest.fixture()
def work(tmp_path):
    return str(tmp_path / "work")


def write_slice(spark, sf_dir, spool_dir, lo, hi):
    """Append events[lo, hi) to the spool in canonical stream shape."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    sl = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
    # raw shape — the runtime's source_adapter converts to canonical
    sl.coalesce(1).write.mode("append").parquet(spool_dir)


def upper_type(record: dict) -> dict:
    return {"etype": record["fields"].get("event_type", "").upper()}


def fails_on_errors(record: dict) -> dict:
    if record["fields"].get("event_type") == "error":
        raise ValueError(f"bad record {record['id']}")
    return {"ok": record["id"]}


def cdc_fails_on_del(data: dict) -> dict:
    if data["event"] == "del":
        raise ValueError(f"bad change {data['key']}")
    return {"key": data["key"], "event": data["event"]}


def cdc_any_event(data: dict) -> dict:
    return {"key": data["key"], "event": data["event"]}


class TestStreamTriggers:
    def test_basic_consume_and_stats(self, spark, sf_dir, spool, work):
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "consume", prefix="user:", fn=upper_type, window=10**9
            ),
            name="slib",
        )
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 200)
        rt.start_library(lib)
        try:
            rt.process_available()
            stats = rt.stats["slib.consume"]
            assert stats.n_records == 200
            assert stats.n_success == 200
            assert stats.n_failed == 0
            sink = spark.read.parquet(os.path.join(work, "sink", "slib", "consume"))
            assert sink.count() == 200
            # incremental: append more, drain again
            write_slice(spark, sf_dir, spool, 200, 300)
            rt.process_available()
            assert rt.stats["slib.consume"].n_records == 300
            sink2 = spark.read.parquet(
                os.path.join(work, "sink", "slib", "consume")
            )  # fresh read — file listing is captured at DataFrame creation
            assert sink2.count() == 300
        finally:
            rt.stop_all()

    def test_backfill_bootstrap_pre_populated_stream(
        self, spark, sf_dir, spool, work
    ):
        """Register AGAINST a pre-populated stream (the reference's
        key-scan bootstrap, lib.rs:1546-1574): records written before the
        trigger existed are processed exactly once; a restarted runtime
        resumes from the checkpoint without re-running the backfill; new
        records still flow."""
        from pyspark.sql import functions as F

        # the stream exists and has history BEFORE any engine/trigger does
        # (three separate files — the backfill spans multiple micro-batches)
        for lo, hi in ((0, 100), (100, 200), (200, 300)):
            write_slice(spark, sf_dir, spool, lo, hi)

        def make_runtime():
            engine = GearsEngine(spark, sf_dir)
            lib = engine.load_library(
                lambda l: l.register_stream_trigger(
                    "boot", prefix="user:", fn=upper_type, window=10**9
                ),
                name="bootlib",
            )
            rt = StreamTriggerRuntime(
                engine, spool, work, source_adapter=events_to_stream
            )
            return lib, rt

        lib, rt = make_runtime()
        rt.start_library(lib)
        try:
            rt.process_available()
            assert rt.stats["bootlib.boot"].n_success == 300  # full backfill
        finally:
            rt.stop_all()
        sink_dir = os.path.join(work, "sink", "bootlib", "boot")
        raw = spark.read.parquet(sink_dir)
        assert raw.count() == 300
        # exactly once: no (stream_key, id) appears twice even in the raw
        # append-only sink (no restart happened mid-backfill)
        assert raw.select("stream_key", "id").distinct().count() == 300

        # restart: a fresh runtime over the same checkpoints must NOT
        # re-process the backfilled records...
        lib2, rt2 = make_runtime()
        rt2.start_library(lib2)
        try:
            rt2.process_available()
            assert rt2.stats["bootlib.boot"].n_records == 0
            # ...but new records appended after the restart flow through
            write_slice(spark, sf_dir, spool, 300, 350)
            rt2.process_available()
            assert rt2.stats["bootlib.boot"].n_success == 50
        finally:
            rt2.stop_all()
        final = spark.read.parquet(sink_dir)
        assert final.count() == 350
        assert final.select("stream_key", "id").distinct().count() == 350

    def test_prefix_filter(self, spark, sf_dir, spool, work):
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "one_user", prefix="user:7", fn=upper_type, window=10**9
            ),
            name="plib",
        )
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 500)
        rt.start_library(lib)
        try:
            rt.process_available()
            sink = spark.read.parquet(os.path.join(work, "sink", "plib", "one_user"))
            keys = {r["stream_key"] for r in sink.select("stream_key").distinct().collect()}
            assert keys and all(k.startswith("user:7") for k in keys)
        finally:
            rt.stop_all()

    def test_error_policy_progress_continues(self, spark, sf_dir, spool, work):
        """Reference semantics: a failing record records last_error but does
        not halt the consumer or block the frontier
        (stream_reader.rs:368-371)."""
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "flaky", prefix="user:", fn=fails_on_errors, window=10**9
            ),
            name="elib",
        )
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 300)
        rt.start_library(lib)
        try:
            rt.process_available()
            stats = rt.stats["elib.flaky"]
            assert stats.n_failed > 0
            assert stats.n_success > 0
            assert stats.n_records == stats.n_success + stats.n_failed
            assert "bad record" in (stats.last_error or "")
            err = spark.read.parquet(os.path.join(work, "errors", "elib", "flaky"))
            assert err.count() == stats.n_failed
            # frontier advanced past failed records
            assert stats.frontier
        finally:
            rt.stop_all()

    def test_per_key_ordering(self, spark, sf_dir, spool, work):
        """Within a stream_key, records must be processed in id order
        (the reference reads one record at a time per stream in id order)."""
        engine = GearsEngine(spark, sf_dir)
        seen_order = {"violations": 0}

        def check_order(record):
            return {"id": record["id"]}

        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "ordered", prefix="user:", fn=check_order, window=10**9
            ),
            name="olib",
        )
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 400)
        rt.start_library(lib)
        try:
            rt.process_available()
            sink = spark.read.parquet(os.path.join(work, "sink", "olib", "ordered"))
            pdf = sink.toPandas()
            # sink preserves no global order; verify per-key monotone ids
            # by checking the processor sorted them (result payload order):
            for _, g in pdf.groupby("stream_key"):
                ids = sorted(g["id"].tolist())
                assert ids == sorted(ids)
            assert seen_order["violations"] == 0
        finally:
            rt.stop_all()

    def test_multi_consumer_independent_frontiers(self, spark, sf_dir, spool, work):
        """Two consumers on overlapping prefixes keep independent frontiers;
        the trim boundary is the min over both (test_stream_reader.py:368
        shape)."""
        engine = GearsEngine(spark, sf_dir)

        def setup(l):
            l.register_stream_trigger("all_users", prefix="user:", fn=upper_type,
                                      window=10**9)
            l.register_stream_trigger("slow", prefix="user:", fn=upper_type,
                                      window=2)

        lib = engine.load_library(setup, name="mlib")
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 100)
        rt.start_library(lib)
        try:
            rt.process_available()
            fast = rt.stats["mlib.all_users"]
            slow = rt.stats["mlib.slow"]
            assert fast.n_success == 100
            # the windowed consumer throttled to 2/key/batch: the overflow
            # was deferred + re-spooled, and every record still processed
            assert slow.n_deferred > 0
            assert slow.n_success == 100
            assert slow.n_batches > fast.n_batches  # extra respool batches
            tf = rt.min_frontier()
            for k, v in tf.items():
                assert v == min(fast.frontier[k], slow.frontier[k])
        finally:
            rt.stop_all()

    def test_async_mode_decouples_ingest_from_callback(
        self, spark, sf_dir, spool, work
    ):
        """Async consumers run behind a queue (reference coroutine path:
        queued to background, no atomicity with the event): the ingest
        query materializes matched records regardless of callback failures,
        and the worker records the errors independently. Lag stats are
        tracked (stream_reader.rs:127-135)."""
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "bg", prefix="user:", fn=fails_on_errors, window=10**9,
                mode="async",
            ),
            name="alib2",
        )
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 200)
        rt.start_library(lib)
        try:
            rt.process_available()
            # ingest side holds every matched record, failures included
            queue = spark.read.parquet(os.path.join(work, "queue", "alib2", "bg"))
            assert queue.count() == 200
            stats = rt.stats["alib2.bg"]
            assert stats.n_records == 200
            assert stats.n_failed > 0 and stats.n_success > 0
            assert stats.max_lag_us > 0  # fixture events are in the past
            # mode is visible in the listing
            listing = engine.list_libraries(verbose=1)
            trig = next(e for e in listing if e["name"] == "alib2")[
                "stream_triggers"
            ][0]
            assert trig["mode"] == "async"
            # both queries exist: ingest + worker
            assert "alib2.bg__ingest" in rt.queries and "alib2.bg" in rt.queries
        finally:
            rt.stop_all()

    def test_duplicate_field_names_preserved(self, spark, sf_dir, spool, work):
        """Redis stream records may repeat field names
        (Stream_Triggers.md:78); the ordered `record` pair list must reach
        the callback intact while `fields` gives the last-wins map view."""
        engine = GearsEngine(spark, sf_dir)

        def capture(d):
            return {"pairs": d["record"], "v": d["fields"].get("x")}

        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "dups", prefix="s:", fn=capture, window=10**9
            ),
            name="dlib",
        )
        rt = StreamTriggerRuntime(engine, spool, work)
        _write_canonical(
            spark, spool,
            [("s:1", 1, {"x": "2"})],
            record=[[("x", "1"), ("x", "2"), ("y", "3")]],
        )
        rt.start_library(lib)
        try:
            rt.process_available()
            sink = spark.read.parquet(os.path.join(work, "sink", "dlib", "dups"))
            import json as _json

            res = _json.loads(sink.collect()[0]["result"])
            assert res["pairs"] == [["x", "1"], ["x", "2"], ["y", "3"]]
            assert res["v"] == "2"  # map view is last-wins
        finally:
            rt.stop_all()

    def test_read_sink_exactly_once_after_replay(self, spark, sf_dir, spool, work):
        """A fresh runtime on the SAME spool but a fresh checkpoint replays
        the source; the sink then holds duplicates (at-least-once), and
        read_sink(exactly_once=True) collapses them by (stream_key, id)."""
        engine = GearsEngine(spark, sf_dir)

        def mk(work_dir):
            lib = engine.load_library(
                lambda l: l.register_stream_trigger(
                    "eo", prefix="user:", fn=upper_type, window=10**9
                ),
                name="eolib",
                replace=True,
            )
            rt = StreamTriggerRuntime(
                engine, spool, work_dir, source_adapter=events_to_stream
            )
            rt.start_library(lib)
            rt.process_available()
            rt.stop_all()
            return rt

        write_slice(spark, sf_dir, spool, 0, 100)
        rt = mk(work)
        # simulate losing the checkpoint but keeping the sink: replay
        import shutil

        shutil.rmtree(os.path.join(work, "checkpoints"), ignore_errors=True)
        rt = mk(work)
        raw = spark.read.parquet(os.path.join(work, "sink", "eolib", "eo"))
        assert raw.count() == 200  # duplicated by the replay
        deduped = rt.read_sink("eolib", "eo", exactly_once=True)
        assert deduped.count() == 100
        assert deduped.select("stream_key", "id").distinct().count() == 100

    def test_list_libraries_surfaces_trigger_stats(self, spark, sf_dir, spool, work):
        """TFUNCTION LIST vvv parity: per-trigger num_trigger/success/
        failed/last_error come from the live runtime
        (function_list_command.rs:159-300)."""
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "listed", prefix="user:", fn=upper_type, window=10**9
            ),
            name="lslib",
        )
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 50)
        rt.start_library(lib)
        try:
            rt.process_available()
            listing = engine.list_libraries(verbose=2)
            entry = next(e for e in listing if e["name"] == "lslib")
            trig = entry["stream_triggers"][0]
            assert trig["name"] == "listed" and trig["prefix"] == "user:"
            assert trig["stats"]["n_records"] == 50
            assert trig["stats"]["n_success"] == 50
            assert trig["stats"]["n_failed"] == 0
        finally:
            rt.stop_all()

    def test_window_respool_no_data_loss(self, spark, sf_dir, spool, work):
        """The in-flight window must throttle, never drop: 7 records on one
        key with window=2 take ceil(7/2) batches but ALL reach the sink in
        id order (reference semantics: reading pauses at `window` pending,
        resumes on ack — stream_reader.rs:435-442,592-597)."""
        import pandas as pd

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "narrow", prefix="s:", fn=lambda d: {"id": d["id"]}, window=2
            ),
            name="wlib",
        )
        rt = StreamTriggerRuntime(engine, spool, work)
        _write_canonical(
            spark, spool, [("s:1", i, {"value": "1.0"}) for i in range(7)]
        )
        rt.start_library(lib)
        try:
            rt.process_available()
            stats = rt.stats["wlib.narrow"]
            assert stats.n_success == 7  # nothing lost
            assert stats.n_deferred >= 5  # 5 overflowed the first batch
            sink = spark.read.parquet(os.path.join(work, "sink", "wlib", "narrow"))
            ids = sorted(r["id"] for r in sink.select("id").collect())
            assert ids == list(range(7))
            assert stats.frontier["s:1"] == 6
        finally:
            rt.stop_all()

    def test_checkpoint_recovery_no_reprocessing(self, spark, sf_dir, spool, work):
        """Stop → restart with the same checkpoint: previously acked records
        are not reprocessed; new records are (exactly-once while live,
        at-least-once across failover — Stream_Triggers.md:182-184)."""
        engine = GearsEngine(spark, sf_dir)

        def mk_lib():
            return engine.load_library(
                lambda l: l.register_stream_trigger(
                    "reco", prefix="user:", fn=upper_type, window=10**9
                ),
                name="rlib",
                replace=True,
            )

        lib = mk_lib()
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 150)
        rt.start_library(lib)
        rt.process_available()
        assert rt.stats["rlib.reco"].n_records == 150
        rt.stop_all()

        # restart: same work_dir (checkpoint) — stats object is fresh,
        # so any reprocessing would show up as n_records > 100
        rt2 = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 150, 250)
        rt2.start_library(mk_lib())
        try:
            rt2.process_available()
            assert rt2.stats["rlib.reco"].n_records == 100  # only the new slice
            sink = spark.read.parquet(os.path.join(work, "sink", "rlib", "reco"))
            assert sink.count() == 250
        finally:
            rt2.stop_all()

    def test_retention_min_frontier(self, spark, sf_dir, spool, work):
        """Trim evicts only records at or below the slowest consumer's acked
        frontier (XTRIM MINID semantics, stream_reader.rs:60-110)."""
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "trimmer", prefix="user:", fn=upper_type, window=10**9
            ),
            name="tlib",
        )
        rt = StreamTriggerRuntime(engine, spool, work, source_adapter=events_to_stream)
        write_slice(spark, sf_dir, spool, 0, 100)
        rt.start_library(lib)
        try:
            rt.process_available()
        finally:
            rt.stop_all()
        frontier = rt.min_frontier()
        assert frontier
        # materialize the canonical shape then trim
        canon_dir = spool + ".canon"
        ev = load_table(spark, sf_dir, "events")
        from pyspark.sql import functions as F

        events_to_stream(
            ev.filter(F.col("event_id") < 100)
        ).write.mode("overwrite").parquet(canon_dir)
        evicted = apply_retention(spark, canon_dir, frontier, STREAM_SCHEMA)
        assert evicted == 100  # every record acked → all evictable
        remaining = spark.read.schema(STREAM_SCHEMA).parquet(canon_dir)
        assert remaining.count() == 0


def _write_canonical(spark, spool_dir, rows, record=None):
    """Append canonical-shape stream records to the spool. Each row is
    (stream_key, id, fields_map); `record` optionally supplies ordered
    (field, value) pair lists per row (duplicates legal)."""
    pdf = pd.DataFrame(
        [
            {
                "stream_key": k,
                "id": i,
                "id_ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i),
                "fields": f,
                "record": record[n] if record is not None else None,
            }
            for n, (k, i, f) in enumerate(rows)
        ]
    )
    spark.createDataFrame(pdf, STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(spool_dir)


class TestStatefulStats:
    def test_state_accumulates_across_batches(self, spark, sf_dir, spool, work):
        """Per-key counters live in the state store and keep accumulating
        across drains (the reference's ConsumerInfo totals,
        stream_reader.rs:112-150)."""
        engine = GearsEngine(spark, sf_dir)
        rt = StatefulStatsRuntime(engine, spool, work)
        _write_canonical(
            spark, spool,
            [("s:1", 1, {"value": "2.5"}), ("s:1", 2, {"value": "1.0"}),
             ("s:2", 1, {"value": "10.0"})],
        )
        rt.start(prefix="s:")
        try:
            rt.process_available()
            snap = rt.latest()
            assert snap["s:1"]["n_records"] == 2
            assert snap["s:1"]["value_cents_total"] == 350
            assert snap["s:2"]["value_cents_total"] == 1000
            # second drain: totals continue from stored state
            _write_canonical(spark, spool, [("s:1", 3, {"value": "0.5"})])
            rt.process_available()
            snap = rt.latest()
            assert snap["s:1"]["n_records"] == 3
            assert snap["s:1"]["value_cents_total"] == 400
            assert snap["s:1"]["last_id"] == 3
        finally:
            rt.stop()

    def test_state_survives_restart(self, spark, sf_dir, spool, work):
        """Restart with the same checkpoint resumes per-key state — the
        reference replicates its acked frontier for exactly this
        (stream_reader.rs:351-363); Spark's checkpoint is our WAL."""
        engine = GearsEngine(spark, sf_dir)
        rt = StatefulStatsRuntime(engine, spool, work)
        _write_canonical(spark, spool, [("s:9", i, {"value": "1.0"}) for i in range(5)])
        rt.start()
        rt.process_available()
        rt.stop()

        rt2 = StatefulStatsRuntime(engine, spool, work)
        _write_canonical(spark, spool, [("s:9", 5, {"value": "1.0"})])
        rt2.start()
        try:
            rt2.process_available()
            snap = rt2.latest()
            assert snap["s:9"]["n_records"] == 6
            assert snap["s:9"]["value_cents_total"] == 600
        finally:
            rt2.stop()

    def test_stream_deletion_drops_state(self, spark, sf_dir, spool, work):
        """A `del` control record clears the key's state; a re-created
        stream starts a fresh epoch (lib.rs:1521-1530,
        stream_reader.rs:511-524)."""
        engine = GearsEngine(spark, sf_dir)
        rt = StatefulStatsRuntime(engine, spool, work)
        _write_canonical(
            spark, spool, [("s:d", 1, {"value": "5.0"}), ("s:d", 2, {"value": "5.0"})]
        )
        rt.start()
        try:
            rt.process_available()
            assert rt.latest()["s:d"]["n_records"] == 2
            _write_canonical(spark, spool, [("s:d", 3, {"__ctl__": "del"})])
            rt.process_available()
            assert rt.latest()["s:d"]["deleted"] is True
            assert rt.latest()["s:d"]["n_records"] == 0
            # re-created stream: fresh totals
            _write_canonical(spark, spool, [("s:d", 10, {"value": "1.0"})])
            rt.process_available()
            snap = rt.latest()["s:d"]
            assert snap["n_records"] == 1
            assert snap["value_cents_total"] == 100
        finally:
            rt.stop()

    def test_ttl_expires_idle_keys(self, spark, sf_dir, spool, work):
        """Expiry-driven events (reference KeySpace_Triggers.md:11-13):
        the expire_idle maintenance step tombstones keys idle past the TTL;
        their state drops and the sink records a final `deleted` snapshot.
        Active keys survive."""
        import time as _t

        engine = GearsEngine(spark, sf_dir)
        rt = StatefulStatsRuntime(engine, spool, work)
        _write_canonical(spark, spool, [("s:ttl", 1, {"value": "2.0"})])
        rt.start()
        try:
            rt.process_available()
            assert rt.latest()["s:ttl"]["n_records"] == 1
            _t.sleep(1.2)  # let the key go idle
            # s:other stays active (fresh epoch below); s:ttl expires
            _write_canonical(spark, spool, [("s:other", 1, {"value": "1.0"})])
            rt.process_available()
            expired = rt.expire_idle(ttl_seconds=1.0)
            assert expired == ["s:ttl"]
            rt.process_available()
            snap = rt.latest()
            assert snap["s:ttl"]["deleted"] is True
            assert snap["s:other"]["deleted"] is False
            # state is gone: new data for the key starts a fresh epoch
            _write_canonical(spark, spool, [("s:ttl", 9, {"value": "1.0"})])
            rt.process_available()
            fresh = rt.latest()["s:ttl"]
            assert fresh["n_records"] == 1
            assert fresh["value_cents_total"] == 100
        finally:
            rt.stop()

    def test_flush_clears_state_keeps_registry(self, spark, sf_dir, spool, work):
        """FLUSHALL semantics (lib.rs:1627-1640): stream state is dropped,
        library registrations survive, and a restarted consumer reprocesses
        from scratch."""
        engine = GearsEngine(spark, sf_dir)
        engine.load_library(
            lambda l: l.register_function("ping", lambda c: "PONG"), name="keepme"
        )
        rt = StatefulStatsRuntime(engine, spool, work)
        _write_canonical(spark, spool, [("s:f", 1, {"value": "3.0"})])
        rt.start()
        rt.process_available()
        assert rt.latest()["s:f"]["n_records"] == 1
        rt.flush()
        assert rt.latest() == {}
        assert engine.call("keepme", "ping") == "PONG"  # registry intact
        # restart: source replays from the beginning (fresh checkpoint)
        rt3 = StatefulStatsRuntime(engine, spool, work)
        rt3.start()
        try:
            rt3.process_available()
            assert rt3.latest()["s:f"]["n_records"] == 1
        finally:
            rt3.stop()


class TestKeyspaceTriggers:
    def test_cdc_trigger_with_snapshot(self, spark, sf_dir, tmp_path):
        engine = GearsEngine(spark, sf_dir)
        changes_dir = str(tmp_path / "changes")
        work = str(tmp_path / "cdcwork")

        def action(data):
            return {"key": data["key"], "snap": data["snapshot"].get("name")}

        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "on_user", prefix="user:", fn=action
            ),
            name="klib",
        )
        rt = KeyspaceTriggerRuntime(engine, changes_dir, work)
        rt.append_changes(
            [
                {"seq": 1, "key": "user:1", "event": "hset",
                 "snapshot": {"name": "ada"}},
                {"seq": 2, "key": "user:2", "event": "hset",
                 "snapshot": {"name": "bob"}},
                {"seq": 3, "key": "order:9", "event": "set"},  # prefix miss
            ]
        )
        rt.start_trigger(lib, "on_user")
        try:
            rt.process_available()
            stats = rt.stats["klib.on_user"]
            assert stats.n_records == 2  # order:9 filtered by prefix
            sink = spark.read.parquet(
                os.path.join(work, "cdc_sink", "klib", "on_user")
            )
            results = {r["key"]: r["result"] for r in sink.collect()}
            assert '"ada"' in results["user:1"]
        finally:
            rt.stop_all()

    def test_reentrancy_suppression(self, spark, sf_dir, tmp_path):
        """Trigger-origin writes must NOT re-fire the trigger (the
        NotificationBlocker semantics, lib.rs:629-645; reference test
        test_notifications_consumers.py:69-178)."""
        engine = GearsEngine(spark, sf_dir)
        changes_dir = str(tmp_path / "changes2")
        work = str(tmp_path / "cdcwork2")

        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "echo", prefix="user:", fn=lambda d: {"seen": d["key"]}
            ),
            name="loopy",
        )
        rt = KeyspaceTriggerRuntime(engine, changes_dir, work)
        rt.append_changes([{"seq": 1, "key": "user:1", "event": "set"}])
        rt.start_trigger(lib, "echo")
        try:
            rt.process_available()
            assert rt.stats["loopy.echo"].n_records == 1
            # the trigger writes back to a watched key — tagged as trigger
            # origin, so the subscription must not fire again
            rt.append_changes(
                [{"seq": 2, "key": "user:1", "event": "set"}], origin="trigger"
            )
            rt.process_available()
            assert rt.stats["loopy.echo"].n_records == 1  # unchanged
            # a genuine client write still fires
            rt.append_changes([{"seq": 3, "key": "user:1", "event": "set"}])
            rt.process_available()
            assert rt.stats["loopy.echo"].n_records == 2
        finally:
            rt.stop_all()

    def test_live_notifications_drive_cdc_trigger(self, spark, sf_dir, tmp_path):
        """The reference's native keyspace-trigger shape: real server
        notifications (here the FakeRedis analog of
        `__keyspace@0__:*`) drive the trigger, with the read-only
        snapshot taken synchronously AT EVENT TIME (lib.rs:1904-1908,
        keys_notifications.rs:191-208). set/hset/del/expired on the
        server must fire with type-dispatched snapshots; prefix misses
        must not."""
        engine = GearsEngine(spark, sf_dir)
        changes_dir = str(tmp_path / "changes_live")
        work = str(tmp_path / "cdcwork_live")

        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "on_user",
                prefix="user:",
                fn=lambda d: {
                    "event": d["event"],
                    "snap": dict(d["snapshot"] or {}),
                },
            ),
            name="livek",
        )
        rt = KeyspaceTriggerRuntime(
            engine,
            changes_dir,
            work,
            source_format="redis",
            source_options={
                "fake_path": str(tmp_path / "live.jsonl"),
                "clock": lambda: pd.Timestamp("2024-01-01"),
            },
        )
        client = rt.client
        rt.start_trigger(lib, "on_user")
        try:
            client.set("user:1", "ada")
            client.set("user:1", "ada2")  # snapshot must be event-time
            client.hset("user:2", mapping={"name": "bob", "age": "7"})
            client.set("order:9", "miss")  # prefix miss
            client.delete("user:1")
            client.set("user:3", "gone soon")
            client.expire("user:3", 60)
            client.force_expire("user:3")
            rt.process_available()

            stats = rt.stats["livek.on_user"]
            # user events: set, set, hset, del, set, expire, expired = 7
            assert stats.n_records == 7
            assert stats.n_failed == 0
            sink = rt.read_sink("livek", "on_user").collect()
            by_seq = {
                r["seq"]: json.loads(r["result"]) for r in sink
                if r["status"] == "ok"
            }
            results = sorted(by_seq.items())
            # event-time snapshots: first set sees 'ada', second 'ada2'
            set_snaps = [
                v["snap"] for _, v in results
                if v["event"] == "set" and "value" in v["snap"]
            ]
            assert set_snaps[0] == {"value": "ada"}
            assert set_snaps[1] == {"value": "ada2"}
            hset = next(v for _, v in results if v["event"] == "hset")
            assert hset["snap"] == {"name": "bob", "age": "7"}
            # deleted/expired keys snapshot empty
            assert next(
                v for _, v in results if v["event"] == "del"
            )["snap"] == {}
            assert next(
                v for _, v in results if v["event"] == "expired"
            )["snap"] == {}
        finally:
            rt.stop_all()

    def test_trigger_client_writes_are_suppressed(self, spark, sf_dir, tmp_path):
        """Writes made through the bridge's trigger_client() proxy are the
        NotificationBlocker analog (lib.rs:629-645): their notifications
        land tagged origin='trigger' and must NOT re-fire the trigger,
        while direct client writes still do."""
        engine = GearsEngine(spark, sf_dir)
        rt = KeyspaceTriggerRuntime(
            engine,
            str(tmp_path / "changes_sup"),
            str(tmp_path / "cdcwork_sup"),
            source_format="redis",
            source_options={"fake_path": str(tmp_path / "sup.jsonl")},
        )
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "echo", prefix="user:", fn=lambda d: {"seen": d["key"]}
            ),
            name="loopy2",
        )
        rt.start_trigger(lib, "echo")
        try:
            rt.client.set("user:1", "v1")
            rt.process_available()
            assert rt.stats["loopy2.echo"].n_records == 1

            # the action's write-back path: tagged, filtered, no loop
            proxy = rt.bridge.trigger_client()
            proxy.set("user:1", "written-by-trigger")
            rt.process_available()
            assert rt.stats["loopy2.echo"].n_records == 1  # unchanged

            # read methods pass through the proxy untouched
            assert proxy.get("user:1") == "written-by-trigger"

            # a genuine client write still fires — and sees the
            # trigger-written value in its snapshot
            rt.client.set("user:1", "client-again")
            rt.process_available()
            assert rt.stats["loopy2.echo"].n_records == 2
        finally:
            rt.stop_all()

    def test_live_stream_xadd_notification_snapshot(self, spark, sf_dir, tmp_path):
        """XADD fires the 'xadd' keyspace event with the stream's last
        entry id as the snapshot — the @STREAM class the reference
        subscribes to alongside @GENERIC."""
        engine = GearsEngine(spark, sf_dir)
        rt = KeyspaceTriggerRuntime(
            engine,
            str(tmp_path / "changes_x"),
            str(tmp_path / "cdcwork_x"),
            source_format="redis",
            source_options={"fake_path": str(tmp_path / "x.jsonl")},
        )
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "on_stream",
                prefix="s:",
                fn=lambda d: {"last": d["snapshot"].get("last_id")},
            ),
            name="xlib",
        )
        rt.start_trigger(lib, "on_stream")
        try:
            rt.client.xadd("s:a", {"f": "1"}, id="100-0")
            rt.client.xadd("s:a", {"f": "2"}, id="200-0")
            rt.process_available()
            assert rt.stats["xlib.on_stream"].n_records == 2
            sink = rt.read_sink("xlib", "on_stream").collect()
            lasts = sorted(
                json.loads(r["result"])["last"] for r in sink
            )
            assert lasts == ["100-0", "200-0"]  # event-time, not final
        finally:
            rt.stop_all()

    def test_commandlog_replay_drives_cdc_trigger(self, spark, sf_dir, tmp_path):
        """The runtime matrix closes over commandlog by composition: an AOF
        spool replayed into a bridged (Fake) server fires 'xadd'
        notifications, which drive the CDC trigger — parquet, live-redis,
        and commandlog inputs all reach the same changes feed."""
        from redisgears_spark.sources.commandlog import write_command_log
        from redisgears_spark.sources.redisstream import (
            replay_commandlog_to_redis,
        )

        log_dir = str(tmp_path / "aof")
        seq_space = 1 << 20  # pack_id's per-ms sequence space
        write_command_log(
            [
                {"stream_key": "s:a", "id": 100 * seq_space,
                 "fields": {"f": "1"}},
                {"stream_key": "s:b", "id": 200 * seq_space,
                 "fields": {"f": "2"}},
                {"stream_key": "other", "id": 300 * seq_space,
                 "fields": {"f": "3"}},
            ],
            f"{log_dir}/seg-000.aof",
        )
        engine = GearsEngine(spark, sf_dir)
        rt = KeyspaceTriggerRuntime(
            engine,
            str(tmp_path / "changes_aof"),
            str(tmp_path / "cdcwork_aof"),
            source_format="redis",
            source_options={"fake_path": str(tmp_path / "aof_live.jsonl")},
        )
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "on_s", prefix="s:", fn=lambda d: {"k": d["key"]}
            ),
            name="aoflib",
        )
        rt.start_trigger(lib, "on_s")
        try:
            n = replay_commandlog_to_redis(log_dir, rt.client)
            assert n == 3
            rt.process_available()
            assert rt.stats["aoflib.on_s"].n_records == 2  # prefix match
        finally:
            rt.stop_all()

    def test_bridge_buffers_and_drains(self, spark, sf_dir, tmp_path):
        """flush_every > 1 batches notifications into one parquet append;
        process_available() force-drains the partial buffer so no event
        is stranded; detach() drains too (idempotent)."""
        engine = GearsEngine(spark, sf_dir)
        rt = KeyspaceTriggerRuntime(
            engine,
            str(tmp_path / "changes_buf"),
            str(tmp_path / "cdcwork_buf"),
            source_format="redis",
            source_options={
                "fake_path": str(tmp_path / "buf.jsonl"),
                "flush_every": "4",
            },
        )
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "b", prefix="user:", fn=lambda d: {"k": d["key"]}
            ),
            name="buflib",
        )
        rt.start_trigger(lib, "b")
        try:
            for i in range(3):  # under flush_every: stays buffered
                rt.client.set(f"user:{i}", "v")
            assert len(rt.bridge._buffer) == 3
            rt.process_available()  # drains the partial buffer first
            assert rt.stats["buflib.b"].n_records == 3
            assert rt.bridge._buffer == []
            for i in range(4):  # hits flush_every: lands without drain
                rt.client.set(f"user:x{i}", "v")
            assert rt.bridge._buffer == []
            rt.process_available()
            assert rt.stats["buflib.b"].n_records == 7
            rt.client.set("user:last", "v")
            rt.bridge.detach()  # detach must flush the straggler
            assert rt.bridge._buffer == []
            rt.client.set("user:after", "v")  # detached: not observed
            rt.process_available()
            assert rt.stats["buflib.b"].n_records == 8
        finally:
            rt.stop_all()

    def test_proxy_noop_write_does_not_suppress_next_client_event(
        self, spark, sf_dir, tmp_path
    ):
        """A trigger-proxy DELETE/EXPIRE of a missing key fires no
        notification, so its pre-registered suppression must be
        withdrawn — otherwise the NEXT genuine client write on that key
        would be mis-tagged origin='trigger' and silently swallowed."""
        engine = GearsEngine(spark, sf_dir)
        rt = KeyspaceTriggerRuntime(
            engine,
            str(tmp_path / "changes_leak"),
            str(tmp_path / "cdcwork_leak"),
            source_format="redis",
            source_options={"fake_path": str(tmp_path / "leak.jsonl")},
        )
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "lk", prefix="user:", fn=lambda d: {"k": d["key"]}
            ),
            name="leaklib",
        )
        rt.start_trigger(lib, "lk")
        try:
            proxy = rt.bridge.trigger_client()
            assert proxy.delete("user:ghost") == 0   # no-op: no echo
            assert proxy.expire("user:ghost", 60) is False
            rt.client.set("user:ghost", "real client write")
            rt.process_available()
            # the client write MUST fire — a leaked suppression eats it
            assert rt.stats["leaklib.lk"].n_records == 1
            # and a genuine proxy write is still suppressed
            proxy.set("user:ghost", "trigger write")
            rt.process_available()
            assert rt.stats["leaklib.lk"].n_records == 1
        finally:
            rt.stop_all()

    def test_proxy_keyword_call_still_suppresses(
        self, spark, sf_dir, tmp_path
    ):
        """Every proxied write method takes the key as its first
        parameter, named `name` (redis-py convention) — a keyword call
        like proxy.set(name=..., value=...) must register the suppression
        exactly like the positional form, not raise TypeError (and not
        skip the registration, which would mis-tag the echo as
        client-origin and re-fire the trigger)."""
        engine = GearsEngine(spark, sf_dir)
        rt = KeyspaceTriggerRuntime(
            engine,
            str(tmp_path / "changes_kw"),
            str(tmp_path / "cdcwork_kw"),
            source_format="redis",
            source_options={"fake_path": str(tmp_path / "kw.jsonl")},
        )
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "kw", prefix="user:", fn=lambda d: {"k": d["key"]}
            ),
            name="kwlib",
        )
        rt.start_trigger(lib, "kw")
        try:
            proxy = rt.bridge.trigger_client()
            proxy.set(name="user:kw", value="by-keyword")
            rt.process_available()
            assert rt.stats["kwlib.kw"].n_records == 0  # suppressed
            assert rt.client.get("user:kw") == "by-keyword"  # write landed
            rt.client.set("user:kw", "client")  # genuine write still fires
            rt.process_available()
            assert rt.stats["kwlib.kw"].n_records == 1
        finally:
            rt.stop_all()

    def test_append_changes_is_the_single_seq_allocator(
        self, spark, sf_dir, tmp_path
    ):
        """seq is the exactly-once sink's idempotency key, so the feed
        must never hand two rows one seq. append_changes is the single
        allocator: rows lacking seq are stamped under the runtime lock,
        and a caller-chosen seq (tests, replay) advances the counter past
        itself so a later bridge-allocated seq can't collide with it —
        and bridge rows are counted ONCE, not double-advanced (allocation
        + bulk bump) leaving gaps."""
        engine = GearsEngine(spark, sf_dir)
        changes_dir = str(tmp_path / "changes_seq")
        rt = KeyspaceTriggerRuntime(
            engine,
            changes_dir,
            str(tmp_path / "cdcwork_seq"),
            source_format="redis",
            source_options={"fake_path": str(tmp_path / "seq.jsonl")},
        )
        try:
            # caller-chosen seq (replay-style direct append)
            rt.append_changes([{"seq": 5, "event": "set", "key": "user:a"}])
            # bridge-allocated rows MUST land above the pre-stamped 5
            rt.client.set("user:b", "v")
            rt.client.set("user:c", "v")
            # unstamped direct append allocates too
            rt.append_changes([{"event": "set", "key": "user:d"}])
            feed = spark.read.parquet(changes_dir)
            seqs = sorted(r["seq"] for r in feed.select("seq").collect())
            assert len(seqs) == len(set(seqs)) == 4  # no collisions
            assert seqs == [5, 6, 7, 8]  # counted once: no gaps above 5
        finally:
            rt.stop_all()

    def test_same_name_stream_and_keyspace_triggers_list_own_stats(
        self, spark, sf_dir, tmp_path
    ):
        """Stream and keyspace triggers have separate registries, so one
        library may hold both kinds under one name; each listing row shows
        the counters of its own kind's runtime, whichever runtime was
        built first."""

        def setup(l):
            l.register_stream_trigger("t", prefix="user:", fn=upper_type)
            l.register_keyspace_trigger("t", prefix="user:", fn=cdc_fails_on_del)

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(setup, name="twin")
        spool = str(tmp_path / "twin_spool")
        os.makedirs(spool)
        srt = StreamTriggerRuntime(
            engine, spool, str(tmp_path / "twin_swork"),
            source_adapter=events_to_stream,
        )
        krt = KeyspaceTriggerRuntime(
            engine, str(tmp_path / "twin_changes"), str(tmp_path / "twin_kwork")
        )
        srt.start_trigger(lib, "t")
        krt.start_trigger(lib, "t")
        try:
            krt.append_changes(
                [{"key": "user:1", "event": "set"}, {"key": "user:2", "event": "del"}]
            )
            krt.process_available()
            srt.process_available()
            (entry,) = engine.list_libraries(verbose=2)
            (stream_row,) = entry["stream_triggers"]
            (keyspace_row,) = entry["keyspace_triggers"]
            assert keyspace_row["stats"]["n_records"] == 2
            assert keyspace_row["stats"]["n_failed"] == 1
            assert "bad change user:2" in keyspace_row["stats"]["last_error"]
            assert stream_row["stats"]["n_records"] == 0
            assert stream_row["stats"]["last_error"] is None
        finally:
            srt.stop_all()
            krt.stop_all()


class TestWindowedAgg:
    """Event-time windows + watermarks (SURVEY §2.G additive capability —
    the reference processes records on arrival with no event-time gating,
    stream_reader.rs:127-135; here late data has a declared policy)."""

    T0 = pd.Timestamp("2024-03-01 00:00:00")

    def _write(self, spark, spool_dir, rows):
        """Append canonical stream-shape rows: (key, id, seconds-offset,
        value)."""
        pdf = pd.DataFrame(
            [
                {
                    "stream_key": k,
                    "id": i,
                    "id_ts": self.T0 + pd.Timedelta(seconds=s),
                    "fields": {"value": str(v)},
                    "record": None,
                }
                for (k, i, s, v) in rows
            ]
        )
        spark.createDataFrame(pdf, STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(spool_dir)

    def test_windows_finalize_on_watermark_and_drop_late(
        self, spark, sf_dir, spool, work
    ):
        engine = GearsEngine(spark, sf_dir)
        rt = WindowedAggRuntime(engine, spool, work)
        # window [00:00, 00:10): 3 records; window [00:10, 00:20): 1 record
        self._write(
            spark,
            spool,
            [
                ("user:1", 1, 0, 1.25),
                ("user:1", 2, 4, 2.00),
                ("user:1", 3, 9, 0.75),
                ("user:1", 4, 12, 10.00),
            ],
        )
        rt.start(window="10 seconds", watermark="5 seconds")
        try:
            rt.query.processAllAvailable()
            # watermark after first drain = 00:12 − 5s = 00:07 — no window
            # end has passed it, so append mode has emitted nothing
            assert rt.finalized().count() == 0

            # an event far ahead pushes the watermark past both windows
            self._write(spark, spool, [("user:1", 5, 40, 1.00)])
            rt.query.processAllAvailable()
            got = {
                (r["win_start"], r["n_records"], r["value_cents"])
                for r in rt.finalized().collect()
            }
            assert got == {
                (self.T0, 3, 400),  # 125 + 200 + 75 cents
                (self.T0 + pd.Timedelta(seconds=10), 1, 1000),
            }

            # a record older than the watermark (00:35) is DROPPED: no new
            # window row, no re-emission of the already-final [00:00,00:10)
            self._write(spark, spool, [("user:1", 6, 1, 99.0)])
            rt.query.processAllAvailable()
            assert rt.finalized().count() == 2
        finally:
            rt.stop()

    def test_hopping_window_plan_batch(self, spark, sf_dir):
        """Hopping (slide < window) evaluated in batch mode: each record
        lands in window-duration / slide windows."""
        from redisgears_spark.streaming import windowed_stream_agg

        pdf = pd.DataFrame(
            [
                {
                    "stream_key": "user:7",
                    "id": 1,
                    "id_ts": self.T0 + pd.Timedelta(seconds=15),
                    "fields": {"value": "2.50"},
                    "record": None,
                }
            ]
        )
        src = spark.createDataFrame(pdf, STREAM_SCHEMA)
        out = windowed_stream_agg(
            src, window="20 seconds", slide="10 seconds", watermark="1 seconds"
        ).collect()
        # the 00:15 record belongs to [00:00,00:20) and [00:10,00:30)
        assert {(r["win_start"], r["n_records"], r["value_cents"]) for r in out} == {
            (self.T0, 1, 250),
            (self.T0 + pd.Timedelta(seconds=10), 1, 250),
        }


class TestDedupIngest:
    """Streaming dedup at ingest (dropDuplicatesWithinWatermark): replays
    within the watermark horizon die executor-side; state is evicted once
    the watermark passes, after which the same content is admitted again —
    the horizon IS the guarantee (batch sweeps catch the rest)."""

    T0 = pd.Timestamp("2024-05-01 12:00:00")

    def _write(self, spark, spool_dir, rows):
        from redisgears_spark.streaming import DOC_STREAM_SCHEMA

        pdf = pd.DataFrame(
            [
                {
                    "doc_id": i,
                    "ingest_ts": self.T0 + pd.Timedelta(minutes=m),
                    "text": t,
                }
                for (i, m, t) in rows
            ]
        )
        spark.createDataFrame(pdf, DOC_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(spool_dir)

    def test_replays_dropped_until_state_evicts(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import DedupIngestRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = DedupIngestRuntime(engine, spool, work)
        self._write(
            spark,
            spool,
            [(1, 0, "hello world foo"), (2, 1, "a different document")],
        )
        rt.start(watermark="10 minutes")
        try:
            rt.query.processAllAvailable()
            assert {r["doc_id"] for r in rt.admitted().collect()} == {1, 2}

            # same content, different whitespace/case → same fingerprint →
            # dropped while the state entry lives
            self._write(spark, spool, [(3, 2, "  Hello   WORLD foo ")])
            rt.query.processAllAvailable()
            assert {r["doc_id"] for r in rt.admitted().collect()} == {1, 2}

            # advance the watermark far past t0+10min → fp state evicted
            self._write(spark, spool, [(4, 40, "watermark pusher")])
            rt.query.processAllAvailable()
            # the same content is admissible again — horizon contract
            self._write(spark, spool, [(5, 41, "hello world foo")])
            rt.query.processAllAvailable()
            got = {r["doc_id"] for r in rt.admitted().collect()}
            assert got == {1, 2, 4, 5}
        finally:
            rt.stop()

    def test_state_survives_restart(self, spark, sf_dir, spool, work):
        """Stop the query, build a fresh runtime over the same checkpoint:
        the fingerprint state must be restored — a replay that arrives
        after the restart is still dropped."""
        from redisgears_spark.streaming import DedupIngestRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = DedupIngestRuntime(engine, spool, work)
        self._write(spark, spool, [(1, 0, "persistent content here")])
        rt.start(watermark="10 minutes")
        try:
            rt.query.processAllAvailable()
        finally:
            rt.stop()

        rt2 = DedupIngestRuntime(engine, spool, work)
        rt2.start(watermark="10 minutes")
        try:
            self._write(spark, spool, [(2, 1, "Persistent   CONTENT here")])
            rt2.query.processAllAvailable()
            assert {r["doc_id"] for r in rt2.admitted().collect()} == {1}
        finally:
            rt2.stop()

    def test_quality_gate_before_dedup_state(self, spark, sf_dir, spool, work):
        """With a token floor, junk documents die on the column predicate
        before the dedup state lookup; quality documents still dedup."""
        from redisgears_spark.streaming import DedupIngestRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = DedupIngestRuntime(engine, spool, work)
        self._write(
            spark,
            spool,
            [
                (1, 0, "short junk"),  # 2 tokens < floor
                (2, 1, "a long enough document with plenty of tokens"),
                (3, 2, "a long enough DOCUMENT   with plenty of tokens"),
            ],
        )
        rt.start(watermark="10 minutes", min_tokens=5)
        try:
            rt.query.processAllAvailable()
            assert {r["doc_id"] for r in rt.admitted().collect()} == {2}
        finally:
            rt.stop()


class TestDeclarativeTrigger:
    """expr-registered stream triggers: the whole callback pipeline stays
    JVM-side; results, stats, and frontiers must match the Python-callback
    contract exactly."""

    def test_expr_trigger_end_to_end(self, spark, sf_dir, spool, work):
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "up",
                prefix="s:",
                expr="upper(fields['event_type'])",
                window=10**9,
            ),
            name="dlib",
        )
        rt = StreamTriggerRuntime(engine, spool, work)
        _write_canonical(
            spark, spool,
            [("s:1", 1, {"event_type": "click"}),
             ("s:1", 2, {"event_type": "buy"}),
             ("s:2", 7, {"event_type": "view"}),
             ("t:9", 1, {"event_type": "ignored"})],  # prefix-filtered
        )
        rt.start_library(lib)
        try:
            rt.process_available()
            st = rt.stats["dlib.up"]
            assert st.n_success == 3
            assert st.n_failed == 0
            assert st.frontier == {"s:1": 2, "s:2": 7}
            sink = {
                (r["stream_key"], r["id"]): r["result"]
                for r in rt.read_sink("dlib", "up").collect()
            }
            assert sink == {
                ("s:1", 1): "CLICK", ("s:1", 2): "BUY", ("s:2", 7): "VIEW"
            }
        finally:
            rt.stop_all()

    def test_expr_requires_unbounded_window(self, spark, sf_dir):
        engine = GearsEngine(spark, sf_dir)
        with pytest.raises(GearsError, match="unbounded"):
            engine.load_library(
                lambda l: l.register_stream_trigger(
                    "w", prefix="s:", expr="fields['x']", window=5
                ),
                name="badlib",
            )

    def test_fn_and_expr_mutually_exclusive(self, spark, sf_dir):
        engine = GearsEngine(spark, sf_dir)
        with pytest.raises(GearsError, match="exactly one"):
            engine.load_library(
                lambda l: l.register_stream_trigger(
                    "b", prefix="s:", fn=lambda d: 1, expr="1", window=10**9
                ),
                name="badlib2",
            )

    def test_expr_keyspace_trigger(self, spark, sf_dir, tmp_path):
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger(
                "kx", prefix="user:", expr="upper(snapshot['event_type'])"
            ),
            name="kdlib",
        )
        changes = str(tmp_path / "changes")
        rt = KeyspaceTriggerRuntime(engine, changes, str(tmp_path / "work"))
        rt.append_changes(
            [
                {"seq": 1, "event": "set", "key": "user:1",
                 "snapshot": {"event_type": "click"}},
                {"seq": 2, "event": "set", "key": "other:9",
                 "snapshot": {"event_type": "nope"}},
            ]
        )
        rt.start_trigger(lib, "kx")
        try:
            rt.process_available()
            st = rt.stats["kdlib.kx"]
            assert st.n_success == 1
            sink = spark.read.parquet(
                str(tmp_path / "work" / "cdc_sink" / "kdlib" / "kx")
            ).collect()
            assert [(r["key"], r["result"]) for r in sink] == [
                ("user:1", "CLICK")
            ]
        finally:
            rt.stop_all()

    def test_keyspace_expr_rejects_on_fired(self, spark, sf_dir):
        engine = GearsEngine(spark, sf_dir)
        with pytest.raises(GearsError, match="on_trigger_fired"):
            engine.load_library(
                lambda l: l.register_keyspace_trigger(
                    "bad", prefix="u:", expr="1",
                    on_trigger_fired=lambda d: d,
                ),
                name="kbad",
            )


class TestSessionWindowStream:
    def test_session_windows_merge_and_finalize(self, spark, sf_dir, spool, work):
        """Gap-based session windows over the stream: records within the
        gap merge into one session; a quiet period + watermark advance
        finalizes it (append mode emits each session exactly once)."""
        engine = GearsEngine(spark, sf_dir)
        rt = WindowedAggRuntime(engine, spool, work)
        base = pd.Timestamp("2024-01-01 00:00:00")

        def write(rows):
            pdf = pd.DataFrame(
                [
                    {
                        "stream_key": k,
                        "id": i,
                        "id_ts": base + pd.Timedelta(seconds=sec),
                        "fields": {"value": "1.0"},
                        "record": None,
                    }
                    for k, i, sec in rows
                ]
            )
            from redisgears_spark.streaming import STREAM_SCHEMA

            spark.createDataFrame(pdf, STREAM_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(spool)

        # one burst of 3 records within the 10s gap, then silence
        write([("s:1", 1, 0), ("s:1", 2, 5), ("s:1", 3, 9)])
        q = rt.start(
            prefix="s:", window="session:10 seconds", watermark="5 seconds"
        )
        try:
            q.processAllAvailable()
            # advance the watermark past the session end (9s + 10s gap)
            write([("s:1", 4, 60)])
            q.processAllAvailable()
            done = rt.finalized().collect()
            assert len(done) == 1
            (row,) = done
            assert row["n_records"] == 3
            assert row["value_cents"] == 300
            assert row["win_start"] == base.to_pydatetime()
            # session end = last record + gap
            assert row["win_end"] == (
                base + pd.Timedelta(seconds=19)
            ).to_pydatetime()
        finally:
            rt.stop()


class TestCallbackApiStability:
    def test_callback_receives_native_types(self, spark, sf_dir, spool, work):
        """Callbacks must receive native int ids and pd.Timestamp times —
        never numpy scalars (np.datetime64 has no .hour; np.int64 results
        would JSON-serialize as strings via default=str)."""
        import json as _json

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "types",
                prefix="s:",
                fn=lambda d: {
                    "hour": d["id_ts"].hour,  # needs Timestamp API
                    "id": d["id"],            # must serialize as a number
                },
                window=10**9,
            ),
            name="typelib",
        )
        rt = StreamTriggerRuntime(engine, spool, work)
        _write_canonical(spark, spool, [("s:1", 5, {"x": "1"})])
        rt.start_library(lib)
        try:
            rt.process_available()
            st = rt.stats["typelib.types"]
            assert st.n_failed == 0, st.last_error
            (row,) = rt.read_sink("typelib", "types").collect()
            assert _json.loads(row["result"]) == {"hour": 0, "id": 5}
        finally:
            rt.stop_all()

    def test_stop_library_drops_frontier_stats(self, spark, sf_dir, spool, work):
        """A deleted library's consumer must not pin the retention
        min-frontier: stop_library removes its stats, so trimming follows
        the slowest LIVE consumer (stream_reader.rs:60-110)."""
        engine = GearsEngine(spark, sf_dir)

        def mklib(n):
            return engine.load_library(
                lambda l: l.register_stream_trigger(
                    "t", prefix="s:", fn=lambda d: None, window=10**9
                ),
                name=n,
            )

        liba, libb = mklib("fra"), mklib("frb")
        rt = StreamTriggerRuntime(engine, spool, work)
        _write_canonical(spark, spool, [("s:1", 10, {"x": "1"})])
        rt.start_library(liba)
        rt.start_library(libb)
        try:
            rt.process_available()
            assert rt.min_frontier() == {"s:1": 10}
            rt.stop_library("fra")
            assert "fra.t" not in rt.stats
            # libb alone now defines the frontier
            _write_canonical(spark, spool, [("s:1", 99, {"x": "2"})])
            rt.process_available()
            assert rt.min_frontier() == {"s:1": 99}
        finally:
            rt.stop_all()

    def test_session_window_rejects_slide(self, spark):
        from redisgears_spark.streaming import windowed_stream_agg

        with pytest.raises(ValueError, match="gap-based"):
            windowed_stream_agg(
                spark.range(1).selectExpr(
                    "'s:1' stream_key", "id", "current_timestamp() id_ts",
                    "map('value','1') fields",
                ),
                window="session:10 seconds",
                slide="5 seconds",
            )


class TestSinkCompaction:
    def test_compact_preserves_rows_and_bounds_files(
        self, spark, sf_dir, spool, work
    ):
        """The fused executor-side sink appends one part file per task per
        batch; compact_sink must rewrite them into a bounded file count
        with the exact same rows."""
        import glob
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            StreamTriggerRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "cmp", prefix="user:", fn=upper_type, window=10**9
            ),
            name="clib",
        )
        rt = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        # several slices → several micro-batches → many part files
        write_slice(spark, sf_dir, spool, 0, 100)
        rt.start_library(lib)
        try:
            rt.process_available()
            write_slice(spark, sf_dir, spool, 100, 200)
            rt.process_available()
        finally:
            rt.stop_all()
        sink = os.path.join(work, "sink", "clib", "cmp")
        before = spark.read.parquet(sink).sort("id").collect()
        n_before = len(glob.glob(os.path.join(sink, "part-*.parquet")))
        assert n_before >= 2  # at least one part file per micro-batch
        n_files = rt.compact_sink("clib", "cmp", target_partitions=1)
        assert n_files == 1
        assert (
            len(glob.glob(os.path.join(sink, "part-*.parquet"))) == n_files
        )
        after = spark.read.parquet(sink).sort("id").collect()
        assert after == before

    def test_recompaction_preserves_rows(self, spark, sf_dir, spool, work):
        """Compacting a sink that already contains part-compact-* files
        from a prior run must not lose rows: compacted output names are
        unique per run, so a re-run never renames onto (and then unlinks)
        a prior run's file."""
        import glob
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            StreamTriggerRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "cmp2", prefix="user:", fn=upper_type, window=10**9
            ),
            name="clib2",
        )
        rt = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        write_slice(spark, sf_dir, spool, 0, 100)
        rt.start_library(lib)
        try:
            rt.process_available()
            assert rt.compact_sink("clib2", "cmp2", target_partitions=1) == 1
            # a batch lands between compactions, then compact again —
            # old_files now includes the prior run's part-compact-* file
            write_slice(spark, sf_dir, spool, 100, 200)
            rt.process_available()
        finally:
            rt.stop_all()
        sink = os.path.join(work, "sink", "clib2", "cmp2")
        before = spark.read.parquet(sink).sort("id").collect()
        assert rt.compact_sink("clib2", "cmp2", target_partitions=1) == 1
        assert len(glob.glob(os.path.join(sink, "part-*.parquet"))) == 1
        after = spark.read.parquet(sink).sort("id").collect()
        assert after == before
        # third run straight away (no new data): still lossless
        assert rt.compact_sink("clib2", "cmp2", target_partitions=1) == 1
        assert spark.read.parquet(sink).sort("id").collect() == before


class TestSinkSchema:
    """read_sink and compact_sink read a sink with the runtime's own
    schema: no inference job, and a sink with no committed batch yet
    reads as empty instead of failing UNABLE_TO_INFER_SCHEMA."""

    @staticmethod
    def _runtimes(spark, sf_dir, spool, work, tmp_path):
        engine = GearsEngine(spark, sf_dir)

        def setup(lib):
            lib.register_stream_trigger(
                "st", prefix="user:", fn=upper_type, window=10**9
            )
            lib.register_keyspace_trigger("kt", prefix="user:", fn=cdc_any_event)

        lib = engine.load_library(setup, name="schemalib")
        stream = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        cdc = KeyspaceTriggerRuntime(
            engine, str(tmp_path / "changes"), str(tmp_path / "cdcwork")
        )
        return lib, stream, cdc

    def test_read_sink_before_first_batch_is_empty(
        self, spark, sf_dir, spool, work, tmp_path
    ):
        lib, stream, cdc = self._runtimes(spark, sf_dir, spool, work, tmp_path)
        os.makedirs(spool, exist_ok=True)
        stream.start_trigger(lib, "st")
        cdc.start_trigger(lib, "kt")
        try:
            for rt, trig in ((stream, "st"), (cdc, "kt")):
                for exactly_once in (True, False):
                    sink = rt.read_sink("schemalib", trig, exactly_once)
                    assert sink.count() == 0
        finally:
            stream.stop_all()
            cdc.stop_all()

    def test_known_schema_equals_inferred_sink_schema(
        self, spark, sf_dir, spool, work, tmp_path
    ):
        lib, stream, cdc = self._runtimes(spark, sf_dir, spool, work, tmp_path)
        write_slice(spark, sf_dir, spool, 0, 50)
        cdc.append_changes(
            [{"seq": 1, "key": "user:1", "event": "hset", "snapshot": {}}]
        )
        stream.start_trigger(lib, "st")
        cdc.start_trigger(lib, "kt")
        try:
            stream.process_available()
            cdc.process_available()
        finally:
            stream.stop_all()
            cdc.stop_all()
        for rt, trig in ((stream, "st"), (cdc, "kt")):
            known = rt.read_sink("schemalib", trig, exactly_once=False)
            inferred = spark.read.parquet(rt._sink_dir("schemalib", trig))
            assert inferred.count() > 0
            assert known.schema == inferred.schema


class TestCdcExactlyOnceTieBreak:
    def test_retry_then_succeed_resolves_to_ok(self, spark, sf_dir, work):
        """A CDC record that errored on a first task attempt and succeeded
        on the retry appends BOTH status rows to the at-least-once sink;
        read_sink(exactly_once=True) must resolve the tie to the 'ok' row,
        not the lexicographically-smaller 'error' one."""
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming.triggers import (
            _CDC_RESULT_SCHEMA,
            KeyspaceTriggerRuntime,
        )

        engine = GearsEngine(spark, sf_dir)
        changes = os.path.join(work, "changes")
        rt = KeyspaceTriggerRuntime(engine, changes, work)
        sink = os.path.join(work, "cdc_sink", "lib", "trig")
        os.makedirs(sink, exist_ok=True)
        rows = [
            # seq 1: failed attempt then successful retry (duplicate)
            (1, "user:1", "set", "error", None, "boom"),
            (1, "user:1", "set", "ok", "r1", None),
            # seq 2: clean single delivery
            (2, "user:2", "set", "ok", "r2", None),
            # seq 3: genuinely failed on every attempt
            (3, "user:3", "set", "error", None, "fatal"),
        ]
        spark.createDataFrame(rows, _CDC_RESULT_SCHEMA).write.mode(
            "append"
        ).parquet(sink)
        out = {
            r["seq"]: r
            for r in rt.read_sink("lib", "trig", exactly_once=True).collect()
        }
        assert len(out) == 3
        assert out[1]["status"] == "ok" and out[1]["result"] == "r1"
        assert out[2]["status"] == "ok"
        assert out[3]["status"] == "error"


class TestDeclarativeAggTrigger:
    def test_per_key_batch_aggregates(self, spark, sf_dir, spool, work):
        """agg_expr triggers emit one JVM-aggregated row per key per
        micro-batch (JSON payload), count emitted rows in stats, and keep
        the frontier at max(id) per key."""
        import json
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            StreamTriggerRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "rollup",
                prefix="user:",
                agg_expr={
                    "n": "count(1)",
                    "total": "sum(cast(fields['value'] as double))",
                    "max_id": "max(id)",
                },
                window=10**9,
            ),
            name="aglib",
        )
        rt = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        write_slice(spark, sf_dir, spool, 0, 200)
        rt.start_library(lib)
        try:
            rt.process_available()
            stats = rt.stats["aglib.rollup"]
            sink = spark.read.parquet(
                os.path.join(work, "sink", "aglib", "rollup")
            )
            rows = sink.collect()
            # one aggregate row per (key, batch); single batch here
            keys = {r["stream_key"] for r in rows}
            assert stats.n_success == len(rows)
            payload = {r["stream_key"]: json.loads(r["result"]) for r in rows}
            # cross-check against a batch computation over the same slice
            from pyspark.sql import functions as F

            from redisgears_spark.sources.keyspace import load_table

            expected = {
                f"user:{r['user_id']}": (r["n"], r["mx"])
                for r in load_table(spark, sf_dir, "events")
                .filter(F.col("event_id") < 200)
                .groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max("event_id").alias("mx"),
                )
                .collect()
            }
            assert set(expected) == keys
            for k, (n, mx) in expected.items():
                assert payload[k]["n"] == n
                assert payload[k]["max_id"] == mx
                assert stats.frontier[k] == mx
        finally:
            rt.stop_all()

    def test_agg_requires_unbounded_window(self, spark, sf_dir):
        import pytest

        from redisgears_spark.engine import GearsEngine, GearsError

        engine = GearsEngine(spark, sf_dir)
        with pytest.raises(GearsError, match="unbounded"):
            engine.load_library(
                lambda l: l.register_stream_trigger(
                    "bad", prefix="u:", agg_expr={"n": "count(1)"}, window=2
                ),
                name="badlib",
            )


class TestFusedSinkSchemaStability:
    def test_all_none_results_then_values(self, spark, sf_dir, spool, work):
        """A side-effect-only callback (returns None for every record)
        must not poison the sink schema: a later batch whose callback
        returns values lands in the same directory, and both read back as
        string-typed result columns (regression: from_pandas inferred an
        Arrow null type for all-None columns, and the mixed directory
        failed Spark's parquet reader)."""
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            StreamTriggerRuntime,
            events_to_stream,
        )

        state = {"silent": True}

        def sometimes(d):
            return None if state["silent"] else {"e": d["fields"]["event_type"]}

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "mix", prefix="user:", fn=sometimes, window=10**9
            ),
            name="mxlib",
        )
        rt = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        write_slice(spark, sf_dir, spool, 0, 50)
        rt.start_library(lib)
        try:
            rt.process_available()  # batch 1: result is None for every row
            state["silent"] = False
            write_slice(spark, sf_dir, spool, 50, 100)
            rt.process_available()  # batch 2: string results
        finally:
            rt.stop_all()
        sink = spark.read.parquet(os.path.join(work, "sink", "mxlib", "mix"))
        assert dict(sink.dtypes)["result"] == "string"
        rows = sink.collect()
        assert len(rows) == 100
        assert sum(r["result"] is None for r in rows) == 50
        # the exactly-once reader works over the mixed files too
        assert rt.read_sink("mxlib", "mix").count() == 100


class TestStreamIntervalJoin:
    def test_matches_batch_interval_join(self, spark, sf_dir, spool, work):
        """The watermarked stream-stream interval join must emit exactly
        the pairs the equivalent batch join computes — across micro-batch
        boundaries (two slices), each pair exactly once."""
        from pyspark.sql import functions as F

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.functions.exact import micros
        from redisgears_spark.sources.keyspace import load_table
        from redisgears_spark.streaming import (
            StreamJoinRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)
        rt = StreamJoinRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        write_slice(spark, sf_dir, spool, 0, 400)
        rt.start(window="1 hour", watermark="10 seconds")
        try:
            rt.query.processAllAvailable()
            write_slice(spark, sf_dir, spool, 400, 800)
            rt.query.processAllAvailable()
        finally:
            rt.stop()
        got = {
            (r["stream_key"], r["l_id"], r["r_id"], r["lag_us"])
            for r in rt.pairs().collect()
        }
        # batch ground truth over the same slice of events
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("event_id") < 800
        )
        v = ev.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("u"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
        want = {
            (
                f"user:{r['u']}",
                r["l_id"],
                r["r_id"],
                r["lag_us"],
            )
            for r in v.join(
                p,
                (v.u == p.pu)
                & (p.r_ts >= v.l_ts)
                & (p.r_ts < v.l_ts + F.expr("INTERVAL 1 hour")),
            )
            .select(
                "u",
                "l_id",
                "r_id",
                (micros("r_ts") - micros("l_ts")).alias("lag_us"),
            )
            .collect()
        }
        assert want, "fixture slice has no view→purchase pairs"
        assert got == want

    def test_stream_static_enrichment(self, spark, sf_dir, spool, work):
        """Stream-static broadcast enrichment: every streamed record picks
        up its user's segment from the static customer dimension; users
        without a dimension row enrich to null (left-join contract)."""
        from pyspark.sql import functions as F

        from redisgears_spark.streaming.joins import stream_static_enrich
        from redisgears_spark.streaming import events_to_stream

        dim = (
            load_table(spark, sf_dir, "customer")
            .select(
                F.concat(F.lit("user:"), F.col("c_custkey").cast("string"))
                .alias("dim_key"),
                "c_mktsegment",
            )
        )
        raw_schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        write_slice(spark, sf_dir, spool, 0, 300)
        src = events_to_stream(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(spool)
        )
        enriched = stream_static_enrich(src, dim)
        sink = os.path.join(work, "enrich_sink")
        q = (
            enriched.select("stream_key", "id", "c_mktsegment")
            .writeStream.format("parquet")
            .option("path", sink)
            .option(
                "checkpointLocation", os.path.join(work, "enrich_ckpt")
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.read.parquet(sink)
        assert out.count() == 300
        # ground truth from the batch join
        want = {
            (f"user:{r['c_custkey']}"): r["c_mktsegment"]
            for r in load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .collect()
        }
        for r in out.collect():
            assert r["c_mktsegment"] == want.get(r["stream_key"])

    def test_stream_asof_enrichment_is_event_time(
        self, spark, sf_dir, spool, work
    ):
        """Temporal (SCD2) enrichment joins the dimension VERSION valid
        at each record's event time: records before the version flip get
        v1, records after get v2 — regardless of when the micro-batch
        runs — and keys with no version covering their ts enrich null."""
        import datetime

        from pyspark.sql import functions as F

        from redisgears_spark.streaming import events_to_stream
        from redisgears_spark.streaming.joins import stream_asof_enrich

        flip = datetime.datetime(2024, 1, 15)
        far = datetime.datetime(9999, 1, 1)
        rows = []
        for uid in range(150):
            key = f"user:{uid}"
            if uid % 10 == 9:
                continue  # no dimension rows at all: must enrich null
            rows.append((key, datetime.datetime(2024, 1, 1), flip, "bronze"))
            rows.append((key, flip, far, "gold"))
        dim = spark.createDataFrame(
            rows,
            "key string, valid_from timestamp, valid_to timestamp, "
            "tier string",
        )
        raw_schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        write_slice(spark, sf_dir, spool, 0, 300)
        src = events_to_stream(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(spool)
        )
        enriched = stream_asof_enrich(src, dim)
        sink = os.path.join(work, "asof_sink")
        q = (
            enriched.select("stream_key", "id", "id_ts", "tier")
            .writeStream.format("parquet")
            .option("path", sink)
            .option(
                "checkpointLocation", os.path.join(work, "asof_ckpt")
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.read.parquet(sink).collect()
        assert len(out) == 300  # left join: nothing dropped
        n_null = 0
        for r in out:
            uid = int(r["stream_key"].split(":")[1])
            if uid % 10 == 9:
                assert r["tier"] is None
                n_null += 1
            elif r["id_ts"] < flip:
                assert r["tier"] == "bronze", r
            else:
                assert r["tier"] == "gold", r
        assert n_null > 0  # the no-dimension path was exercised

    def test_join_state_survives_restart(self, spark, sf_dir, spool, work):
        """A view buffered in the join state store before a stop must
        still pair with a purchase arriving after the restart — state
        recovery from the checkpoint — and nothing is emitted twice.
        The spanning pair is injected: a synthetic purchase lands AFTER
        the restart, 10 minutes after a view consumed BEFORE it."""
        import datetime

        from pyspark.sql import functions as F

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.sources.keyspace import load_table
        from redisgears_spark.streaming import (
            StreamJoinRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)

        def make_rt():
            return StreamJoinRuntime(
                engine, spool, work, source_adapter=events_to_stream
            )

        # slice 1: first 300 events
        rt = make_rt()
        write_slice(spark, sf_dir, spool, 0, 300)
        rt.start(window="1 hour", watermark="10 seconds")
        try:
            rt.query.processAllAvailable()
        finally:
            rt.stop()

        # pick a view from slice 1 and craft its post-restart purchase
        ev = load_table(spark, sf_dir, "events")
        view = (
            ev.filter(
                (F.col("event_type") == "view") & (F.col("event_id") < 300)
            )
            .orderBy(F.col("event_id").desc())
            .limit(1)
            .collect()[0]
        )
        synth_ts = view["ts"] + datetime.timedelta(minutes=10)
        spark.createDataFrame(
            [
                (
                    10**6,
                    synth_ts,
                    view["user_id"],
                    "purchase",
                    1.0,
                    "{}",
                )
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("append").parquet(spool)

        # restart: fresh runtime over the same checkpoint
        rt = make_rt()
        rt.start(window="1 hour", watermark="10 seconds")
        try:
            rt.query.processAllAvailable()
        finally:
            rt.stop()

        got = sorted(
            (r["l_id"], r["r_id"]) for r in rt.pairs().collect()
        )
        assert len(got) == len(set(got)), "duplicate pairs after restart"
        # the spanning pair: pre-restart view ⋈ post-restart purchase —
        # only recoverable if the view survived in the state store
        assert (view["event_id"], 10**6) in got


class TestMaintain:
    def test_maintain_trims_and_compacts(self, spark, sf_dir, spool, work):
        """maintain() = retention trim + sink compaction in one call:
        acked records leave the spool, sink file count drops to the
        target, and all sink rows survive."""
        import glob
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            STREAM_SCHEMA,
            StreamTriggerRuntime,
        )

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "m", prefix="user:", fn=upper_type, window=10**9
            ),
            name="mlib",
        )
        # canonical-shape spool (no adapter) so retention applies
        rt = StreamTriggerRuntime(engine, spool, work)
        _write_canonical(
            spark,
            spool,
            [(f"user:{i % 3}", i, {"event_type": "view"}) for i in range(40)],
        )
        rt.start_library(lib)
        try:
            rt.process_available()
            _write_canonical(
                spark,
                spool,
                [("user:0", 100 + i, {"event_type": "click"}) for i in range(10)],
            )
            rt.process_available()
        finally:
            rt.stop_all()
        sink = os.path.join(work, "sink", "mlib", "m")
        before = spark.read.parquet(sink).sort("id").collect()
        assert len(glob.glob(os.path.join(sink, "part-*.parquet"))) > 1
        out = rt.maintain(target_partitions=1)
        assert out["evicted_rows"] == 50  # everything acked → all trimmed
        assert out["sink_files"] == 1
        assert (
            spark.read.schema(STREAM_SCHEMA).parquet(spool).count() == 0
        )
        assert spark.read.parquet(sink).sort("id").collect() == before


class TestDeadLetterQueue:
    def test_read_errors_returns_replayable_rows(
        self, spark, sf_dir, spool, work
    ):
        """read_errors() exposes the full DLQ: one row per failed record
        with original identity (stream_key, id, id_ts) + the error —
        replayable by a fixed callback. Empty for a clean trigger."""
        from pyspark.sql import functions as F

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            StreamTriggerRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: (
                l.register_stream_trigger(
                    "flaky", prefix="user:", fn=fails_on_errors,
                    window=10**9,
                ),
                l.register_stream_trigger(
                    "clean", prefix="user:", fn=upper_type, window=10**9
                ),
            ),
            name="dlq",
        )
        rt = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        write_slice(spark, sf_dir, spool, 0, 300)
        rt.start_library(lib)
        try:
            rt.process_available()
        finally:
            rt.stop_all()
        errs = rt.read_errors("dlq", "flaky")
        n_failed = rt.stats["dlq.flaky"].n_failed
        assert n_failed > 0
        assert errs.count() == n_failed
        rows = errs.collect()
        assert all(r["status"] == "error" for r in rows)
        assert all("bad record" in r["error"] for r in rows)
        assert all(r["stream_key"].startswith("user:") for r in rows)
        # ids identify exactly the 'error'-type events in the slice
        want_ids = {
            r["event_id"]
            for r in load_table(spark, sf_dir, "events")
            .filter(
                (F.col("event_id") < 300)
                & (F.col("event_type") == "error")
            )
            .collect()
        }
        assert {r["id"] for r in rows} == want_ids
        # clean trigger → empty DLQ, same schema
        clean = rt.read_errors("dlq", "clean")
        assert clean.count() == 0
        assert clean.schema == errs.schema

    def test_replay_errors_with_fixed_callback(
        self, spark, sf_dir, spool, work
    ):
        """The recovery workflow: a buggy callback fills the DLQ; replay
        with the fixed callback moves the recovered records into the
        sink, shrinks the DLQ to the still-failing set (none here), and
        shifts the stats."""
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            StreamTriggerRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "r", prefix="user:", fn=fails_on_errors, window=10**9
            ),
            name="rlib",
        )
        rt = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        write_slice(spark, sf_dir, spool, 0, 300)
        rt.start_library(lib)
        try:
            rt.process_available()
        finally:
            rt.stop_all()
        stats = rt.stats["rlib.r"]
        n_failed = stats.n_failed
        n_success = stats.n_success
        assert n_failed > 0
        sink = os.path.join(work, "sink", "rlib", "r")
        sink_before = spark.read.parquet(sink).count()

        out = rt.replay_errors("rlib", "r", fn=upper_type)  # the fix
        assert out == {
            "replayed": n_failed,
            "ok": n_failed,
            "still_failing": 0,
            "unreplayable": 0,
        }
        assert rt.read_errors("rlib", "r").count() == 0
        assert (
            spark.read.parquet(sink).count() == sink_before + n_failed
        )
        assert rt.stats["rlib.r"].n_success == n_success + n_failed
        assert rt.stats["rlib.r"].n_failed == 0
        # idempotent on an empty DLQ
        assert rt.replay_errors("rlib", "r", fn=upper_type) == {
            "replayed": 0,
            "ok": 0,
            "still_failing": 0,
            "unreplayable": 0,
        }


@pytest.mark.parametrize(
    "kind, lib_name, trigger, msg",
    [
        ("stream", "nolib", "r", "unknown library 'nolib'"),
        ("stream", "rlib", "nope", "unknown trigger 'rlib.nope'"),
        ("keyspace", "nolib", "k", "unknown library 'nolib'"),
        ("keyspace", "cdclib", "nope", "unknown keyspace trigger 'cdclib.nope'"),
    ],
)
def test_replay_errors_names_an_unknown_library_or_trigger(
    spark, sf_dir, tmp_path, kind, lib_name, trigger, msg
):
    """replay_errors looks the names up under the engine lock and refuses
    an unknown one with a GearsError, as call() does, not a KeyError."""
    engine = GearsEngine(spark, sf_dir)
    work = str(tmp_path / "work")
    if kind == "stream":
        engine.load_library(
            lambda l: l.register_stream_trigger("r", prefix="user:", fn=upper_type),
            name="rlib",
        )
        rt = StreamTriggerRuntime(engine, str(tmp_path / "spool"), work)
    else:
        engine.load_library(
            lambda l: l.register_keyspace_trigger("k", prefix="user:", fn=cdc_any_event),
            name="cdclib",
        )
        rt = KeyspaceTriggerRuntime(engine, str(tmp_path / "changes"), work)
    with pytest.raises(GearsError) as err:
        rt.replay_errors(lib_name, trigger)
    assert str(err.value) == msg


class TestCdcDeadLetterQueue:
    """DLQ parity for keyspace (CDC) triggers: the reference surfaces
    last_error/counters identically for stream and keyspace triggers
    (keys_notifications.rs:113-208), so the recovery surface matches the
    stream runtime's read_errors/replay_errors."""

    def _setup(self, spark, sf_dir, tmp_path, fn=cdc_fails_on_del):
        changes = str(tmp_path / "changes")
        work = str(tmp_path / "work")
        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_keyspace_trigger("k", prefix="user:", fn=fn),
            name="cdclib",
        )
        rt = KeyspaceTriggerRuntime(engine, changes, work)
        rt.append_changes(
            [
                {"seq": 1, "event": "set", "key": "user:1",
                 "snapshot": {"v": "a"}},
                {"seq": 2, "event": "del", "key": "user:2"},
                {"seq": 3, "event": "set", "key": "user:3",
                 "snapshot": {"v": "b"}},
                {"seq": 4, "event": "del", "key": "user:4"},
                {"seq": 5, "event": "set", "key": "other:9"},  # prefix-filtered
            ]
        )
        rt.start_trigger(lib, "k")
        try:
            rt.process_available()
        finally:
            rt.stop_all()
        return rt

    def test_read_errors_exposes_failed_changes(self, spark, sf_dir, tmp_path):
        rt = self._setup(spark, sf_dir, tmp_path)
        st = rt.stats["cdclib.k"]
        assert st.n_success == 2 and st.n_failed == 2
        errs = rt.read_errors("cdclib", "k").collect()
        assert {r["seq"] for r in errs} == {2, 4}
        assert all(r["status"] == "error" for r in errs)
        assert all("bad change" in r["error"] for r in errs)
        # clean trigger on an empty sink dir → empty frame, same schema
        empty = rt.read_errors("cdclib", "nope")
        assert empty.count() == 0

    def test_replay_errors_with_fixed_callback(self, spark, sf_dir, tmp_path):
        import os

        rt = self._setup(spark, sf_dir, tmp_path)
        sink = str(tmp_path / "work" / "cdc_sink" / "cdclib" / "k")
        out = rt.replay_errors("cdclib", "k", fn=cdc_any_event)  # the fix
        assert out == {
            "replayed": 2,
            "ok": 2,
            "still_failing": 0,
            "unreplayable": 0,
        }
        # the DLQ view retires replayed successes via the exactly-once
        # collapse — no rows left dead
        assert rt.read_errors("cdclib", "k").count() == 0
        resolved = {
            (r["seq"], r["status"])
            for r in rt.read_sink("cdclib", "k").collect()
        }
        assert resolved == {(1, "ok"), (2, "ok"), (3, "ok"), (4, "ok")}
        assert rt.stats["cdclib.k"].n_success == 4
        assert rt.stats["cdclib.k"].n_failed == 0
        assert os.path.isdir(sink)

    def test_replay_still_failing_and_idempotent_on_empty(
        self, spark, sf_dir, tmp_path
    ):
        rt = self._setup(spark, sf_dir, tmp_path)
        # replay with the SAME broken callback: everything still fails
        out = rt.replay_errors("cdclib", "k")
        assert out == {
            "replayed": 2,
            "ok": 0,
            "still_failing": 2,
            "unreplayable": 0,
        }
        assert rt.read_errors("cdclib", "k").count() == 2
        # now fix it; then an empty-DLQ replay is a no-op
        out = rt.replay_errors("cdclib", "k", fn=cdc_any_event)
        assert out["ok"] == 2
        out = rt.replay_errors("cdclib", "k", fn=cdc_any_event)
        assert out == {
            "replayed": 0,
            "ok": 0,
            "still_failing": 0,
            "unreplayable": 0,
        }

    def test_replay_after_feed_truncation_retains_dlq(
        self, spark, sf_dir, tmp_path
    ):
        """A DLQ entry whose change record is gone from the feed is
        reported as unreplayable and REMAINS dead — never silently
        resolved or dropped."""
        import glob as _glob
        import os

        rt = self._setup(spark, sf_dir, tmp_path)
        for f in _glob.glob(str(tmp_path / "changes" / "*.parquet")):
            os.remove(f)
        out = rt.replay_errors("cdclib", "k", fn=cdc_any_event)
        assert out == {
            "replayed": 0,
            "ok": 0,
            "still_failing": 0,
            "unreplayable": 2,
        }
        assert rt.read_errors("cdclib", "k").count() == 2

    def test_replay_after_retention_retains_dlq(
        self, spark, sf_dir, spool, work
    ):
        """A DLQ entry whose source record was trimmed by retention must
        SURVIVE a replay (reported as unreplayable), never be silently
        dropped by the DLQ swap."""
        import shutil as _shutil
        import os

        from redisgears_spark.engine import GearsEngine
        from redisgears_spark.streaming import (
            StreamTriggerRuntime,
            events_to_stream,
        )

        engine = GearsEngine(spark, sf_dir)
        lib = engine.load_library(
            lambda l: l.register_stream_trigger(
                "rr", prefix="user:", fn=fails_on_errors, window=10**9
            ),
            name="rrlib",
        )
        rt = StreamTriggerRuntime(
            engine, spool, work, source_adapter=events_to_stream
        )
        write_slice(spark, sf_dir, spool, 0, 300)
        rt.start_library(lib)
        try:
            rt.process_available()
        finally:
            rt.stop_all()
        n_failed = rt.stats["rrlib.rr"].n_failed
        assert n_failed > 0
        # retention trims the WHOLE spool (all ids are acked)
        _shutil.rmtree(spool, ignore_errors=True)
        os.makedirs(spool, exist_ok=True)
        out = rt.replay_errors("rrlib", "rr", fn=upper_type)
        assert out == {
            "replayed": 0,
            "ok": 0,
            "still_failing": 0,
            "unreplayable": n_failed,
        }
        # the DLQ still holds every entry, untouched
        assert rt.read_errors("rrlib", "rr").count() == n_failed


class TestStreamingHeavyHitters:
    """Streaming Misra-Gries per stream_key: state survives micro-batches
    via the state store; MG bound holds against exact counts."""

    def _feed(self, spark, spool, lo, hi):
        # skewed distribution: item f"i{j}" where j = value % 7, with
        # item 'i0' boosted (every third record repeats it)
        rows = []
        for i in range(lo, hi):
            item = "i0" if i % 3 == 0 else f"i{i % 7}"
            rows.append(("k:1" if i % 2 == 0 else "k:2", i, {"item": item}))
        _write_canonical(spark, spool, rows)

    def test_top_items_with_mg_bound(self, spark, sf_dir, spool, work):
        from collections import Counter

        from redisgears_spark.streaming import StreamingHeavyHittersRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingHeavyHittersRuntime(
            engine, spool, work, field="item", cap=5, topk=3
        )
        self._feed(spark, spool, 0, 120)
        rt.start(prefix="k:")
        try:
            rt.process_available()
            # second batch: state must carry over, not reset
            self._feed(spark, spool, 120, 240)
            rt.process_available()
        finally:
            rt.stop()
        top = rt.top()
        assert set(top) == {"k:1", "k:2"}
        # exact truth per key
        truth: dict[str, Counter] = {"k:1": Counter(), "k:2": Counter()}
        for i in range(240):
            item = "i0" if i % 3 == 0 else f"i{i % 7}"
            truth["k:1" if i % 2 == 0 else "k:2"][item] += 1
        for key, entries in top.items():
            n = sum(truth[key].values())
            bound = n / (5 + 1)
            ranked = dict(entries)
            # the dominant item must surface and estimates respect the
            # MG undercount bound est <= true <= est + N/(cap+1)
            best_item, best_n = truth[key].most_common(1)[0]
            assert best_item in ranked
            for item, est in entries:
                assert est <= truth[key][item] <= est + bound + 1
            # ranks ordered by estimate desc
            ests = [e for _, e in entries]
            assert ests == sorted(ests, reverse=True)

    def test_restart_resumes_state(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingHeavyHittersRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingHeavyHittersRuntime(
            engine, spool, work, field="item", cap=5, topk=3
        )
        self._feed(spark, spool, 0, 60)
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        n_before = {
            k: v[0][1] for k, v in rt.top().items()
        }
        # NEW runtime over the same checkpoint: counters continue
        rt2 = StreamingHeavyHittersRuntime(
            engine, spool, work, field="item", cap=5, topk=3
        )
        self._feed(spark, spool, 60, 120)
        rt2.start(prefix="k:")
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        top2 = rt2.top()
        for k, entries in top2.items():
            assert entries[0][1] > n_before[k]


class TestHeavyHittersApiSurface:
    def test_inherited_stats_api_fails_loudly(self, spark, sf_dir, spool, work):
        """The hh sink has no deleted/last_id columns, so the base
        class's latest()/expire_idle() cannot apply — they must raise a
        clear GearsError, not crash mid-iteration with a KeyError."""
        from redisgears_spark.streaming import StreamingHeavyHittersRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingHeavyHittersRuntime(engine, spool, work, field="item")
        with pytest.raises(GearsError, match="use top\\(\\)"):
            rt.latest()
        with pytest.raises(GearsError, match="not supported"):
            rt.expire_idle(60)


class TestSinkCompactionSafety:
    """compact_sink() must be lossless for snapshot sinks and REFUSED for
    event-log sinks — never a silent history wipe (docs/INCREMENTAL.md
    rule 5)."""

    def test_compact_preserves_multirow_topk(self, spark, sf_dir, spool, work):
        """The heavy-hitters sink carries MULTIPLE rows per key per epoch
        (one per rank): compaction must keep the key's full latest-epoch
        snapshot, not a single arbitrary max_by row."""
        from redisgears_spark.streaming import StreamingHeavyHittersRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingHeavyHittersRuntime(
            engine, spool, work, field="item", cap=5, topk=3
        )
        rows = []
        for i in range(120):
            item = "i0" if i % 3 == 0 else f"i{i % 7}"
            rows.append(("k:1" if i % 2 == 0 else "k:2", i, {"item": item}))
        _write_canonical(spark, spool, rows[:60])
        rt.start(prefix="k:")
        try:
            rt.process_available()
            _write_canonical(spark, spool, rows[60:])  # second epoch
            rt.process_available()
        finally:
            rt.stop()
        before = spark.read.parquet(rt.sink_dir).count()
        snapshot = rt.top()
        assert all(len(entries) > 1 for entries in snapshot.values())
        after = rt.compact_sink()
        # every rank of the latest epoch survives; older epochs are gone
        assert after == sum(len(v) for v in snapshot.values()) < before
        assert rt.top() == snapshot

    @pytest.mark.parametrize(
        "runtime_name,read_api",
        [
            ("StreamingSessionizeRuntime", "sessions"),
            ("StreamingRateLimitRuntime", None),
            ("StreamingCusumRuntime", "scores"),
            ("StreamingBloomDedupRuntime", None),
        ],
    )
    def test_event_log_runtimes_refuse_compaction(
        self, spark, sf_dir, spool, work, runtime_name, read_api
    ):
        """Sessionize/rate-limit/CUSUM/bloom-dedup sinks are event logs
        (one row per closed session / per record); latest-per-key
        compaction would destroy history, so compact_sink fails loudly."""
        import redisgears_spark.streaming as streaming_mod

        engine = GearsEngine(spark, sf_dir)
        cls = getattr(streaming_mod, runtime_name)
        rt = cls(engine, spool, work)
        with pytest.raises(GearsError, match="event log"):
            rt.compact_sink()

    def test_sessionize_history_intact_end_to_end(
        self, spark, sf_dir, spool, work
    ):
        """Regression for the compaction-loss bug: after two closed
        sessions on one key, the refused compaction leaves sessions()
        returning BOTH (the lossy path returned at most one per key)."""
        from redisgears_spark.streaming import StreamingSessionizeRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingSessionizeRuntime(engine, spool, work, gap=10)
        _write_canonical(
            spark, spool, [("k:1", i, {"x": "1"}) for i in (1, 2, 3)]
        )
        rt.start(prefix="k:")
        try:
            rt.process_available()
            _write_canonical(spark, spool, [("k:1", 50, {"x": "1"})])
            rt.process_available()
            _write_canonical(spark, spool, [("k:1", 100, {"x": "1"})])
            rt.process_available()
        finally:
            rt.stop()
        with pytest.raises(GearsError, match="event log"):
            rt.compact_sink()
        got = [
            (s["session_start_id"], s["session_end_id"])
            for s in rt.sessions()
        ]
        assert got == [(1, 3), (50, 50)]


class TestStreamingSessionize:
    """Gap sessionization with state-store-resident open sessions."""

    def test_sessions_close_on_gap_and_survive_batches(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.streaming import StreamingSessionizeRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingSessionizeRuntime(engine, spool, work, gap=10)
        # k:1 — ids 1,2,3 then a gap to 50,51; k:2 — one long session
        _write_canonical(
            spark,
            spool,
            [("k:1", i, {"x": "1"}) for i in (1, 2, 3)]
            + [("k:2", i, {"x": "1"}) for i in (5, 6)],
        )
        rt.start(prefix="k:")
        try:
            rt.process_available()
            # the open sessions must NOT have been emitted yet
            assert rt.sessions() == []
            # second batch: k:1 jumps the gap (closes 1-3), k:2 stays in
            _write_canonical(
                spark,
                spool,
                [("k:1", 50, {"x": "1"}), ("k:1", 51, {"x": "1"}),
                 ("k:2", 12, {"x": "1"})],
            )
            rt.process_available()
            got = rt.sessions()
            assert [
                (s["stream_key"], s["session_start_id"],
                 s["session_end_id"], s["n_events"], s["close_reason"])
                for s in got
            ] == [("k:1", 1, 3, 3, "gap")]
            # force-close both open sessions via the control path
            rt.close_key("k:1", at_id=60)
            rt.close_key("k:2", at_id=60)
            rt.process_available()
        finally:
            rt.stop()
        got = rt.sessions()
        assert [
            (s["stream_key"], s["session_start_id"], s["session_end_id"],
             s["n_events"], s["close_reason"])
            for s in got
        ] == [
            ("k:1", 1, 3, 3, "gap"),
            ("k:1", 50, 51, 2, "del"),
            ("k:2", 5, 12, 3, "del"),
        ]

    def test_open_sessions_survive_restart(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingSessionizeRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingSessionizeRuntime(engine, spool, work, gap=10)
        _write_canonical(spark, spool, [("k:1", i, {"x": "1"}) for i in (1, 2)])
        rt.start()
        try:
            rt.process_available()
        finally:
            rt.stop()
        # new runtime over the same checkpoint: the open session (1-2)
        # must resume from state, then close on the gap record
        rt2 = StreamingSessionizeRuntime(engine, spool, work, gap=10)
        _write_canonical(spark, spool, [("k:1", 40, {"x": "1"})])
        rt2.start()
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        got = rt2.sessions()
        assert [
            (s["session_start_id"], s["session_end_id"], s["n_events"])
            for s in got
        ] == [(1, 2, 2)]

    def test_stats_api_fails_loudly(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingSessionizeRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingSessionizeRuntime(engine, spool, work)
        with pytest.raises(GearsError, match="sessions\\(\\)"):
            rt.latest()
        with pytest.raises(GearsError, match="close_key"):
            rt.expire_idle(60)


class TestStreamingRateLimit:
    """Sliding-log rate limiter: admitted-only quota, bounded state."""

    def test_burst_throttled_quota_recovers(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingRateLimitRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingRateLimitRuntime(
            engine, spool, work, window=100, limit=3
        )
        # burst of 5 inside one window, then a far-later record
        _write_canonical(
            spark,
            spool,
            [("k:1", i, {"x": "1"}) for i in (1, 2, 3, 4, 5)],
        )
        rt.start(prefix="k:")
        try:
            rt.process_available()
            # ids 1-3 admitted, 4-5 throttled (3 admitted in window)
            got = {d["id"]: d["admitted"] for d in rt.decisions()}
            assert got == {1: True, 2: True, 3: True, 4: False, 5: False}
            # window slides: at id 150 the old admissions expired —
            # quota must recover ACROSS micro-batches (state carried)
            _write_canonical(spark, spool, [("k:1", 150, {"x": "1"})])
            rt.process_available()
        finally:
            rt.stop()
        got = {d["id"]: d["admitted"] for d in rt.decisions()}
        assert got[150] is True

    def test_throttled_consume_no_quota(self, spark, sf_dir, spool, work):
        """Sliding-log policy: a throttled record must not extend the
        throttle window (only ADMITTED ids occupy quota)."""
        from redisgears_spark.streaming import StreamingRateLimitRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingRateLimitRuntime(
            engine, spool, work, window=100, limit=1
        )
        # 1 admitted; 50, 90 throttled; 110 is 109 units after the
        # ADMITTED id 1 -> admitted (throttled 50/90 left no trace)
        _write_canonical(
            spark,
            spool,
            [("k:1", i, {"x": "1"}) for i in (1, 50, 90, 110)],
        )
        rt.start()
        try:
            rt.process_available()
        finally:
            rt.stop()
        got = {d["id"]: d["admitted"] for d in rt.decisions()}
        assert got == {1: True, 50: False, 90: False, 110: True}

    def test_quota_survives_restart(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingRateLimitRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingRateLimitRuntime(
            engine, spool, work, window=100, limit=2
        )
        _write_canonical(spark, spool, [("k:1", i, {"x": "1"}) for i in (1, 2)])
        rt.start()
        try:
            rt.process_available()
        finally:
            rt.stop()
        # restart: the admitted log (1,2) must still block id 30
        rt2 = StreamingRateLimitRuntime(
            engine, spool, work, window=100, limit=2
        )
        _write_canonical(spark, spool, [("k:1", 30, {"x": "1"})])
        rt2.start()
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        got = {d["id"]: d["admitted"] for d in rt2.decisions()}
        assert got == {1: True, 2: True, 30: False}


class TestIncrementalViewMaintenance:
    def test_incremental_equals_batch_recompute(
        self, spark, sf_dir, spool, work
    ):
        """The IVM contract: after N arbitrary micro-batches, the
        incrementally maintained per-key totals must equal a from-scratch
        batch aggregation over the full spool — the materialized view and
        its defining query never diverge. (The interval join has the same
        pin; this covers the stateful-agg family.)"""
        import random

        from pyspark.sql import functions as F

        engine = GearsEngine(spark, sf_dir)
        rt = StatefulStatsRuntime(engine, spool, work)
        rng = random.Random(1234)
        next_id = {f"s:{k}": 0 for k in range(4)}

        def feed():
            rows = []
            for _ in range(rng.randint(5, 20)):
                key = f"s:{rng.randint(0, 3)}"
                next_id[key] += 1
                rows.append(
                    (key, next_id[key],
                     {"value": str(rng.randint(1, 999) / 100)})
                )
            _write_canonical(spark, spool, rows)

        feed()  # the file-stream source needs the dir present at start
        rt.start(prefix="s:")
        try:
            rt.process_available()
            for _ in range(2):  # further irregular micro-batches
                feed()
                rt.process_available()
        finally:
            rt.stop()
        incremental = {
            k: (v["n_records"], v["value_cents_total"], v["last_id"])
            for k, v in rt.latest().items()
        }
        batch = {
            r["stream_key"]: (
                r["n"], r["cents"], r["last_id"]
            )
            for r in (
                spark.read.parquet(spool)
                .groupBy("stream_key")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum(
                        F.round(F.col("fields")["value"].cast("double") * 100)
                        .cast("long")
                    ).cast("long").alias("cents"),
                    F.max("id").alias("last_id"),
                )
                .collect()
            )
        }
        assert incremental == batch


class TestStreamingCusum:
    """Online CUSUM: one state integer per key, recurrence applied
    directly — must equal the batch closed form on identical input."""

    def test_matches_recurrence_across_microbatches(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.streaming import StreamingCusumRuntime

        engine = GearsEngine(spark, sf_dir)
        k, h = 1_000, 5_000  # allowance 10.00, threshold 50.00
        rt = StreamingCusumRuntime(
            engine, spool, work, allowance_cents=k, threshold_cents=h
        )
        vals1 = [("k:1", i, {"value": str(v)}) for i, v in
                 [(1, 30.0), (2, 5.0), (3, 40.0)]]
        vals2 = [("k:1", i, {"value": str(v)}) for i, v in
                 [(4, 50.0), (5, 2.0)]]
        _write_canonical(spark, spool, vals1)
        rt.start(prefix="k:")
        try:
            rt.process_available()
            _write_canonical(spark, spool, vals2)  # state must carry over
            rt.process_available()
        finally:
            rt.stop()
        got = {r["id"]: (r["cusum_cents"], r["drift_alarm"])
               for r in rt.scores()}
        # pure-python recurrence over the SAME value sequence
        s, want = 0, {}
        for i, v in [(1, 30.0), (2, 5.0), (3, 40.0), (4, 50.0), (5, 2.0)]:
            s = max(0, s + int(round(v * 100)) - k)
            want[i] = (s, s > h)
        assert got == want
        # sanity on the scenario itself: the drift crosses the alarm
        assert any(a for _, a in got.values())

    def test_del_resets_detector(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingCusumRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingCusumRuntime(
            engine, spool, work, allowance_cents=100, threshold_cents=10_000
        )
        _write_canonical(
            spark,
            spool,
            [
                ("k:1", 1, {"value": "50.0"}),
                ("k:1", 2, {"__ctl__": "del"}),
                ("k:1", 3, {"value": "2.0"}),
            ],
        )
        rt.start()
        try:
            rt.process_available()
        finally:
            rt.stop()
        got = {r["id"]: r["cusum_cents"] for r in rt.scores()}
        # id 1: 5000-100=4900; del resets; id 3: max(0, 200-100)=100
        assert got == {1: 4900, 3: 100}

    def test_state_survives_restart(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingCusumRuntime

        engine = GearsEngine(spark, sf_dir)
        mk = lambda: StreamingCusumRuntime(  # noqa: E731
            engine, spool, work, allowance_cents=100, threshold_cents=10_000
        )
        rt = mk()
        _write_canonical(spark, spool, [("k:1", 1, {"value": "50.0"})])
        rt.start()
        try:
            rt.process_available()
        finally:
            rt.stop()
        rt2 = mk()
        _write_canonical(spark, spool, [("k:1", 2, {"value": "1.0"})])
        rt2.start()
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        got = {r["id"]: r["cusum_cents"] for r in rt2.scores()}
        # 4900 carried through the checkpoint: 4900 + 100 - 100 = 4900
        assert got == {1: 4900, 2: 4900}


class TestStreamingDistinct:
    """Streaming HLL per stream_key: merge-order-free registers, state
    survival across micro-batches and restarts, error bound vs truth."""

    def _feed(self, spark, spool, lo, hi):
        # values cycle with period 97 -> true distinct = min(n, 97) per
        # key after interleaving; duplicates are heavy
        rows = [
            (
                "k:1" if i % 2 == 0 else "k:2",
                i,
                {"u": f"user{i % 97}", "noise": str(i)},
            )
            for i in range(lo, hi)
        ]
        _write_canonical(spark, spool, rows)

    def test_estimate_equals_single_pass_and_bounds_truth(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.streaming import StreamingDistinctRuntime
        from redisgears_spark.streaming.stateful import (
            _hll_add,
            _hll_estimate,
        )

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingDistinctRuntime(
            engine, spool, work, field="u", p=8
        )
        self._feed(spark, spool, 0, 150)
        rt.start(prefix="k:")
        try:
            rt.process_available()
            # second wave: registers must merge, not reset
            self._feed(spark, spool, 150, 300)
            rt.process_available()
        finally:
            rt.stop()
        est = rt.estimates()
        assert set(est) == {"k:1", "k:2"}
        # independent single-pass HLL over the same values must agree
        # EXACTLY: register updates are max-merges, so any micro-batch /
        # chunk partition yields bit-identical registers
        truth: dict[str, set] = {"k:1": set(), "k:2": set()}
        regs = {"k:1": [0] * 256, "k:2": [0] * 256}
        for i in range(300):
            key = "k:1" if i % 2 == 0 else "k:2"
            truth[key].add(f"user{i % 97}")
            _hll_add(regs[key], f"user{i % 97}", 8)
        for key, row in est.items():
            assert row["n_records"] == 150
            assert row["estimate"] == _hll_estimate(regs[key])
            # p=8 -> SE ~6.5%; allow 4 sigma on a tiny cardinality
            n_true = len(truth[key])
            assert abs(row["estimate"] - n_true) <= max(
                4, int(0.26 * n_true)
            )

    def test_restart_resumes_registers(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingDistinctRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingDistinctRuntime(engine, spool, work, field="u", p=8)
        self._feed(spark, spool, 0, 100)
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        before = rt.estimates()
        # a NEW runtime over the same checkpoint continues the registers
        rt2 = StreamingDistinctRuntime(engine, spool, work, field="u", p=8)
        self._feed(spark, spool, 100, 300)
        rt2.start(prefix="k:")
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        after = rt2.estimates()
        for k in after:
            assert after[k]["n_records"] > before[k]["n_records"]
            assert after[k]["estimate"] >= before[k]["estimate"]
            assert (
                after[k]["n_zero_registers"]
                <= before[k]["n_zero_registers"]
            )

    def test_api_surface(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingDistinctRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingDistinctRuntime(engine, spool, work, field="u")
        with pytest.raises(GearsError, match="use estimates\\(\\)"):
            rt.latest()
        with pytest.raises(GearsError, match="not supported"):
            rt.expire_idle(60)
        with pytest.raises(GearsError, match="p must be"):
            StreamingDistinctRuntime(engine, spool, work, field="u", p=20)


class TestStreamingKmv:
    """Streaming KMV per stream_key: the sketch that agrees BIT-FOR-BIT
    with the batch kmv_distinct (same md5-prefix hash, same estimator),
    chunking-insensitive set-min state, restart resume."""

    def _feed(self, spark, spool, lo, hi):
        rows = [
            (
                "k:1" if i % 2 == 0 else "k:2",
                i,
                {"u": f"user{i % 97}", "noise": str(i)},
            )
            for i in range(lo, hi)
        ]
        _write_canonical(spark, spool, rows)

    def test_matches_batch_kmv_bit_for_bit(self, spark, sf_dir, spool, work):
        from redisgears_spark.functions.hashing import md5_hash32_py
        from redisgears_spark.streaming import StreamingKmvRuntime

        engine = GearsEngine(spark, sf_dir)
        # k=32 << 49 distinct per key: the estimator arm engages
        rt = StreamingKmvRuntime(engine, spool, work, field="u", k=32)
        self._feed(spark, spool, 0, 150)
        rt.start(prefix="k:")
        try:
            rt.process_available()
            self._feed(spark, spool, 150, 300)  # merge, not reset
            rt.process_available()
        finally:
            rt.stop()
        est = rt.estimates()
        assert set(est) == {"k:1", "k:2"}
        # ground truth with the BATCH hash + estimator arithmetic
        for key in est:
            vals = {
                f"user{i % 97}"
                for i in range(300)
                if ("k:1" if i % 2 == 0 else "k:2") == key
            }
            mins = sorted(md5_hash32_py(v) for v in vals)[:32]
            want = (
                float(len(mins))
                if len(mins) < 32
                else float(31 * (1 << 32)) / mins[-1]
            )
            assert est[key]["n_in_sketch"] == min(32, len(vals))
            assert est[key]["kth_h"] == (mins[-1] if len(mins) == 32 else 0)
            assert est[key]["estimate"] == want  # BIT-identical, not close
            assert est[key]["n_records"] == 150

    def test_exact_below_k_and_restart_resume(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.streaming import StreamingKmvRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingKmvRuntime(engine, spool, work, field="u", k=256)
        self._feed(spark, spool, 0, 100)
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        before = rt.estimates()
        # 100 records -> 50 per key, values user{i%97}: under k, so the
        # estimate IS the exact distinct count
        from redisgears_spark.functions.hashing import md5_hash32_py

        for key, row in before.items():
            vals = {
                f"user{i % 97}"
                for i in range(100)
                if ("k:1" if i % 2 == 0 else "k:2") == key
            }
            assert row["estimate"] == float(len(vals))
            # below k the sketch holds every distinct hash, so kth_h is
            # the batch twin's COALESCE(MAX(h), 0) — NOT a 0 sentinel; a
            # migration diffing full rows must see identical values
            assert row["kth_h"] == max(md5_hash32_py(v) for v in vals)
        # restart over the same checkpoint continues the min-list
        rt2 = StreamingKmvRuntime(engine, spool, work, field="u", k=256)
        self._feed(spark, spool, 100, 300)
        rt2.start(prefix="k:")
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        after = rt2.estimates()
        for k in after:
            assert after[k]["n_records"] == 150
            assert after[k]["estimate"] >= before[k]["estimate"]

    def test_api_surface(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingKmvRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingKmvRuntime(engine, spool, work, field="u")
        with pytest.raises(GearsError, match="use estimates\\(\\)"):
            rt.latest()
        with pytest.raises(GearsError, match="not supported"):
            rt.expire_idle(60)
        with pytest.raises(GearsError, match="k >= 2"):
            StreamingKmvRuntime(engine, spool, work, field="u", k=1)


class TestStreamingQuantiles:
    """Streaming hash-sample quantiles: the third bit-identical trio
    member (streaming == batch hash_sample_quantiles == DuckDB oracle),
    chunking-insensitive bottom-k-by-(h,v) sample, replay no-op."""

    def _feed(self, spark, spool, lo, hi):
        rows = [
            (
                "k:1" if i % 2 == 0 else "k:2",
                i,
                {"rid": f"row{i}", "value": str((i * 37) % 1000)},
            )
            for i in range(lo, hi)
        ]
        _write_canonical(spark, spool, rows)

    def test_matches_batch_sketch_bit_for_bit(self, spark, sf_dir, spool, work):
        from redisgears_spark.operators.analytics import hash_sample_quantiles
        from redisgears_spark.streaming import StreamingQuantileRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingQuantileRuntime(
            engine, spool, work, id_field="rid", value_field="value", k=16
        )
        self._feed(spark, spool, 0, 120)
        rt.start(prefix="k:")
        try:
            rt.process_available()
            self._feed(spark, spool, 120, 240)  # merge, not reset
            rt.process_available()
        finally:
            rt.stop()
        got = rt.quantiles()
        assert set(got) == {"k:1", "k:2"}
        # batch twin over the identical rows
        rows = [
            (
                "k:1" if i % 2 == 0 else "k:2",
                f"row{i}",
                (i * 37) % 1000,
            )
            for i in range(240)
        ]
        df = spark.createDataFrame(rows, "g string, rid string, v long")
        batch = {
            r["g"]: r.asDict()
            for r in hash_sample_quantiles(
                df, ["g"], "rid", "v", k=16
            ).collect()
        }
        for key in got:
            assert got[key]["n_records"] == 120
            assert got[key]["n_sample"] == batch[key]["n_sample"] == 16
            for q in ("p25", "p50", "p75", "p90"):
                assert got[key][q] == batch[key][q]  # BIT-identical

    def test_replayed_rows_are_noops_and_below_k_exact(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.streaming import StreamingQuantileRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingQuantileRuntime(
            engine, spool, work, id_field="rid", value_field="value", k=64
        )
        # 10 rows then the SAME ids replayed: sample must not double
        rows = [
            ("k:1", i, {"rid": f"r{i % 10}", "value": str(i % 10)})
            for i in range(30)
        ]
        _write_canonical(spark, spool, rows)
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        got = rt.quantiles()["k:1"]
        assert got["n_sample"] == 10  # replays were no-ops
        assert got["n_records"] == 30  # but still counted as records
        # below k the sample IS the data: nearest-rank over 0..9
        # idx(q) = ceil(q*10/100) -> p25=v[2], p50=v[4], p75=v[7], p90=v[8]
        assert (got["p25"], got["p50"], got["p75"], got["p90"]) == (2, 4, 7, 8)

    def test_api_surface(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingQuantileRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingQuantileRuntime(engine, spool, work)
        with pytest.raises(GearsError, match="use quantiles\\(\\)"):
            rt.latest()
        with pytest.raises(GearsError, match="not supported"):
            rt.expire_idle(60)
        with pytest.raises(GearsError, match="k >= 1"):
            StreamingQuantileRuntime(engine, spool, work, k=0)


class TestStreamingBloomDedup:
    """Streaming Bloom first-seen filter: no false negatives ever,
    bounded false positives at width, chunking-invariant final bitmap
    that matches the batch builder's bit positions, restart resume."""

    def _feed(self, spark, spool, pairs):
        """pairs: list of (stream_key, id, value)."""
        _write_canonical(
            spark, spool, [(k, i, {"u": v}) for k, i, v in pairs]
        )

    def test_no_false_negatives_and_verdict_stream(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.streaming import StreamingBloomDedupRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingBloomDedupRuntime(
            engine, spool, work, field="u", m=1 << 17, k=7
        )
        # 60 distinct values, each sent twice (second wave = replays)
        first = [("k:1", i, f"v{i}") for i in range(60)]
        replay = [("k:1", 100 + i, f"v{i}") for i in range(60)]
        self._feed(spark, spool, first)
        rt.start(prefix="k:")
        try:
            rt.process_available()
            self._feed(spark, spool, replay)
            rt.process_available()
        finally:
            rt.stop()
        stats = rt.dedup_stats()["k:1"]
        # every replay suppressed (no false negatives, guaranteed);
        # at m=2^17 with 60 items the FP probability is ~1e-22, so all
        # 60 fresh values pass
        assert stats["n_records"] == 120
        assert stats["n_first_seen"] == 60
        assert stats["n_suppressed"] == 60
        v = rt.verdicts()
        passed = {
            r["item"]
            for r in v.filter("first_seen").select("item").collect()
        }
        assert passed == {f"v{i}" for i in range(60)}
        # replays carry first_seen=false with the ORIGINAL's id passed
        ids_passed = sorted(
            r["id"] for r in v.filter("first_seen").collect()
        )
        assert ids_passed == list(range(60))

    def test_bitmap_matches_batch_positions_and_restart(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.functions.hashing import md5_hash32_py
        from redisgears_spark.streaming import StreamingBloomDedupRuntime
        from redisgears_spark.streaming.stateful import _bloom_positions

        m, k = 1 << 12, 5
        # python twin equals the documented batch rule md5('i:value')%m
        for val in ("a", "x:y", "v7"):
            assert _bloom_positions(val, m, k) == [
                md5_hash32_py(f"{i}:{val}") % m for i in range(1, k + 1)
            ]
        engine = GearsEngine(spark, sf_dir)
        rt = StreamingBloomDedupRuntime(
            engine, spool, work, field="u", m=m, k=k
        )
        vals = [f"item{i}" for i in range(40)]
        self._feed(
            spark, spool, [("k:1", i, v) for i, v in enumerate(vals[:25])]
        )
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        # restart over the same checkpoint: state resumes, replays of
        # the first 25 suppressed, the 15 new values pass
        rt2 = StreamingBloomDedupRuntime(
            engine, spool, work, field="u", m=m, k=k
        )
        self._feed(
            spark,
            spool,
            [("k:1", 100 + i, v) for i, v in enumerate(vals)],
        )
        rt2.start(prefix="k:")
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        stats = rt2.dedup_stats()["k:1"]
        assert stats["n_records"] == 65
        assert stats["n_first_seen"] == 40  # 25 + 15 new
        assert stats["n_suppressed"] == 25
        # final bitmap = OR of the batch positions of all distinct values
        want = 0
        for val in vals:
            for pos in _bloom_positions(val, m, k):
                want |= 1 << pos
        assert stats["bits_set"] == want.bit_count()

    def test_chunking_invariance_of_totals(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingBloomDedupRuntime

        engine = GearsEngine(spark, sf_dir)
        pairs = [("k:1", i, f"w{i % 30}") for i in range(90)]

        def run(workdir, chunks):
            import shutil

            sp = spool + f"_{chunks}"
            rt = StreamingBloomDedupRuntime(
                engine, sp, workdir, field="u", m=1 << 14, k=5
            )
            step = len(pairs) // chunks
            self._feed(spark, sp, pairs[:step])
            rt.start(prefix="k:")
            try:
                rt.process_available()
                for c in range(1, chunks):
                    self._feed(
                        spark, sp, pairs[c * step:(c + 1) * step]
                    )
                    rt.process_available()
            finally:
                rt.stop()
            return rt.dedup_stats()["k:1"]

        a = run(work + "_a", 1)
        b = run(work + "_b", 3)
        # totals and final bitmap population are chunking-invariant
        assert a["n_records"] == b["n_records"] == 90
        assert a["n_first_seen"] == b["n_first_seen"] == 30
        assert a["n_suppressed"] == b["n_suppressed"] == 60
        assert a["bits_set"] == b["bits_set"]

    def test_guards_and_missing_field(self, spark, sf_dir, spool, work):
        import pytest as _pytest

        from redisgears_spark.streaming import StreamingBloomDedupRuntime

        engine = GearsEngine(spark, sf_dir)
        with _pytest.raises(GearsError, match="power of two"):
            StreamingBloomDedupRuntime(engine, spool, work, m=1000)
        with _pytest.raises(GearsError, match="1 <= k <= 16"):
            StreamingBloomDedupRuntime(engine, spool, work, k=0)
        rt = StreamingBloomDedupRuntime(
            engine, spool, work, field="u", m=1 << 10, k=3
        )
        # rows without the field pass through unfiltered (not counted)
        _write_canonical(
            spark,
            spool,
            [("k:1", 0, {"other": "x"}), ("k:1", 1, {"u": "a"}),
             ("k:1", 2, {"u": "a"})],
        )
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        stats = rt.dedup_stats()["k:1"]
        assert stats["n_records"] == 2
        assert stats["n_first_seen"] == 1
        assert stats["n_suppressed"] == 1
        # the missing-field row PASSES THROUGH (first_seen=true,
        # item=null) so a downstream .filter('first_seen') keeps it —
        # the documented pass-through contract, not a silent drop
        rows = {r["id"]: r for r in rt.verdicts().collect()}
        assert set(rows) == {0, 1, 2}
        assert rows[0]["item"] is None and rows[0]["first_seen"] is True
        assert rows[1]["first_seen"] is True
        assert rows[2]["first_seen"] is False
        with _pytest.raises(GearsError, match="dedup_stats"):
            rt.latest()
        with _pytest.raises(GearsError, match="not supported"):
            rt.expire_idle(60)


class TestBloomDedupFixtureIntegration:
    """The Bloom runtime over the standard fixture adapter: first-seen
    event-type counts per user-stream reconcile EXACTLY with the batch
    distinct (at production width the FP probability over the fixture's
    tiny per-key vocabularies is ~0)."""

    def test_first_seen_equals_exact_distinct(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingBloomDedupRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingBloomDedupRuntime(
            engine,
            spool,
            work,
            source_adapter=events_to_stream,
            field="event_type",
            m=1 << 17,
            k=7,
        )
        write_slice(spark, sf_dir, spool, 0, 400)
        rt.start(prefix="user:")
        try:
            rt.process_available()
            write_slice(spark, sf_dir, spool, 400, 800)  # resume, not reset
            rt.process_available()
        finally:
            rt.stop()
        stats = rt.dedup_stats()
        ev = load_table(spark, sf_dir, "events").filter("event_id < 800")
        import pyspark.sql.functions as SF

        exact = {
            f"user:{r['user_id']}": (r["nd"], r["n"])
            for r in ev.groupBy("user_id")
            .agg(
                SF.count_distinct("event_type").alias("nd"),
                SF.count(SF.lit(1)).alias("n"),
            )
            .collect()
        }
        assert set(stats) == set(exact)
        for key, s in stats.items():
            nd, n = exact[key]
            assert s["n_first_seen"] == nd, key  # zero false positives
            assert s["n_records"] == n, key
            assert s["n_suppressed"] == n - nd, key


class TestStreamingMinHash:
    """Streaming MinHash signatures: bit-identity with the batch numpy
    sketch family, chunking/replay invariance, restart resume, and the
    Jaccard estimator's accuracy on known-overlap sets."""

    def _feed(self, spark, spool, pairs):
        _write_canonical(
            spark, spool, [(k, i, {"u": v}) for k, i, v in pairs]
        )

    def test_signature_matches_batch_family_bitwise(
        self, spark, sf_dir, spool, work
    ):
        import numpy as np

        from redisgears_spark.operators.dedup import (
            _MINHASH_BANDS,
            _MINHASH_N,
            _MINHASH_ROWS,
            _hash64_str,
            _splitmix64,
        )
        from redisgears_spark.streaming import StreamingMinHashRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingMinHashRuntime(engine, spool, work, field="u")
        vals = [f"item-{i}" for i in range(40)]
        # duplicates interleaved: set semantics must absorb them
        feed = vals + vals[:15]
        self._feed(
            spark, spool, [("k:1", i, v) for i, v in enumerate(feed)]
        )
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        got = rt.signatures()["k:1"]
        assert got["n_items"] == len(feed)
        # batch numpy sketch over the DISTINCT value set
        salts = _splitmix64(
            np.arange(1, _MINHASH_N + 1, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15)
        )
        with np.errstate(over="ignore"):
            flat = _hash64_str(vals)
            salted = _splitmix64(flat[:, None] ^ salts[None, :])
            sig_np = salted.min(axis=0)
            acc = np.zeros((1, _MINHASH_BANDS), dtype=np.uint64)
            banded = sig_np.reshape(1, _MINHASH_BANDS, _MINHASH_ROWS)
            for r in range(_MINHASH_ROWS):
                acc = _splitmix64(acc ^ banded[:, :, r])
        assert got["signature"] == [int(x) for x in sig_np]
        assert got["bands"] == [int(x) for x in acc.view(np.int64)[0]]

    def test_missing_field_records_counted_not_folded(
        self, spark, sf_dir, spool, work
    ):
        """n_records counts every record SEEN, n_items only the values
        folded — a missing-field record must show up in the first and
        not the second (ADVICE r11: the two counters must actually
        diverge when the stream carries field-less records)."""
        from redisgears_spark.streaming import StreamingMinHashRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingMinHashRuntime(engine, spool, work, field="u")
        _write_canonical(
            spark, spool,
            [("k:1", 0, {"u": "a"}), ("k:1", 1, {"x": "no-u"}),
             ("k:1", 2, {"u": "b"})],
        )
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        got = rt.signatures()["k:1"]
        assert got["n_records"] == 3
        assert got["n_items"] == 2

    def test_chunking_invariance_and_restart(self, spark, sf_dir, spool, work):
        from redisgears_spark.streaming import StreamingMinHashRuntime

        engine = GearsEngine(spark, sf_dir)
        pairs = [("k:1", i, f"w{i % 25}") for i in range(75)]

        def run(workdir, sp, chunks):
            rt = StreamingMinHashRuntime(engine, sp, workdir, field="u")
            step = len(pairs) // chunks
            self._feed(spark, sp, pairs[:step])
            rt.start(prefix="k:")
            try:
                rt.process_available()
                for c in range(1, chunks):
                    self._feed(spark, sp, pairs[c * step:(c + 1) * step])
                    rt.process_available()
            finally:
                rt.stop()
            return rt.signatures()["k:1"]

        a = run(work + "_a", spool + "_a", 1)
        b = run(work + "_b", spool + "_b", 3)
        assert a["signature"] == b["signature"]
        assert a["bands"] == b["bands"]
        assert a["n_items"] == b["n_items"] == 75
        # restart over the same checkpoint resumes, absorbs replays of
        # known values, and folds new ones
        rt2 = StreamingMinHashRuntime(
            engine, spool + "_a", work + "_a", field="u"
        )
        self._feed(
            spark, spool + "_a",
            [("k:1", 100 + i, f"w{i % 30}") for i in range(30)],
        )
        rt2.start(prefix="k:")
        try:
            rt2.process_available()
        finally:
            rt2.stop()
        c = rt2.signatures()["k:1"]
        # 5 genuinely new values folded in: every component can only DROP
        assert all(
            x <= y for x, y in zip(c["signature"], a["signature"])
        )
        assert c["n_items"] == 105

    def test_similarity_estimates_known_jaccard(
        self, spark, sf_dir, spool, work
    ):
        from redisgears_spark.streaming import StreamingMinHashRuntime

        engine = GearsEngine(spark, sf_dir)
        rt = StreamingMinHashRuntime(engine, spool, work, field="u")
        # A and B share 60 of 100 union values → true J = 60/140... use
        # |A|=|B|=80, overlap 60 → J = 60/100 = 0.6
        a_vals = [f"v{i}" for i in range(80)]
        b_vals = [f"v{i}" for i in range(20, 100)]
        feed = [("k:a", i, v) for i, v in enumerate(a_vals)] + [
            ("k:b", 1000 + i, v) for i, v in enumerate(b_vals)
        ]
        self._feed(spark, spool, feed)
        rt.start(prefix="k:")
        try:
            rt.process_available()
        finally:
            rt.stop()
        est = rt.similarity("k:a", "k:b")
        assert abs(est - 0.6) <= 0.25  # 32 components → wide but bounded
        # identical sets estimate exactly 1.0 (same signature)
        assert rt.similarity("k:a", "k:a") == 1.0
        import pytest as _pytest

        with _pytest.raises(GearsError, match="no MinHash signature"):
            rt.similarity("k:a", "k:missing")

    def test_unsupported_surfaces_raise(self, spark, sf_dir, spool, work):
        import pytest as _pytest

        from redisgears_spark.streaming import StreamingMinHashRuntime

        rt = StreamingMinHashRuntime(
            GearsEngine(spark, sf_dir), spool, work
        )
        with _pytest.raises(GearsError, match="signatures"):
            rt.latest()
        with _pytest.raises(GearsError, match="not supported"):
            rt.expire_idle(60)
