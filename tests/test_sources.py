"""Command-log (AOF analog) custom data source: round-trip fidelity,
per-segment parallelism, and filter pushdown INTO the Python source.
Keyspace tables: the footer-derived read schema, which builds a table's
DataFrame without a Spark job and equals what Spark infers."""

from __future__ import annotations

import datetime
import decimal
import os
import uuid

import pytest
from pyspark.sql import functions as F

from redisgears_spark.engine import GearsClient, GearsEngine, GearsError
from redisgears_spark.sources.commandlog import (
    _SEQ_SPACE,
    register_commandlog_source,
    write_command_log,
)
from redisgears_spark.sources.keyspace import TABLES, load_table

_MS = 1700000000123


def _pack(ms: int, seq: int) -> int:
    return ms * _SEQ_SPACE + seq


@pytest.fixture()
def log_dir(spark, tmp_path):
    register_commandlog_source(spark)
    d = str(tmp_path / "aof")
    write_command_log(
        [
            {
                "stream_key": "user:1",
                "id": _pack(_MS, 1),
                "fields": {"event_type": "view", "value": "3.5"},
            },
            {
                "stream_key": "user:2",
                "id": _pack(_MS + 1, 2),
                "fields": {"event_type": "purchase", "value": "9.0"},
            },
        ],
        f"{d}/seg-000.aof",
    )
    write_command_log(
        [
            {
                "stream_key": "other:9",
                "id": _pack(_MS + 2, 0),
                "fields": {"event_type": "click", "value": "1.0"},
            },
            {
                "stream_key": "user:1",
                "id": _pack(_MS + 3, 1),
                "fields": {"event_type": "click", "value": "2.0"},
            },
        ],
        f"{d}/seg-001.aof",
    )
    return d


def _read(spark, d):
    return spark.read.format("gears_commandlog").option("path", d).load()


def test_roundtrip_canonical_shape(spark, log_dir):
    rows = {r["id"]: r for r in _read(spark, log_dir).collect()}
    assert len(rows) == 4
    r = rows[_pack(_MS, 1)]
    assert r["stream_key"] == "user:1"
    assert r["fields"]["event_type"] == "view"
    # packed (ms,seq) id: ms field drives the timestamp
    assert r["id_ts"].isoformat().startswith("2023-11-14")
    assert r["id"] % _SEQ_SPACE == 1  # seq survives the packing
    # packing preserves (ms, seq) order
    ids = sorted(rows)
    assert ids == sorted(ids)
    assert _pack(_MS, 2) < _pack(_MS + 1, 0)  # ms dominates seq


def test_one_partition_per_segment(spark, log_dir):
    df = _read(spark, log_dir)
    assert df.rdd.getNumPartitions() == 2  # two .aof segments


def test_prefix_filter_pushed_into_source(spark, log_dir):
    df = _read(spark, log_dir).filter(
        F.col("stream_key").startswith("user:")
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters: [StringStartsWith(stream_key,user:)" in plan, plan
    keys = {r["stream_key"] for r in df.collect()}
    assert keys == {"user:1", "user:2"}
    # equality pushdown too
    df2 = _read(spark, log_dir).filter(F.col("stream_key") == "user:1")
    plan2 = df2._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters: [EqualTo(stream_key,user:1)" in plan2, plan2
    assert df2.count() == 2


def test_conjunctive_pushed_filters_all_apply(spark, log_dir):
    """Two pushed predicates on stream_key must BOTH hold — a reader
    that keeps only the last consumed filter silently widens results."""
    df = (
        _read(spark, log_dir)
        .filter(F.col("stream_key").startswith("user:"))
        .filter(F.col("stream_key").startswith("other:"))
    )
    assert df.count() == 0  # disjoint prefixes → empty conjunction
    df2 = (
        _read(spark, log_dir)
        .filter(F.col("stream_key").startswith("user:"))
        .filter(F.col("stream_key") == "user:2")
    )
    assert {r["stream_key"] for r in df2.collect()} == {"user:2"}


def test_unknown_verbs_and_bad_ids_skipped(spark, tmp_path):
    register_commandlog_source(spark)
    d = tmp_path / "aof2"
    d.mkdir()
    (d / "seg-000.aof").write_text(
        "SET somekey somevalue\n"
        "XADD user:5 1700000000130-0 event_type view value 1.0\n"
        "XADD user:6 1700000000131- event_type view value 1.0\n"  # bad seq
        "XADD user:7 garbage-0 event_type view value 1.0\n"  # bad ms
        f"XADD user:8 1700000000132-{1 << 20} event_type view value 1\n"
        f"XADD user:9 {1 << 43}-0 event_type view value 1\n"  # ms too big
        "DEL otherkey\n"
        "garbage\n"
    )
    df = _read(spark, str(d))
    rows = df.collect()
    assert len(rows) == 1  # only the well-formed, packable record
    assert rows[0]["stream_key"] == "user:5"


def test_writer_rejects_unrepresentable_tokens(tmp_path):
    with pytest.raises(ValueError, match="not representable"):
        write_command_log(
            [
                {
                    "stream_key": "s",
                    "id": _pack(1, 0),
                    "fields": {"msg": "hello world"},
                }
            ],
            str(tmp_path / "x.aof"),
        )


def test_feeds_the_trigger_source_shape(spark, log_dir):
    """The source's output IS the canonical stream schema the trigger
    runtimes consume (fields map + packed id + ordered record pairs)."""
    from redisgears_spark.streaming.triggers import STREAM_SCHEMA

    df = _read(spark, log_dir)
    from pyspark.sql.types import _parse_datatype_string

    want = _parse_datatype_string(STREAM_SCHEMA)
    assert df.schema == want


def test_duplicate_fields_carried_in_record(spark, tmp_path):
    """A line with duplicate field names keeps FULL fidelity: the map
    view is last-wins, the ordered pair list survives in `record` —
    the STREAM_SCHEMA contract (duplicates are legal in Redis streams);
    unpaired trailing tokens make the line malformed (skipped)."""
    register_commandlog_source(spark)
    d = tmp_path / "aofdup"
    d.mkdir()
    (d / "seg-000.aof").write_text(
        "XADD user:1 1700000000100-0 f 1 f 2\n"
        "XADD user:2 1700000000101-0 a 1 b\n"  # unpaired -> skipped
        "XADD user:3 1700000000102-0 a 1 b 2\n"
    )
    rows = {r["stream_key"]: r for r in _read(spark, str(d)).collect()}
    assert set(rows) == {"user:1", "user:3"}
    dup = rows["user:1"]
    assert dup["fields"] == {"f": "2"}  # last-wins map view
    assert [(p["field"], p["value"]) for p in dup["record"]] == [
        ("f", "1"),
        ("f", "2"),
    ]
    assert rows["user:3"]["record"] is None  # no duplicates -> null


def test_writer_rejects_empty_fields(tmp_path):
    with pytest.raises(ValueError, match="at least one field"):
        write_command_log(
            [{"stream_key": "s", "id": _pack(1, 0), "fields": {}}],
            str(tmp_path / "y.aof"),
        )


def test_stream_offsets_survive_segment_deletion(spark, tmp_path):
    """Filename-based offsets: deleting an already-consumed segment
    (retention) must not skip or re-read anything."""
    import os

    register_commandlog_source(spark)
    d = str(tmp_path / "aofdel")
    write_command_log(
        [{"stream_key": "user:1", "id": _pack(_MS, 0),
          "fields": {"v": "1"}}],
        f"{d}/seg-000.aof",
    )
    sink = str(tmp_path / "delsink")
    q = (
        spark.readStream.format("gears_commandlog")
        .option("path", d)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "delckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        os.unlink(f"{d}/seg-000.aof")  # retention trims the consumed one
        write_command_log(
            [{"stream_key": "user:2", "id": _pack(_MS + 1, 0),
              "fields": {"v": "2"}}],
            f"{d}/seg-001.aof",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(sink).collect()
    assert sorted(r["stream_key"] for r in rows) == ["user:1", "user:2"]


def test_streaming_tail(spark, tmp_path):
    """The stream reader tails the segment directory: records written
    before the query start arrive in the first batch, a segment appended
    while the query runs arrives in the next — each exactly once."""
    import os

    register_commandlog_source(spark)
    d = str(tmp_path / "aof_stream")
    write_command_log(
        [
            {
                "stream_key": "user:1",
                "id": _pack(_MS, 0),
                "fields": {"event_type": "view"},
            }
        ],
        f"{d}/seg-000.aof",
    )
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("gears_commandlog")
        .option("path", d)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(sink).count() == 1
        write_command_log(
            [
                {
                    "stream_key": "user:2",
                    "id": _pack(_MS + 1, 0),
                    "fields": {"event_type": "purchase"},
                },
                {
                    "stream_key": "user:3",
                    "id": _pack(_MS + 2, 0),
                    "fields": {"event_type": "click"},
                },
            ],
            f"{d}/seg-001.aof",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 3
    assert {r["stream_key"] for r in rows} == {"user:1", "user:2", "user:3"}


def test_trigger_consumes_command_log(spark, sf_dir, tmp_path):
    """End-to-end: a stream trigger registered over an AOF command-log
    spool — the reference's own persistence format drives the consumer
    machinery (callback, stats, frontier) unchanged."""
    import os

    from redisgears_spark.engine import GearsEngine
    from redisgears_spark.streaming import StreamTriggerRuntime

    engine = GearsEngine(spark, sf_dir)
    lib = engine.load_library(
        lambda l: l.register_stream_trigger(
            "aof",
            prefix="user:",
            fn=lambda r: {
                "etype": r["fields"].get("event_type", "").upper()
            },
            window=10**9,
        ),
        name="aoflib",
    )
    spool = str(tmp_path / "aof_spool")
    work = str(tmp_path / "work")
    write_command_log(
        [
            {
                "stream_key": f"user:{i % 3}",
                "id": _pack(_MS + i, 0),
                "fields": {"event_type": "view", "value": str(i)},
            }
            for i in range(20)
        ]
        + [
            {
                "stream_key": "other:9",
                "id": _pack(_MS + 50, 0),
                "fields": {"event_type": "click"},
            }
        ],
        f"{spool}/seg-000.aof",
    )
    rt = StreamTriggerRuntime(engine, spool, work, source_format="commandlog")
    rt.start_library(lib)
    try:
        rt.process_available()
        stats = rt.stats["aoflib.aof"]
        assert stats.n_success == 20  # prefix filtered other:9 out
        sink = spark.read.parquet(
            os.path.join(work, "sink", "aoflib", "aof")
        )
        assert sink.count() == 20
        assert {r["stream_key"] for r in sink.collect()} == {
            "user:0",
            "user:1",
            "user:2",
        }
        # incremental: a new segment arrives, the tail picks it up
        write_command_log(
            [
                {
                    "stream_key": "user:1",
                    "id": _pack(_MS + 100, 0),
                    "fields": {"event_type": "purchase"},
                }
            ],
            f"{spool}/seg-001.aof",
        )
        rt.process_available()
        assert rt.stats["aoflib.aof"].n_success == 21
    finally:
        rt.stop_all()


def test_reader_rejects_noncanonical_numerals(spark, tmp_path):
    """int() would accept '1_7' / '+100' / unicode digits — the grammar
    calls those unparseable, so they must be skipped, not fabricated."""
    register_commandlog_source(spark)
    d = tmp_path / "aofnum"
    d.mkdir()
    (d / "seg-000.aof").write_text(
        "XADD user:1 1_7-0 f v\n"
        "XADD user:2 +100-0 f v\n"
        "XADD user:3 100-+1 f v\n"
        "XADD user:4 170-0 f v\n"
    )
    rows = _read(spark, str(d)).collect()
    assert [r["stream_key"] for r in rows] == ["user:4"]


def test_writer_rejects_unpackable_id_and_cleans_tmp(tmp_path):
    import os

    with pytest.raises(ValueError, match="packable"):
        write_command_log(
            [{"stream_key": "s", "id": 1 << 63, "fields": {"f": "v"}}],
            str(tmp_path / "z.aof"),
        )
    assert not os.path.exists(str(tmp_path / "z.aof.tmp"))  # no litter


def test_stream_offset_legacy_pos_shim(spark, tmp_path):
    """A checkpoint written by the old index-based offset format must
    keep working: {'pos': N} maps to the N-th sorted segment name."""
    from redisgears_spark.sources.commandlog import CommandLogStreamReader

    d = str(tmp_path / "aoflegacy")
    for i in range(3):
        write_command_log(
            [{"stream_key": f"user:{i}", "id": _pack(_MS + i, 0),
              "fields": {"v": str(i)}}],
            f"{d}/seg-{i:03d}.aof",
        )
    r = CommandLogStreamReader({"path": d})
    rows, end = r.read({"pos": 2})  # legacy: 2 segments consumed
    assert [row[0] for row in rows] == ["user:2"]
    assert end == {"last": "seg-002.aof"}
    replay = list(r.readBetweenOffsets({"pos": 2}, {"last": "seg-002.aof"}))
    assert [row[0] for row in replay] == ["user:2"]


def test_fakeredis_generic_type_semantics(tmp_path):
    """Public-Redis type rules over the new generic keyspace: SET
    overwrites a stream (implicit DEL), HSET on a stream raises
    WRONGTYPE, and SCAN TYPE filters string/hash keys like the server."""
    from redisgears_spark.sources.redisstream import FakeRedis

    c = FakeRedis(str(tmp_path / "t.jsonl"))
    c.xadd("k", {"f": "1"}, id="100-0")
    assert c.type("k") == "stream"
    c.set("k", "v")  # SET replaces ANY key type
    assert c.type("k") == "string"
    assert c.get("k") == "v"
    assert c.xrange("k") == []

    c.xadd("s", {"f": "1"}, id="100-0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="WRONGTYPE"):
        c.hset("s", mapping={"a": "b"})

    c.hset("h", mapping={"a": "b"})
    assert sorted(c.scan_iter(_type="string")) == ["k"]
    assert sorted(c.scan_iter(_type="hash")) == ["h"]
    assert sorted(c.scan_iter(_type="stream")) == ["s"]
    assert sorted(c.scan_iter()) == ["h", "k", "s"]


# -- keyspace tables: the read schema comes from the parquet footer ---------

def _jobs_run_by(spark, work) -> list[int]:
    """Ids of the Spark jobs `work()` starts, read from the status tracker
    by job group. The tracker follows the listener bus in order, so once a
    later marker job shows up every job of the group has been recorded."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"build-{uuid.uuid4().hex}"
    for name, fn in ((group, work), (group + "-marker", sc.parallelize([1]).count)):
        sc.setJobGroup(name, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never recorded"
        time.sleep(0.01)
    return list(tracker.getJobIdsForGroup(group))


def _inferred_schema(spark, sf_dir, name):
    """What Spark infers for a table, with load_table's events.ts rewrite."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.schema


def _assert_schema_parity(spark, sf_dir, names):
    # load_table first: it pins the session confs inference depends on
    built = {n: load_table(spark, sf_dir, n).schema for n in names}
    assert built == {n: _inferred_schema(spark, sf_dir, n) for n in names}


def test_building_a_table_runs_no_spark_job(spark, sf_dir):
    """Building a table's DataFrame must start no Spark job: no schema
    inference on the call path of a TFCALL's `client.table`/`lookup`."""
    jobs = {
        name: _jobs_run_by(spark, lambda n=name: load_table(spark, sf_dir, n))
        for name in TABLES
    }
    assert jobs == {name: [] for name in TABLES}
    client = GearsClient(GearsEngine(spark, sf_dir), read_only=True)
    assert _jobs_run_by(spark, lambda: client.table("orders")) == []
    assert _jobs_run_by(spark, lambda: client.lookup("customer", 7)) == []


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference_on_fixtures(spark, sf_dir, scale):
    """Every generated scale factor, next to the default test tables."""
    _assert_schema_parity(spark, os.path.join(os.path.dirname(sf_dir), scale), TABLES)


def _pandas_fixture():
    import pandas as pd

    return pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00.000000001", "2024-01-02 12:00:00.5"]
            ),  # datetime64[ns]
            "tz": pd.to_datetime(["2024-01-01", "2024-01-02"]).tz_localize(
                "Europe/Berlin"
            ),
            "us": pd.to_datetime(["2024-01-01", "2024-01-02"]).astype(
                "datetime64[us]"
            ),
            "cat": pd.Categorical(["view", "click"]),
            "dec": [decimal.Decimal("1.25"), decimal.Decimal("30.50")],
            "day": [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)],
            "vec": [[1.0, 2.0], [3.0]],
            "none": [None, None],
        }
    )


def test_footer_schema_matches_inference_on_pandas_files(spark, tmp_path):
    """ns / tz-aware / categorical / decimal / date / list / all-null
    columns, in a populated and a zero-row file."""
    pdf = _pandas_fixture()
    pdf.to_parquet(tmp_path / "events.parquet")
    pdf.iloc[:0].to_parquet(tmp_path / "orders.parquet")
    _assert_schema_parity(spark, str(tmp_path), ["events", "orders"])
    # the ns ts surfaces as a micro timestamp, like DuckDB's read
    ts = load_table(spark, str(tmp_path), "events").orderBy("event_id")
    assert [r["ts"] for r in ts.select("ts").collect()] == [
        datetime.datetime(2024, 1, 1),
        datetime.datetime(2024, 1, 2, 12, 0, 0, 500000),
    ]


def test_footer_schema_matches_inference_on_spark_directories(
    spark, sf_dir, tmp_path
):
    """Spark-written multi-part table directories (the schema rides in the
    footer's row metadata; _SUCCESS and .crc files are not data)."""
    for name in TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").repartition(3).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    assert len(os.listdir(tmp_path / "lineitem.parquet")) > 3
    _assert_schema_parity(spark, str(tmp_path), TABLES)


def test_footer_schema_follows_the_session_ntz_setting(spark, sf_dir):
    """A session that does not infer timestamp_ntz reads the tz-naive
    fixture timestamps as timestamp, and so must the footer schema."""
    bare = spark.newSession()
    bare.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _assert_schema_parity(bare, sf_dir, TABLES)
    assert dict(load_table(bare, sf_dir, "orders").dtypes)["o_orderdate"] == (
        "timestamp"
    )


def test_missing_table_raises_naming_table_and_path(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    with pytest.raises(GearsError, match=f"'orders'.*{path}"):
        load_table(spark, str(tmp_path), "orders")


def test_unmapped_footer_type_raises_naming_the_column(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"o_orderkey": pa.array([1], pa.uint32())}),
        tmp_path / "orders.parquet",
    )
    with pytest.raises(GearsError, match="'orders'.*'o_orderkey'.*uint32"):
        load_table(spark, str(tmp_path), "orders")


def test_partitioned_table_directory_raises(spark, sf_dir, tmp_path):
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.partitionBy(
        "n_regionkey"
    ).parquet(str(tmp_path / "nation.parquet"))
    with pytest.raises(GearsError, match="'nation'.*n_regionkey="):
        load_table(spark, str(tmp_path), "nation")
