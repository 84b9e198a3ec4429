"""Stream-stream interval join — the streaming twin of the batch
`events_attribution_window` operator (operators/relational.py).

The reference cannot join two streams at all: a V8 callback sees one
record of one stream and must issue point reads for anything else
(v8_native_functions.rs:513-624 — its users emulate joins with
client.call('XRANGE', ...) per record). Structured Streaming has the
real operator: a watermarked stream-stream join whose state store holds
only rows inside the join window.

Semantics (inner join, the deterministic contract): every ('view' v,
'purchase' p) pair with the same stream_key and
`v.ts <= p.ts < v.ts + window` is emitted exactly once, regardless of
arrival order or micro-batch boundaries — Spark buffers each side in the
state store until the other side's watermark proves no more matches can
arrive, then evicts. That eviction bound is the scale story: state is
O(events inside `window + watermark delay` per key), independent of
stream length — the same bound Flink's interval join documents.

left_outer emits unmatched left rows too, but only once the watermark
passes their window (end-of-stream rows without subsequent data may
never finalize — documented Structured Streaming behavior); tests pin
the inner contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from redisgears_spark.engine import GearsEngine
from redisgears_spark.streaming.triggers import read_spool


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_type: str = "view",
    right_type: str = "purchase",
    window: str = "1 hour",
    watermark: str = "10 seconds",
    how: str = "inner",
) -> DataFrame:
    """Join two canonical-shape streams on stream_key with a forward time
    window: right events within [left.ts, left.ts + window).

    Both sides carry watermarks (required for state eviction on a
    stream-stream join); the range condition rides the join so Spark can
    bound each side's state by the other's watermark.
    """
    v = (
        left.filter(F.col("fields")["event_type"] == left_type)
        .select(
            "stream_key",
            F.col("id").alias("l_id"),
            F.col("id_ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    p = (
        right.filter(F.col("fields")["event_type"] == right_type)
        .select(
            F.col("stream_key").alias("r_key"),
            F.col("id").alias("r_id"),
            F.col("id_ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (v.stream_key == p.r_key)
        & (p.r_ts >= v.l_ts)
        & (p.r_ts < v.l_ts + F.expr(f"INTERVAL {window}"))
    )
    joined = v.join(p, cond, how)
    return joined.select(
        "stream_key",
        "l_id",
        "l_ts",
        "r_id",
        "r_ts",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_us"),
    )


class StreamJoinRuntime:
    """Owns a stream-stream interval-join query over one stream spool
    (both sides read the same spool, filtered by event type — the
    one-log-many-consumers shape the trigger runtimes use)."""

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
    ):
        self.engine = engine
        self.spark: SparkSession = engine.spark
        self.spool_dir = spool_dir
        self.work_dir = work_dir
        self.source_adapter = source_adapter
        self.query: StreamingQuery | None = None

    @property
    def sink_dir(self) -> str:
        return os.path.join(self.work_dir, "join_sink")

    def start(
        self,
        *,
        left_type: str = "view",
        right_type: str = "purchase",
        window: str = "1 hour",
        watermark: str = "10 seconds",
    ) -> StreamingQuery:
        joined = stream_interval_join(
            read_spool(self.spark, self.spool_dir, self.source_adapter),
            read_spool(self.spark, self.spool_dir, self.source_adapter),
            left_type=left_type,
            right_type=right_type,
            window=window,
            watermark=watermark,
        )
        os.makedirs(self.sink_dir, exist_ok=True)
        self.query = (
            joined.writeStream.format("parquet")
            .option("path", self.sink_dir)
            .option(
                "checkpointLocation",
                os.path.join(self.work_dir, "join_ckpt"),
            )
            .outputMode("append")
            .queryName("stream_interval_join")
            .start()
        )
        return self.query

    def pairs(self) -> DataFrame:
        return self.spark.read.schema(
            "stream_key string, l_id bigint, l_ts timestamp, "
            "r_id bigint, r_ts timestamp, lag_us bigint"
        ).parquet(self.sink_dir)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, key_expr: str = "stream_key"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch left-joins the
    (small, broadcast) static dimension — the lookup-enrichment pattern
    the reference expresses as a per-record client.call('HGET', ...)
    inside the callback (Q11's shape, per SURVEY §2.E), here ONE
    broadcast hash join per micro-batch instead of one point read per
    record.

    Dimension freshness (measured, not assumed): the static side's FILE
    LISTING is pinned when the query starts — overwriting a parquet-path
    dimension mid-query fails the stream with FILE_NOT_EXIST, it does
    NOT refresh. To serve a changing dimension, either restart the query
    (listing re-pins), read the dimension inside foreachBatch (re-listed
    per batch), or back it by a catalog table and REFRESH TABLE. Left
    join keeps records whose key has no dimension row (enrichment
    columns null), matching the callback's miss-is-null behavior.

    Scale: the stream side never shuffles — the dimension broadcasts to
    wherever the micro-batch partitions already are. At 100 TB the only
    constraint is the dimension fitting executor memory; past that,
    pre-bucket both sides (sources/bucketed.py) instead.
    """
    joined = stream.withColumn("_k", F.expr(key_expr)).join(
        F.broadcast(dim), F.col("_k") == dim[dim.columns[0]], "left"
    )
    return joined.drop("_k")


def stream_asof_enrich(
    stream: DataFrame,
    dim: DataFrame,
    *,
    stream_key: str = "stream_key",
    dim_key: str = "key",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Temporal (as-of / SCD2) stream enrichment: each record left-joins
    the dimension VERSION that was valid at the record's event time —
    `dim.valid_from <= id_ts < dim.valid_to` — not whatever version is
    current when the micro-batch happens to run. This is the lookup the
    reference's users approximate with a per-record client.call('HGET')
    — which silently reads the dimension at PROCESSING time, so a
    replayed/backfilled stream enriches differently than the live run.
    Joining on the validity interval makes replays reproducible: the
    same record always meets the same dimension version.

    Current versions use an open upper bound (valid_to = a far-future
    sentinel, e.g. TIMESTAMP '9999-01-01'); a record before a key's
    first version, or with no dimension key at all, passes through with
    NULL enrichment columns (left join — the callback's miss-is-null
    behavior).

    Scale: the dimension (all versions) broadcasts; the range predicate
    is evaluated inside the broadcast hash join's stream side, so the
    stream never shuffles and state stays empty (stream-static joins
    keep no watermark state). The same freshness caveat as
    stream_static_enrich applies: a parquet-path dimension's file
    listing pins at query start — version CHANGES need the SCD2 table
    to be append-only (new rows close old intervals), which is exactly
    the shape this join consumes.
    """
    s = stream.withColumn("_k", F.col(stream_key))
    cond = (
        (F.col("_k") == dim[dim_key])
        & (dim[valid_from] <= s["id_ts"])
        & (s["id_ts"] < dim[valid_to])
    )
    return s.join(F.broadcast(dim), cond, "left").drop("_k")
