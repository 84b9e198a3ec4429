"""Event-time windowed aggregation with watermarks over the stream source.

The reference has NO event-time windowing: records are processed on
arrival, and per-record lag (now − id.ms) is tracked for observability but
never gates anything (stream_reader.rs:127-135). SURVEY §2.G therefore
declares tumbling/hopping windows + watermarks as additive capabilities the
Spark engine supplies. This module makes that declaration executable:

  - `windowed_stream_agg(...)` — the declarative plan: per-stream-key
    tumbling (or hopping) event-time window over the canonical stream
    shape, aggregated in the exact integer domain (cents).
  - `WindowedAggRuntime` — runs it as a Structured Streaming query in
    APPEND mode: a window row is emitted exactly once, when the watermark
    passes its end; records later than the watermark are dropped (the
    documented late-data policy, in contrast to the reference's
    process-whatever-arrives behavior).

Scale: the watermark bounds state — the store only holds windows newer
than (max event time − delay), so state size is O(|active keys| ×
windows-in-delay), independent of stream length. The aggregation is a
built-in partial/final hash agg (JVM, whole-stage codegen); no Python in
the path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from redisgears_spark.engine import GearsEngine
from redisgears_spark.streaming.triggers import read_spool


def windowed_stream_agg(
    src: DataFrame,
    *,
    window: str = "10 seconds",
    slide: str | None = None,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Per-key event-time windowed aggregate (count + exact cents sum).

    Tumbling when `slide` is None, hopping otherwise; pass
    `window="session:<gap>"` for gap-based session windows (the streaming
    twin of the batch sessionization in operators/relational.py). Works on
    a streaming OR batch DataFrame of the canonical stream shape (batch
    evaluation ignores the watermark — Spark semantics — which is what
    makes the plan unit-testable without a running query).
    """
    ts = F.col("id_ts")
    value_cents = F.round(
        F.col("fields").getItem("value").cast("double") * 100
    ).cast("long")
    if window.startswith("session:"):
        if slide is not None:
            raise ValueError(
                "session windows are gap-based; `slide` does not apply"
            )
        # session windows: gap-based, per-key — windows merge as records
        # arrive inside the inactivity gap and finalize when the watermark
        # passes (gap after the last record). The streaming twin of the
        # batch sessionization in operators/relational.py.
        win = F.session_window(ts, window.removeprefix("session:"))
    elif slide:
        win = F.window(ts, window, slide)
    else:
        win = F.window(ts, window)
    return (
        src.withWatermark("id_ts", watermark)
        .groupBy(win.alias("win"), F.col("stream_key"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(value_cents).alias("value_cents"),
        )
        .select(
            "stream_key",
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_records",
            "value_cents",
        )
    )


class WindowedAggRuntime:
    """Owns a windowed-aggregation streaming query over a stream spool.

    Append output mode: each (stream_key, window) row lands in the sink
    exactly once, after the watermark passes the window end. Records that
    arrive with event time older than the watermark are dropped by the
    engine — the late-data contract the reference cannot express.
    """

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
        return os.path.join(self.work_dir, "window_sink")

    @property
    def _ckpt_dir(self) -> str:
        return os.path.join(self.work_dir, "window_ckpt")

    def start(
        self,
        *,
        prefix: str = "",
        window: str = "10 seconds",
        slide: str | None = None,
        watermark: str = "10 seconds",
    ) -> StreamingQuery:
        src = read_spool(self.spark, self.spool_dir, self.source_adapter)
        if prefix:
            src = src.filter(F.col("stream_key").startswith(prefix))
        agg = windowed_stream_agg(
            src, window=window, slide=slide, watermark=watermark
        )
        os.makedirs(self.sink_dir, exist_ok=True)
        self.query = (
            agg.writeStream.format("parquet")
            .option("path", self.sink_dir)
            .option("checkpointLocation", self._ckpt_dir)
            .outputMode("append")
            .queryName("windowed_agg")
            .start()
        )
        return self.query

    def finalized(self) -> DataFrame:
        """Windows emitted so far (each exactly once, post-watermark)."""
        return (
            self.spark.read.schema(
                "stream_key string, win_start timestamp, win_end timestamp, "
                "n_records bigint, value_cents bigint"
            )
            .parquet(self.sink_dir)
        )

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
