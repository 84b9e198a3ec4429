"""Stream-trigger and keyspace-trigger runtime on Structured Streaming.

Re-creates the reference's streaming core (SURVEY §2.B/C) Spark-first:

  reference mechanism                          → here
  ------------------------------------------------------------------
  registerStreamTrigger(prefix, fn, window)    → one streaming query per
    (redisgears_core/src/lib.rs:392-479)         trigger: source → prefix
                                                 filter → ordered per-key
                                                 processing → sinks
  one-record-at-a-time reads + in-flight       → micro-batches; strict
    window (stream_reader.rs:278-297,435-442)    per-stream-key ordered
                                                 processing inside each
                                                 batch (applyInPandas),
                                                 `window` caps the records
                                                 admitted per key per batch
  ack / nack, error-does-not-halt              → per-record status rows;
    (stream_reader.rs:125-150, 368-371)          failures counted + last_error
                                                 surfaced, frontier advances
  checkpoint replication to replicas           → Structured Streaming
    (stream_reader.rs:351-363)                   checkpointLocation (WAL +
                                                 commits); restart resumes
                                                 from the acked frontier
  XTRIM MINID min-over-consumers               → retention.py frontier job
  keyspace notifications + NotificationBlocker → changes feed with an
    re-entrancy guard (lib.rs:629-645)           `origin` column; trigger-
                                                 origin writes are tagged and
                                                 filtered from trigger input
  onTriggerFired read-only snapshot stage      → eager snapshot projection
    (KeySpace_Triggers.md:119-205)               inside the same micro-batch,
                                                 before the action stage

Delivery contract (same as the reference, Stream_Triggers.md:182-184):
exactly-once while the query runs; at-least-once across restart (sink
appends are idempotent per (trigger, stream_key, id) — dedupe downstream or
use a transactional sink for end-to-end exactly-once).

Scale: the canonical stream schema hash-partitions on stream_key, so per-key
ordering costs one shuffle per micro-batch and state is bounded per key.
Python callbacks run executor-side via Arrow-batched mapInPandas — the
driver never sees records, only per-batch counters. Declarative callbacks
(`register_stream_trigger(expr=...)`) skip Python entirely: the expression
compiles into the micro-batch job (whole-stage codegen, no per-key sort).
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid
from concurrent import futures
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from redisgears_spark.engine import (
    NO_PERMISSIONS_MSG,
    UNBOUNDED_WINDOW,
    GearsEngine,
    GearsError,
    Library,
)

# canonical stream-record schema (the Spark shape of the reference's
# GearsStreamRecord — stream_run_ctx.rs:73-100: (ms,seq) id + field pairs).
# `fields` is the convenient map view; `record` is the faithful ordered
# pair list — duplicate field names are legal in Redis streams
# (Stream_Triggers.md:78) and only the pair form can carry them. Producers
# may leave `record` null when no duplicates occur; callbacks receive the
# pair list when present.
STREAM_SCHEMA = (
    "stream_key string, id bigint, id_ts timestamp, "
    "fields map<string,string>, "
    "record array<struct<field:string,value:string>>"
)

_RESULT_SCHEMA = (
    "stream_key string, id bigint, id_ts timestamp, "
    "status string, result string, error string"
)

# windows at or above UNBOUNDED_WINDOW are treated as unbounded: the
# admission gate and respool machinery are skipped entirely (the common
# fast path — the reference's default window is small, but most Spark
# consumers want micro-batch-sized admission)


def events_to_stream(df: DataFrame) -> DataFrame:
    """Adapt the fixture `events` table to the canonical stream shape:
    one Redis-stream-like log per user (stream_key = 'user:<id>').

    `record` stays null per the schema contract — the adapter's field
    names are unique, so the map view is lossless and the shuffle carries
    one field collection per row instead of two (callbacks still receive
    ordered pairs, derived from the map)."""
    return df.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("stream_key"),
        F.col("event_id").alias("id"),
        F.col("ts").alias("id_ts"),
        F.create_map(
            F.lit("event_type"), F.col("event_type"),
            F.lit("value"), F.col("value").cast("string"),
            F.lit("props"), F.col("props"),
        ).alias("fields"),
        F.lit(None)
        .cast("array<struct<field:string,value:string>>")
        .alias("record"),
    )


def _stop_owned(runtime: Any, lib_name: str) -> None:
    """Stop every query owned by one library AND drop its stats — shared
    by both runtimes. Dropping the stats matters as much as the stop: a
    removed consumer must not pin the retention min-frontier (the
    reference removes the consumer from trim accounting on unload,
    stream_reader.rs:60-110 trims to the slowest LIVE consumer)."""
    owned = [k for k in runtime.queries if k.startswith(f"{lib_name}.")]
    for k in owned:
        try:
            runtime.queries.pop(k).stop()
        except Exception:
            pass
    for k in [k for k in runtime.stats if k.startswith(f"{lib_name}.")]:
        runtime.stats.pop(k, None)


@dataclass
class TriggerStats:
    """Observability parity with TFUNCTION LIST vvv per-trigger fields
    (function_list_command.rs:159-300: num_trigger/success/failed,
    last_error, lag)."""

    n_batches: int = 0
    n_records: int = 0
    n_success: int = 0
    n_failed: int = 0
    n_deferred: int = 0  # window-overflow records re-spooled for later
    last_error: str | None = None
    max_lag_us: int = 0
    # acked frontier per stream_key (max processed id) — feeds retention
    frontier: dict[str, int] = field(default_factory=dict)


def _arrow_result_schema():
    """Arrow twin of _RESULT_SCHEMA. The schema is passed EXPLICITLY to
    every executor-side write: letting from_pandas infer types turns an
    all-None result/error column into Arrow's null type, and a directory
    mixing null-typed and string-typed part files fails Spark's parquet
    reader with a column-type mismatch."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("stream_key", pa.string()),
            pa.field("id", pa.int64()),
            pa.field("id_ts", pa.timestamp("us", tz="UTC")),
            pa.field("status", pa.string()),
            pa.field("result", pa.string()),
            pa.field("error", pa.string()),
        ]
    )


def _arrow_cdc_schema():
    """Arrow twin of _CDC_RESULT_SCHEMA (see _arrow_result_schema)."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("seq", pa.int64()),
            pa.field("key", pa.string()),
            pa.field("event", pa.string()),
            pa.field("status", pa.string()),
            pa.field("result", pa.string()),
            pa.field("error", pa.string()),
        ]
    )


def _write_parquet_part(pdf: pd.DataFrame, out_dir: str, schema) -> None:
    """Executor-side parquet append: one uniquely-named part file per call
    (Spark's documented custom-sink/foreach pattern).

    The explicit arrow `schema` pins column types (all-None columns stay
    string, timestamps are UTC microseconds — what a JVM-side write would
    produce). The file is written under a dot-prefixed temp name — which
    Spark's file listing ignores — and renamed into place, so a task
    killed mid-write leaves only an invisible partial file, never a
    truncated parquet in the readable namespace."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(out_dir, name))


def _make_partition_processor(
    fn: Callable[[dict], Any],
    sink_dir: str,
    err_dir: str,
    acl_regex: str | None = None,
) -> Callable[[Any], Any]:
    """Build the executor-side processor: strictly ordered by id per
    stream_key (the reference's per-stream read order). Only records
    already admitted by the window gate reach this processor (see
    start_trigger — the gate re-spools the overflow so it is REPROCESSED
    later, the batch analog of the reference pausing reads at `window`
    pending records, stream_reader.rs:435-442).

    Runs under mapInPandas over data that is hash-partitioned by
    stream_key and sorted by (stream_key, id) within each partition — so
    a whole partition (many keys, large Arrow batches) costs ONE Python
    call, instead of applyInPandas's one-call-per-key, while preserving
    exactly the per-key id order the reference guarantees. At 100 TB this
    is the difference between |keys| Python roundtrips and |cores|.

    Errors follow reference semantics: a failing record records the error
    and the frontier still advances (stream_reader.rs:368-371 — Nack sets
    last_error but does not halt progress).

    The SINK WRITE IS FUSED into this stage: each task appends its ok
    rows to `sink_dir` (and error rows to `err_dir`) as uniquely-named
    parquet part files — the foreach/custom-sink pattern. The stage's
    only OUTPUT rows are metadata: one status='frontier' row per key
    (id = max processed id) and one status='stats' row per task carrying
    the counters as JSON. A micro-batch is therefore ONE job whose
    collected result is |keys| + |tasks| tiny rows — no second write job,
    no CollectMetrics node, no post-stage filter. Delivery is
    at-least-once at task granularity (a retried task re-appends its
    file); read_sink(exactly_once=True) collapses replays by
    (stream_key, id), same as before.
    """

    # ACL: the library owner's key permissions, resolved at batch-plan
    # time (see start_trigger). A record on a stream the owner may not
    # read errors through the NORMAL per-record error path — counted
    # failed, DLQ'd, frontier still advances — exactly how the reference
    # surfaces trigger ACL denials (stream_run_ctx.rs:144-153 →
    # last_error + num_failed, processing continues)
    acl_re = re.compile(acl_regex) if acl_regex is not None else None

    def process(batches: Any) -> Any:
        from redisgears_spark.workerpatch import ensure as _wp

        _wp()  # skip the per-task zipimport rescan from the 2nd task on
        schema = _arrow_result_schema()
        frontier: dict[str, int] = {}
        first_ts: dict[str, Any] = {}
        n_ok = n_err = 0
        an_error: str | None = None
        oldest = None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            # column-wise extraction: to_dict('records') costs ~3x the
            # callback itself at steady state. tolist() (not to_numpy) for
            # id/id_ts keeps the callback API stable: callbacks receive
            # native int and pd.Timestamp, never np.int64/np.datetime64
            # (a datetime64 has no .hour, and np.int64 results would
            # JSON-serialize as strings via default=str)
            keys = pdf["stream_key"].to_numpy()
            ids = pdf["id"].tolist()
            idts = pdf["id_ts"].tolist()
            fmaps = pdf["fields"].to_numpy()
            precs = pdf["record"].to_numpy()
            status = ["ok"] * n
            result: list = [None] * n
            error: list = [None] * n
            for i in range(n):
                try:
                    if acl_re is not None and acl_re.fullmatch(keys[i]) is None:
                        raise GearsError(
                            f"{NO_PERMISSIONS_MSG} ('{keys[i]}')"
                        )
                    # `record`: ordered (field, value) pairs, duplicates
                    # legal (Stream_Triggers.md:78); `fields`: last-wins
                    # map view
                    pairs = precs[i]
                    if pairs is not None and len(pairs):
                        pairs = [(p["field"], p["value"]) for p in pairs]
                        fields = dict(pairs)
                    else:
                        fm = fmaps[i]
                        if fm is not None and len(fm):
                            fields = dict(fm)
                            pairs = list(fields.items())
                        else:
                            fields, pairs = {}, []
                    res = fn(
                        {
                            "stream_key": keys[i],
                            "id": ids[i],
                            "id_ts": idts[i],
                            "fields": fields,
                            "record": pairs,
                        }
                    )
                    if res is not None:
                        result[i] = json.dumps(res, default=str)
                    n_ok += 1
                except Exception as e:  # record error, keep going
                    status[i] = "error"
                    error[i] = f"{type(e).__name__}: {e}"
                    an_error = error[i]
                    n_err += 1
                # input arrives sorted by (stream_key, id): a plain
                # last-write is the running max per key
                frontier[keys[i]] = ids[i]
                first_ts.setdefault(keys[i], idts[i])
            ts_vals = [t for t in idts if t is not None]
            if ts_vals:
                lo = min(ts_vals)
                oldest = lo if oldest is None else min(oldest, lo)
            # write PER ARROW CHUNK (not per partition): peak worker
            # memory stays one chunk no matter how large the partition —
            # backfill-scale micro-batches must not buffer in Python.
            # uuid part names make multiple files per task harmless;
            # compact_sink() bounds the file count later.
            chunk = pd.DataFrame(
                {
                    "stream_key": keys,
                    "id": ids,
                    "id_ts": idts,
                    "status": status,
                    "result": result,
                    "error": error,
                }
            )
            ok_mask = chunk["status"] == "ok"
            if ok_mask.any():
                _write_parquet_part(chunk[ok_mask], sink_dir, schema)
            if not ok_mask.all():
                _write_parquet_part(chunk[~ok_mask], err_dir, schema)
        meta = [
            {
                "stream_key": k,
                "id": v,
                "id_ts": first_ts[k],
                "status": "frontier",
                "result": None,
                "error": None,
            }
            for k, v in frontier.items()
        ]
        meta.append(
            {
                "stream_key": "",
                "id": 0,
                "id_ts": None,
                "status": "stats",
                "result": json.dumps(
                    {
                        "ok": n_ok,
                        "err": n_err,
                        "an_error": an_error,
                        "oldest_us": (
                            int(oldest.value // 1000)
                            if oldest is not None
                            else None
                        ),
                    }
                ),
                "error": None,
            }
        )
        yield pd.DataFrame(meta)

    return process


class StreamTriggerRuntime:
    """Owns the streaming queries for a library's triggers (the analog of
    the reference's StreamReaderCtx consumer tracking,
    stream_reader.rs:54-58)."""

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter: Callable[[DataFrame], DataFrame] | None = None,
        source_format: str = "parquet",
        source_options: dict | None = None,
    ):
        """`source_format="commandlog"` consumes an AOF command-log spool
        (directory of XADD segments) through sources/commandlog.py's
        streaming tail instead of a parquet spool — the reference's own
        persistence format as a live trigger source. The adapter is not
        used there (the source already emits the canonical shape).

        `source_format="redis"` consumes a live Redis server through
        sources/redisstream.py — "point this at my Redis", the
        reference's native deployment shape. `source_options` carries the
        gears_redis options (host/port/db/password or fake_path, plus
        match="prefix*"); spool_dir is unused. maintain() then trims
        consumed entries with XTRIM MINID at the min-frontier — the
        reference's trim-to-slowest-consumer (stream_reader.rs:60-110)
        against the real server."""
        self.engine = engine
        self.spark: SparkSession = engine.spark
        self.spool_dir = spool_dir
        self.work_dir = work_dir
        self.source_adapter = source_adapter
        self.source_format = source_format
        self.source_options = dict(source_options or {})
        # parquet-spool micro-batch pacing: how many spool files one
        # ingest micro-batch admits. The default (8) makes a 8-file
        # bench spool ONE batch; 1 paces the same spool into 8 waves so
        # an async trigger's worker pipelines with ingest (the
        # continuous-load shape — see bench.py streaming_async_pipelined)
        self._files_per_trigger = int(
            self.source_options.pop("maxFilesPerTrigger", 8)
        )
        if source_format == "commandlog":
            from redisgears_spark.sources.commandlog import (
                register_commandlog_source,
            )

            register_commandlog_source(self.spark)
        elif source_format == "redis":
            from redisgears_spark.sources.redisstream import (
                register_redis_source,
            )

            register_redis_source(self.spark)
        self.stats: dict[str, TriggerStats] = {}
        self.queries: dict[str, StreamingQuery] = {}
        self._lock = threading.Lock()
        engine.register_trigger_runtime(self)

    def _overlap_submit(self, fn) -> futures.Future:
        """Run `fn` on its own pyspark InheritableThread, returned as a
        Future, for overlapping the independent per-batch jobs of
        declarative triggers (sink write ∥ metadata agg).

        Per-batch thread, NOT a shared pool (ADVICE r11): an
        InheritableThread copies the submitting thread's Spark local
        properties (job group, scheduler pool, interrupt-on-cancel) into
        the child in pinned-thread mode, so StreamingQuery.stop()'s
        job-group cancellation reaches an in-flight sink-write job; and
        one thread per batch means N declarative triggers batching
        concurrently never serialize behind a fixed worker count. The
        thread only blocks on py4j (the job is JVM-side), and its
        lifetime is one batch — the caller always joins via
        Future.result() before committing."""
        from pyspark.util import InheritableThread

        fut: futures.Future = futures.Future()

        def run() -> None:
            try:
                fut.set_result(fn())
            except BaseException as exc:  # surface via the Future
                fut.set_exception(exc)

        InheritableThread(
            target=run, name="rg-trigger-overlap", daemon=True
        ).start()
        return fut

    # target rows per Python-callback task: small enough to parallelize a
    # modest micro-batch, large enough that Arrow/task overhead amortizes
    _ROWS_PER_PYTHON_TASK = 2048
    # compressed-parquet bytes/row prior for the canonical stream shape
    # (measured ~25 B/row on the fixture events); errors of 2-3x land in
    # the flat region of the task-count/throughput curve
    _BYTES_PER_ROW_HINT = 24

    def _python_stage_partitions(
        self, ckpt_dir: str, epoch_id: int
    ) -> int:
        """Shuffle-partition count for the Python callback stage, sized to
        THIS micro-batch: estimate batch rows from its input-file bytes
        and target _ROWS_PER_PYTHON_TASK rows/task, capped at
        defaultParallelism so backfill-scale batches always get full
        parallelism.

        The batch's file list comes from the checkpoint's file-source log
        (`<ckpt>/sources/0/<batchId>` — one JSON entry per file), because
        the DataFrame handed to foreachBatch is a logical-RDD wrapper
        whose inputFiles() is empty. Reading the log is a driver-side
        file read, not a Spark job. Falls back to defaultParallelism when
        the log or the files are missing (non-file sources, remote FS)."""
        default = self.spark.sparkContext.defaultParallelism
        try:
            from urllib.parse import urlparse

            # bounded-window triggers union a respool file source, which
            # logs under sources/1 — sum every source's log for the batch
            # so respool-heavy batches are sized by their true volume
            src_root = os.path.join(ckpt_dir, "sources")
            logs = [
                os.path.join(src_root, i, str(epoch_id))
                for i in sorted(os.listdir(src_root))
            ]
            logs = [p for p in logs if os.path.isfile(p)]
            total = 0
            for log in logs:
                with open(log) as fh:
                    for line in fh:
                        line = line.strip()
                        if not line.startswith("{") and not line.startswith(
                            "["
                        ):
                            continue  # version header
                        for entry in json.loads(line) if line.startswith(
                            "["
                        ) else [json.loads(line)]:
                            p = urlparse(entry["path"]).path or entry["path"]
                            total += os.path.getsize(p)
            if total <= 0:
                return default
            est_rows = max(1, total // self._BYTES_PER_ROW_HINT)
            return max(1, min(default, -(-est_rows // self._ROWS_PER_PYTHON_TASK)))
        except Exception:
            return default

    # -- source --------------------------------------------------------------

    def _source(
        self, respool_dir: str | None = None, base_override: str | None = None
    ) -> DataFrame:
        """Build the trigger's streaming source.

        Backfill/bootstrap contract (the reference scans the keyspace for
        pre-existing streams on registration and consumes them from the
        beginning — lib.rs:1546-1574 scan_key_space_for_streams): a file
        stream's FIRST listing includes every file already in the spool,
        so records that existed before the trigger was registered are
        processed — exactly once, because the initial listing is recorded
        in the checkpoint like any other micro-batch. A restart resumes
        from the checkpoint and does not re-run the backfill. Pinned by
        tests/test_streaming.py::test_backfill_bootstrap_pre_populated_stream.
        """
        raw_schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        if base_override is not None:
            # already-canonical intermediate (async-mode queue): no
            # maxFilesPerTrigger cap — the ingest query already paces the
            # queue, so capping here only fragments the worker into many
            # small micro-batches (each paying the fixed foreachBatch cost)
            # while ingest is still landing files
            base = (
                self.spark.readStream.schema(STREAM_SCHEMA)
                .parquet(base_override)
            )
        elif self.source_format == "commandlog":
            # AOF tail — emits the canonical shape directly, including
            # the ordered `record` pairs when a line carries duplicate
            # field names (STREAM_SCHEMA fidelity contract)
            base = (
                self.spark.readStream.format("gears_commandlog")
                .option("path", self.spool_dir)
                .load()
            )
        elif self.source_format == "redis":
            # live-server tail — canonical shape, per-key last-id offsets
            base = (
                self.spark.readStream.format("gears_redis")
                .options(**self.source_options)
                .load()
            )
        elif self.source_adapter is not None:
            raw = (
                self.spark.readStream.schema(raw_schema)
                .option("maxFilesPerTrigger", self._files_per_trigger)
                .parquet(self.spool_dir)
            )
            base = self.source_adapter(raw)
        else:
            base = (
                self.spark.readStream.schema(STREAM_SCHEMA)
                .option("maxFilesPerTrigger", self._files_per_trigger)
                .parquet(self.spool_dir)
            )
        if respool_dir is not None:
            # this trigger's deferred records come back through its private
            # respool (already canonical shape); union keeps one query
            respooled = (
                self.spark.readStream.schema(STREAM_SCHEMA)
                .option("maxFilesPerTrigger", 8)
                .parquet(respool_dir)
            )
            base = base.unionByName(respooled)
        return base

    # -- per-trigger query ---------------------------------------------------

    def start_trigger(self, lib: Library, name: str) -> StreamingQuery:
        spec = lib.stream_triggers[name]
        qkey = f"{lib.name}.{name}"
        stats = self.stats.setdefault(qkey, TriggerStats())
        sink_dir = os.path.join(self.work_dir, "sink", lib.name, name)
        err_dir = os.path.join(self.work_dir, "errors", lib.name, name)
        ckpt_dir = os.path.join(self.work_dir, "checkpoints", lib.name, name)
        respool_dir = os.path.join(self.work_dir, "respool", lib.name, name)
        for d in (sink_dir, err_dir, respool_dir):
            os.makedirs(d, exist_ok=True)

        prefix: str = spec["prefix"]
        window: int = spec["window"]
        mode: str = spec.get("mode", "sync")
        expr: str | None = spec.get("expr")
        agg_expr: dict[str, str] | None = spec.get("agg_expr")
        declarative = expr is not None or agg_expr is not None
        bounded = window < UNBOUNDED_WINDOW
        owner = getattr(lib, "user", "default")
        if declarative and self.engine.acl_read_regex(owner) is not None:
            # declarative pipelines write every matched row as 'ok' in one
            # JVM pass — there is no per-record error path to surface ACL
            # denials through. Refuse loudly instead of silently widening
            # the owner's permissions; a callback consumer gets per-record
            # ACL semantics. (Checked at registration; like the reference,
            # later ACL changes apply from the next read — here the next
            # trigger start.)
            raise GearsError(
                f"declarative trigger '{qkey}': library owner '{owner}' "
                "has restricted key permissions; declarative pipelines "
                "need an unrestricted owner — use a callback consumer"
            )

        def make_processor():
            # rebuilt per micro-batch so the owner's ACL patterns resolve
            # at batch time (event-time semantics: deleting/disabling the
            # owner fails the NEXT batch's records, testAclUserDeleted...)
            return _make_partition_processor(
                spec["fn"],
                sink_dir,
                err_dir,
                acl_regex=self.engine.acl_read_regex(owner),
            )

        # Batch-invariant plan fragments, built ONCE per trigger (r8:
        # profiling attributed the streaming_agg ratio creep to ~0.2 s
        # of per-batch driver-side py4j DataFrame construction — a
        # fixed Python cost measured against a JVM baseline that got
        # faster across rounds). Column objects are immutable
        # unresolved expressions, so reusing them across micro-batch
        # DataFrames is safe; only the Observation must be fresh per
        # batch.
        prefix_pred = F.col("stream_key").startswith(prefix)
        if agg_expr is not None:
            agg_cols = [
                F.expr(sql).alias(col) for col, sql in agg_expr.items()
            ]
            agg_result_cols = [
                F.lit("ok").alias("status"),
                F.to_json(
                    F.struct(*[F.col(c) for c in agg_expr])
                ).alias("result"),
                F.lit(None).cast("string").alias("error"),
            ]
            agg_observe_cols = [
                F.count(F.lit(1)).alias("n_keys"),
                F.min(F.unix_micros("id_ts")).alias("oldest_us"),
                F.collect_list(
                    F.struct("stream_key", "id")
                ).alias("frontiers"),
            ]
        elif expr is not None:
            expr_result_cols = [
                F.lit("ok").alias("status"),
                F.expr(expr).cast("string").alias("result"),
                F.lit(None).cast("string").alias("error"),
            ]
            expr_meta_cols = [
                F.max("id").alias("id"),
                F.count(F.lit(1)).alias("n"),
                F.min(F.unix_micros("id_ts")).alias("oldest_us"),
            ]

        queue_dir: str | None = None

        if mode == "async":
            # decoupled execution (reference async consumers: queued to
            # background, no atomicity with the event): an ingest query
            # materializes matched records into a queue, and the worker
            # query below consumes the queue under its own checkpoint —
            # worker failures or slowness never hold the ingest frontier.
            queue_dir = os.path.join(self.work_dir, "queue", lib.name, name)
            ingest_ckpt = os.path.join(
                self.work_dir, "checkpoints", lib.name, f"{name}__ingest"
            )
            os.makedirs(queue_dir, exist_ok=True)
            ingest = (
                self._source(None)
                .filter(F.col("stream_key").startswith(prefix))
                .writeStream.format("parquet")
                .option("path", queue_dir)
                .option("checkpointLocation", ingest_ckpt)
                .queryName(f"{qkey}__ingest")
                .start()
            )
            self.queries[f"{qkey}__ingest"] = ingest

        def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
            from pyspark.sql.window import Window as W

            if declarative and self.engine.acl_read_regex(owner) is not None:
                # re-resolved EVERY epoch, mirroring the per-batch owner
                # resolution the callback path does in make_processor: a
                # restriction applied to the owner while the trigger runs
                # must take effect at the next read (the reference applies
                # ACL at access time), not at the next trigger restart.
                # Declarative pipelines have no per-record error path, so
                # the whole batch fails loudly instead of silently
                # continuing to read keys the owner can no longer see.
                # The raise TERMINATES this streaming query (a foreachBatch
                # error is fatal to the query, not just the batch) — but
                # the refused batch never commits, so after permissions
                # are restored, start_trigger() resumes from the
                # checkpoint with no records lost. The refusal is recorded
                # in stats.last_error so TFUNCTION LIST surfaces why the
                # trigger stopped.
                msg = (
                    f"declarative trigger '{qkey}': library owner "
                    f"'{owner}' lost unrestricted key permissions while "
                    "the trigger was running; query stopped — restart "
                    "the trigger after restoring permissions (resumes "
                    "from the checkpoint, no records lost)"
                )
                with self._lock:
                    stats.last_error = msg
                raise GearsError(msg)

            # prefix filter — predicate-pushdown-friendly, the consumer
            # match of keys_notifications.rs:199-203
            matched = batch_df.filter(prefix_pred)
            from pyspark.sql import Observation

            obs_gate: Observation | None = None
            if bounded:
                # window admission gate (stream_reader.rs:592-597): at most
                # `window` records per key enter this batch, id order. The
                # overflow is RE-SPOOLED — it re-enters the source and is
                # processed by a later batch, the batch analog of the
                # reference pausing reads while pending >= window. The
                # checkpoint may advance past the original offsets because
                # the respool file carries the records forward
                # (at-least-once preserved). The overflow COUNT rides on the
                # main job as an observe() metric; the overflow rows are
                # only materialized (deterministic recompute) when > 0.
                gate = W.partitionBy("stream_key").orderBy("id")
                ranked = matched.withColumn("_rn", F.row_number().over(gate))
                obs_gate = Observation()
                ranked = ranked.observe(
                    obs_gate,
                    F.count(F.when(F.col("_rn") > window, 1)).alias(
                        "deferred"
                    ),
                )
                # the Window operator leaves each partition hash-distributed
                # by stream_key and sorted by (stream_key, id) — exactly the
                # layout the partition processor needs; no extra shuffle
                admitted = ranked.filter(F.col("_rn") <= window).drop("_rn")
            elif not declarative:
                # explicit partition count, sized to the batch: AQE's
                # byte-based coalescing sees a few MB and folds the shuffle
                # to ONE task (serializing the CPU-bound Python callback),
                # while a fixed defaultParallelism over-fans small batches
                # into per-task overhead. _python_stage_partitions estimates
                # batch rows from the batch's input-file bytes via the
                # checkpoint's file-source log (no extra job) and targets
                # _ROWS_PER_PYTHON_TASK rows per task, capped at
                # defaultParallelism — huge backfill batches still get
                # full parallelism
                nparts = self._python_stage_partitions(ckpt_dir, epoch_id)
                admitted = matched.repartition(
                    nparts, "stream_key"
                ).sortWithinPartitions("stream_key", "id")
            else:
                # declarative trigger: a stateless Catalyst row expression
                # needs no per-key ordering — no shuffle at all
                admitted = matched

            if declarative:
                # DECLARATIVE fast path: the callback is a Catalyst
                # expression (per-row `expr`) or per-key micro-batch
                # aggregate (`agg_expr`), so the whole pipeline stays
                # JVM-side (whole-stage codegen, no Python worker
                # roundtrip). The earlier union-with-frontier-rows +
                # batch-sized collect_list observe() broke whole-stage
                # fusion and recorded SLOWER than the Python path it
                # exists to beat; now:
                #   * agg_expr — ONE job: the hash agg reduces the batch
                #     to |keys| rows, so frontiers/count/lag ride the
                #     sink write as observe() metrics over those rows;
                #   * expr — the sink write is a pure scan→project→write
                #     pass, plus a tiny per-key metadata agg pruned to
                #     (stream_key, id, id_ts): the expression is never
                #     evaluated there, the scan is 3 narrow columns with
                #     a map-side partial agg.
                # Declarative expressions don't produce per-record errors
                # (a throwing expr fails the task, same as a malformed
                # query): n_err is structurally 0.
                if agg_expr is not None:
                    grouped = matched.groupBy("stream_key").agg(
                        F.max("id").alias("id"),
                        F.min("id_ts").alias("id_ts"),
                        *agg_cols,
                    )
                    row_results = grouped.select(
                        "stream_key", "id", "id_ts", *agg_result_cols
                    )
                    # the agg already reduced the batch to |keys| rows, so
                    # the metadata rides the ONE write job as observe()
                    # metrics over those rows (collect_list here is |keys|
                    # structs, not batch-sized — grouped.id_ts is already
                    # min per key, so its global min is the batch oldest)
                    obs = Observation()
                    observed = row_results.observe(obs, *agg_observe_cols)
                    observed.write.mode("append").parquet(sink_dir)
                    m = obs.get
                    n_ok = m["n_keys"]
                    oldest_us = m["oldest_us"]
                    frontiers = [
                        (r["stream_key"], r["id"]) for r in m["frontiers"]
                    ]
                if agg_expr is None:
                    row_results = admitted.select(
                        "stream_key", "id", "id_ts", *expr_result_cols
                    )
                    # metadata from `admitted`, the exact set written below —
                    # identical to `matched` today (engine forbids bounded
                    # declarative triggers), but if that validation is ever
                    # relaxed, deferred rows must not be acked/counted
                    # without being written.
                    # The sink write and the (stream_key, id, id_ts)-pruned
                    # metadata agg are independent jobs over the same batch
                    # files — run them CONCURRENTLY so the batch pays
                    # max(write, agg) wall-clock, not the sum (measured
                    # ~0.1 s/batch of serialized JVM job constants at the
                    # bench shape; at scale the two scans were already
                    # independent, this only removes the artificial barrier)
                    meta_df = admitted.groupBy("stream_key").agg(
                        *expr_meta_cols
                    )
                    write_fut = self._overlap_submit(
                        lambda: row_results.write.mode("append").parquet(
                            sink_dir
                        )
                    )
                    try:
                        meta_rows = meta_df.collect()
                    except Exception:
                        # wait the write out (no dangling job), but let the
                        # collect error surface — it came first
                        futures.wait([write_fut])
                        raise
                    # a failed sink write must fail the batch (foreachBatch
                    # must not commit a batch whose rows were not written)
                    write_fut.result()
                    frontiers = [
                        (r["stream_key"], r["id"]) for r in meta_rows
                    ]
                    n_ok = sum(r["n"] for r in meta_rows)
                    oldest_us = (
                        min(r["oldest_us"] for r in meta_rows)
                        if meta_rows
                        else None
                    )
                n_err = 0
                an_error = None
            else:
                # PYTHON path, ONE job per micro-batch: the processor runs
                # the callback AND appends its partition's ok/error rows to
                # the sink/error dirs executor-side (see
                # _make_partition_processor — the foreach/custom-sink
                # pattern). The job's collected result is only metadata:
                # |keys| frontier rows + one stats row per task — no second
                # write job, no CollectMetrics, no post-stage filter.
                meta = admitted.mapInPandas(
                    make_processor(), _RESULT_SCHEMA
                ).collect()
                n_ok = n_err = 0
                an_error = None
                oldest_us = None
                frontiers = []
                for r in meta:
                    if r["status"] == "stats":
                        d = json.loads(r["result"])
                        n_ok += d["ok"]
                        n_err += d["err"]
                        an_error = d["an_error"] or an_error
                        if d["oldest_us"] is not None:
                            oldest_us = (
                                d["oldest_us"]
                                if oldest_us is None
                                else min(oldest_us, d["oldest_us"])
                            )
                    else:  # frontier
                        frontiers.append((r["stream_key"], r["id"]))
            n_deferred = int(obs_gate.get["deferred"]) if obs_gate else 0
            if n_deferred:
                # overflow is exceptional — recompute the gate (fn never ran
                # on these rows; the window is deterministic) and re-spool
                gate = W.partitionBy("stream_key").orderBy("id")
                (
                    matched.withColumn("_rn", F.row_number().over(gate))
                    .filter(F.col("_rn") > window)
                    .drop("_rn")
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(respool_dir)
                )
            # consumer lag = now − record event time (the reference tracks
            # lag per record, stream_reader.rs:127-135; the batch analog is
            # the oldest record processed this batch)
            import time as _time

            now_us = int(_time.time() * 1_000_000)
            batch_lag_us = (now_us - oldest_us) if oldest_us is not None else 0
            with self._lock:
                stats.n_batches += 1
                stats.n_records += n_ok + n_err
                stats.n_success += n_ok
                stats.n_failed += n_err
                stats.n_deferred += n_deferred
                stats.max_lag_us = max(stats.max_lag_us, batch_lag_us)
                if n_err and an_error:
                    stats.last_error = an_error
                for key, fid in frontiers:
                    cur = stats.frontier.get(key, -1)
                    stats.frontier[key] = max(cur, fid)

        # the respool source only exists for bounded windows — the overflow
        # re-spool is the only writer, so an unbounded trigger would poll a
        # forever-empty second source every micro-batch for nothing
        worker_source = self._source(
            respool_dir if bounded else None,
            base_override=queue_dir if mode == "async" else None,
        )
        query = (
            worker_source.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", ckpt_dir)
            .queryName(qkey)
            .start()
        )
        self.queries[qkey] = query
        return query

    def start_library(self, lib: Library) -> list[StreamingQuery]:
        return [self.start_trigger(lib, name) for name in lib.stream_triggers]

    def stop_all(self) -> None:
        for q in self.queries.values():
            try:
                q.stop()
            except Exception:
                pass
        self.queries.clear()

    def stop_library(self, lib_name: str) -> None:
        """Stop every query owned by one library and drop its stats
        (TFUNCTION DELETE / fatal Kill unload the whole library, triggers
        included — see _stop_owned)."""
        _stop_owned(self, lib_name)

    def process_available(self) -> None:
        """Drain everything currently in the spool (test/batch-drive mode)."""
        for q in self.queries.values():
            q.processAllAvailable()

    # -- sink reads ----------------------------------------------------------

    def read_sink(
        self, lib_name: str, trigger: str, exactly_once: bool = True
    ) -> DataFrame:
        """Read a trigger's processed-record sink.

        The sink itself is append-only (at-least-once across restarts —
        the same delivery contract as the reference, which replays from
        the last replicated acked frontier on failover,
        Stream_Triggers.md:182-184). `exactly_once=True` collapses
        replay duplicates by (stream_key, id) keeping the latest write —
        the documented end-to-end exactly-once read: dedupe at the
        consumer over the idempotency key. One shuffle on (key, id)."""
        from pyspark.sql.window import Window as W

        df = self.spark.read.parquet(
            os.path.join(self.work_dir, "sink", lib_name, trigger)
        )
        if not exactly_once:
            return df
        w = W.partitionBy("stream_key", "id").orderBy(F.col("id_ts").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def read_errors(self, lib_name: str, trigger: str) -> DataFrame:
        """Read a trigger's dead-letter records — every input row whose
        callback raised, with the error string (the reference surfaces
        only last_error + counters in TFUNCTION LIST; the full DLQ is
        what its users actually need for replay/triage). Rows keep the
        original (stream_key, id, id_ts) so a fixed callback can re-run
        exactly the failed set. Empty sink → empty DataFrame, not an
        error."""
        err_dir = os.path.join(self.work_dir, "errors", lib_name, trigger)
        if not os.path.isdir(err_dir) or not any(
            f.endswith(".parquet") for f in os.listdir(err_dir)
        ):
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        return self.spark.read.schema(_RESULT_SCHEMA).parquet(err_dir)

    def replay_errors(
        self,
        lib_name: str,
        trigger: str,
        fn: Callable[[dict], Any] | None = None,
    ) -> dict[str, int]:
        """Re-run the dead-letter queue: re-read exactly the failed
        records from the SOURCE spool (the DLQ rows carry identity, not
        payloads — and the source is the replayable system of record),
        push them through `fn` (default: the trigger's current callback,
        i.e. whatever a library upgrade fixed it to), append the now-ok
        results to the sink, and REPLACE the DLQ with the still-failing
        rows PLUS any entries whose source records are gone (retention
        trimmed past them — those are RETAINED in the DLQ and reported
        as "unreplayable", never silently dropped). Returns
        {"replayed", "ok", "still_failing", "unreplayable"}.

        Run while the trigger is stopped. Failed ids ARE acked
        (error-does-not-halt), so retention can trim their source rows;
        replay before trimming to keep unreplayable at 0. Stats shift
        accordingly: replayed successes move n_failed → n_success.
        """
        import shutil

        lib = self.engine._libraries[lib_name]
        spec = lib.stream_triggers[trigger]
        fn = fn or spec["fn"]
        if fn is None:
            raise ValueError(
                "replay needs a callback (declarative triggers do not "
                "produce per-record errors)"
            )
        sink_dir = os.path.join(self.work_dir, "sink", lib_name, trigger)
        err_dir = os.path.join(self.work_dir, "errors", lib_name, trigger)
        errs = self.read_errors(lib_name, trigger)
        failed = errs.select("stream_key", "id").distinct()
        n_failed = failed.count()
        if n_failed == 0:
            return {
                "replayed": 0,
                "ok": 0,
                "still_failing": 0,
                "unreplayable": 0,
            }
        src = self._source_batch().join(
            F.broadcast(failed), ["stream_key", "id"], "left_semi"
        )
        tmp_err = err_dir + ".replay"
        shutil.rmtree(tmp_err, ignore_errors=True)
        os.makedirs(tmp_err, exist_ok=True)
        # DLQ entries whose source rows no longer exist must SURVIVE the
        # swap — carry them into the new DLQ before processing
        matched = src.select("stream_key", "id").distinct()
        unreplayable = errs.join(
            F.broadcast(matched), ["stream_key", "id"], "left_anti"
        )
        n_unreplayable = unreplayable.count()
        if n_unreplayable:
            unreplayable.write.mode("append").parquet(tmp_err)
        n_replayed = n_failed - n_unreplayable
        processor = _make_partition_processor(
            fn,
            sink_dir,
            tmp_err,
            acl_regex=self.engine.acl_read_regex(
                getattr(lib, "user", "default")
            ),
        )
        n_ok = n_err = 0
        for r in (
            src.repartition(
                self.spark.sparkContext.defaultParallelism, "stream_key"
            )
            .sortWithinPartitions("stream_key", "id")
            .mapInPandas(processor, _RESULT_SCHEMA)
            .collect()
        ):
            if r["status"] == "stats":
                d = json.loads(r["result"])
                n_ok += d["ok"]
                n_err += d["err"]
        # swap: the DLQ now holds still-failing + unreplayable rows
        shutil.rmtree(err_dir, ignore_errors=True)
        os.replace(tmp_err, err_dir)
        qkey = f"{lib_name}.{trigger}"
        with self._lock:
            if qkey in self.stats:
                self.stats[qkey].n_success += n_ok
                self.stats[qkey].n_failed = max(
                    0, self.stats[qkey].n_failed - n_ok
                )
        return {
            "replayed": n_replayed,
            "ok": n_ok,
            "still_failing": n_err,
            "unreplayable": n_unreplayable,
        }

    def _source_batch(self) -> DataFrame:
        """Batch view of the spool in canonical shape (the replay path's
        system-of-record read; mirrors _source minus streaming)."""
        raw_schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        if self.source_format == "commandlog":
            return (
                self.spark.read.format("gears_commandlog")
                .option("path", self.spool_dir)
                .load()
            )
        if self.source_format == "redis":
            return (
                self.spark.read.format("gears_redis")
                .options(**self.source_options)
                .load()
            )
        if self.source_adapter is not None:
            return self.source_adapter(
                self.spark.read.schema(raw_schema).parquet(self.spool_dir)
            )
        return self.spark.read.schema(STREAM_SCHEMA).parquet(
            self.spool_dir
        )

    def compact_sink(
        self, lib_name: str, trigger: str, target_partitions: int | None = None
    ) -> int:
        """Compact a trigger's sink: rewrite the accumulated per-task part
        files (one per task per micro-batch — the price of the fused
        executor-side append) into `target_partitions` files. Returns the
        resulting file count.

        The maintenance twin of retention's XTRIM analog: retention trims
        the SOURCE by the acked frontier; compaction keeps the SINK's file
        count bounded. Run it while the trigger is stopped (or accept that
        a batch committed mid-compaction is preserved but not compacted —
        the swap below only replaces files that existed at read time).

        Atomicity on a local/posix fs: the rewrite lands in a hidden temp
        dir inside the sink, the compacted files are renamed IN first,
        and only then are the old part files unlinked. A crash mid-swap
        therefore leaves either the old files alone, or old + compacted
        together (duplicates — collapsed by read_sink(exactly_once=True))
        — never a window where the data exists only in the hidden dir.
        """
        import glob as _glob
        import shutil

        sink = os.path.join(self.work_dir, "sink", lib_name, trigger)
        old_files = sorted(_glob.glob(os.path.join(sink, "part-*.parquet")))
        if not old_files:
            return 0
        if target_partitions is None:
            target_partitions = max(
                1, self.spark.sparkContext.defaultParallelism // 4
            )
        tmp = os.path.join(sink, ".compact-tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (
            self.spark.read.parquet(*old_files)
            .repartition(target_partitions)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        # Output names must be unique PER RUN: a re-compaction's old_files
        # glob matches part-compact-* files from a prior run, so reusing
        # deterministic names would rename the new file onto an old path
        # and then unlink it in the cleanup loop below — emptying the sink.
        run_tag = uuid.uuid4().hex[:12]
        n = 0
        renamed: set[str] = set()
        for f in sorted(_glob.glob(os.path.join(tmp, "part-*"))):
            if f.endswith(".parquet") or ".snappy" in f or f.endswith(".gz"):
                dst = os.path.join(
                    sink, f"part-compact-{run_tag}-{n:05d}.parquet"
                )
                os.rename(f, dst)
                renamed.add(dst)
                n += 1
        for f in old_files:
            if f not in renamed:  # belt-and-braces: never unlink a target
                os.unlink(f)
        shutil.rmtree(tmp, ignore_errors=True)
        return n

    def maintain(
        self, target_partitions: int | None = None
    ) -> dict[str, int]:
        """One-call periodic maintenance, the scheduled-job pairing of
        the two storage bounds this runtime owns: trim the SOURCE spool
        by the acked min-frontier (XTRIM MINID analog) and compact every
        trigger's SINK file count. Run while triggers are stopped, or
        accept the documented mid-run semantics of each half (retention
        keeps un-acked records; compaction leaves a concurrent batch's
        files uncompacted). Returns
        {"evicted_rows": ..., "sink_files": ...}.

        Trim applies only to canonical-shape parquet spools: with a
        source_adapter (raw schema) or the commandlog format, spool rows
        aren't keyed the way apply_retention filters — trimming is the
        producer's job there and this reports evicted_rows=0."""
        from redisgears_spark.streaming.retention import apply_retention

        evicted = 0
        if self.source_adapter is None and self.source_format == "parquet":
            evicted = apply_retention(
                self.spark,
                self.spool_dir,
                self.min_frontier(),
                STREAM_SCHEMA,
            )
        elif self.source_format == "redis":
            # the reference's trim-to-slowest-consumer against the real
            # server: XTRIM MINID frontier+1 drops entries every consumer
            # has acked (frontier is inclusive). Driver-side loop over
            # |streams| keys — trim is a control-plane call, not a scan.
            from redisgears_spark.sources.redisstream import (
                _make_client,
                unpack_id,
            )

            client = _make_client(self.source_options)
            for key, fid in self.min_frontier().items():
                evicted += int(client.xtrim(key, minid=unpack_id(fid + 1)))
        sink_files = 0
        # snapshot under the lock: a trigger starting concurrently inserts
        # into stats, and a dict-size change mid-iteration raises
        with self._lock:
            qkeys = list(self.stats)
        for qkey in qkeys:
            lib_name, _, trig = qkey.partition(".")
            sink = os.path.join(self.work_dir, "sink", lib_name, trig)
            if os.path.isdir(sink) and any(
                f.endswith(".parquet") for f in os.listdir(sink)
            ):
                sink_files += self.compact_sink(
                    lib_name, trig, target_partitions
                )
        return {"evicted_rows": evicted, "sink_files": sink_files}

    # -- retention frontier (XTRIM MINID analog) ----------------------------

    def min_frontier(self) -> dict[str, int]:
        """Per-stream trim boundary = min over all consumers' acked frontier
        (stream_reader.rs:60-110: 'trimmed according to the slowest
        consumer'). Streams not yet seen by every consumer are not
        trimmable."""
        per_consumer = [s.frontier for s in self.stats.values()]
        if not per_consumer:
            return {}
        keys = set.intersection(*[set(f) for f in per_consumer])
        return {
            k: min(f[k] for f in per_consumer) for k in keys
        }


# ---------------------------------------------------------------------------
# keyspace (CDC) triggers
# ---------------------------------------------------------------------------

CHANGES_SCHEMA = (
    "seq bigint, event string, key string, ts timestamp, "
    "origin string, snapshot map<string,string>"
)

_CDC_RESULT_SCHEMA = (
    "seq bigint, key string, event string, status string, result string, "
    "error string"
)


def _make_cdc_partition_processor(fn, on_fired, sink_dir, acl_regex=None):
    """Fused executor-side CDC processor (the keyspace twin of
    _make_partition_processor): each task appends ALL its result rows (the
    CDC sink keeps every status) to sink_dir — one part file per Arrow
    chunk, bounded memory — and yields one status='stats' metadata row, so
    a micro-batch (or a replay) is ONE job collecting |tasks| tiny rows.
    Shared by the live trigger loop and replay_errors."""

    # owner-ACL check, per record — same error-path accounting as the
    # stream processor (the reference authenticates the notification
    # consumer's key access as the library owner)
    acl_re = re.compile(acl_regex) if acl_regex is not None else None

    def process_partition(pdf_iter):
        from redisgears_spark.workerpatch import ensure as _wp

        _wp()  # see workerpatch — removes ~130 ms/task of preamble
        schema = _arrow_cdc_schema()
        n_ok = n_err = 0
        an_error = None
        for pdf in pdf_iter:
            n = len(pdf)
            if not n:
                continue
            pdf = pdf.sort_values("seq")
            # tolist() for seq/ts: callbacks receive native int and
            # pd.Timestamp, never numpy scalars (API stability — see
            # the stream processor above)
            seqs = pdf["seq"].tolist()
            keys = pdf["key"].to_numpy()
            events = pdf["event"].to_numpy()
            tss = pdf["ts"].tolist()
            snaps = pdf["snapshot"].to_numpy()
            status = ["ok"] * n
            result: list = [None] * n
            error: list = [None] * n
            for i in range(n):
                try:
                    if acl_re is not None and acl_re.fullmatch(keys[i]) is None:
                        raise GearsError(
                            f"{NO_PERMISSIONS_MSG} ('{keys[i]}')"
                        )
                    snap = snaps[i]
                    data = {
                        "event": events[i],
                        "key": keys[i],
                        "ts": tss[i],
                        # event-time snapshot (onTriggerFired stage):
                        # values captured when the event was produced
                        "snapshot": dict(snap) if snap is not None else {},
                    }
                    if on_fired is not None:
                        data["snapshot_view"] = on_fired(data)
                    res = fn(data)
                    if res is not None:
                        result[i] = json.dumps(res, default=str)
                    n_ok += 1
                except Exception as e:
                    status[i] = "error"
                    error[i] = f"{type(e).__name__}: {e}"
                    an_error = error[i]
                    n_err += 1
            _write_parquet_part(
                pd.DataFrame(
                    {
                        "seq": seqs,
                        "key": keys,
                        "event": events,
                        "status": status,
                        "result": result,
                        "error": error,
                    }
                ),
                sink_dir,
                schema,
            )
        yield pd.DataFrame(
            [
                {
                    "seq": 0,
                    "key": "",
                    "event": "",
                    "status": "stats",
                    "result": json.dumps(
                        {"ok": n_ok, "err": n_err, "an_error": an_error}
                    ),
                    "error": None,
                }
            ]
        )

    return process_partition


class KeyspaceTriggerRuntime:
    """CDC-trigger runtime over a `changes` feed.

    Re-entrancy suppression: the reference blocks notifications fired by
    writes made inside callbacks (NotificationBlocker, lib.rs:629-645).
    Here every change row carries `origin`; rows written by trigger actions
    are tagged origin='trigger' and the subscription filters them out — the
    loop-breaker is a column predicate (SURVEY §4's 'custom engine logic').

    Snapshot stage: the reference's onTriggerFired runs synchronously,
    read-only, at event time (lib.rs:518-526 hardwires NO_WRITES). Here the
    snapshot map is materialized in the same micro-batch row the action
    sees — event-time values, not action-time.
    """

    def __init__(
        self,
        engine: GearsEngine,
        changes_dir: str,
        work_dir: str,
        source_format: str = "parquet",
        source_options: dict | None = None,
    ):
        """`source_format="parquet"` (default) consumes a pre-written
        changes feed (tests, offline replay). `source_format="redis"`
        attaches a KeyspaceNotificationBridge to a live (or Fake) server —
        the reference's native shape, where keyspace triggers are driven by
        real `__keyspace@<db>__:*` notifications (lib.rs:1904-1908) — and
        the bridge lands each notification, with its event-time snapshot
        and origin tag, into this same changes feed; everything downstream
        (prefix match, expr/callback, DLQ, exactly-once sink) is shared.
        `source_options` carries the client options (fake_path or
        host/port/db/password, plus db= and flush_every=)."""
        self.engine = engine
        self.spark = engine.spark
        self.changes_dir = changes_dir
        # the feed may legitimately be empty at trigger start (live mode:
        # no notification has fired yet) — the file source needs the dir
        os.makedirs(changes_dir, exist_ok=True)
        self.work_dir = work_dir
        self.stats: dict[str, TriggerStats] = {}
        self.queries: dict[str, StreamingQuery] = {}
        self._lock = threading.Lock()
        self._seq = 0
        self.source_format = source_format
        self.bridge = None
        if source_format == "redis":
            from redisgears_spark.sources.redisstream import _make_client
            from redisgears_spark.streaming.notifications import (
                KeyspaceNotificationBridge,
            )

            opts = dict(source_options or {})
            client = opts.pop("client", None) or _make_client(opts)
            self.client = client
            self.bridge = KeyspaceNotificationBridge(
                self,
                client,
                db=int(opts.get("db", "0")),
                flush_every=int(opts.get("flush_every", "1")),
                clock=opts.get("clock"),
            )
            self.bridge.attach()
        elif source_format != "parquet":
            raise GearsError(
                f"keyspace trigger source_format must be 'parquet' or "
                f"'redis', got {source_format!r}"
            )
        engine.register_trigger_runtime(self)

    # -- feed helpers (used by tests and by trigger actions) ----------------

    def append_changes(
        self, rows: list[dict], origin: str | None = "client"
    ) -> None:
        """Append change events to the feed. Trigger-origin writes MUST pass
        origin='trigger' — that tag is what breaks notification loops.
        origin=None defers to each row's own 'origin' field (the
        notification bridge tags rows individually).

        This method is the SINGLE seq allocator for the feed: rows lacking
        'seq' are stamped here under the runtime lock, and rows that arrive
        pre-stamped (tests, replay) advance the counter past their value so
        a later allocation can never collide with a caller-chosen seq — seq
        is the exactly-once sink's idempotency key, so a collision would
        silently drop a genuine event."""
        with self._lock:  # the bridge's pubsub thread also appends rows
            for r in rows:
                seq = r.get("seq")
                if seq is None:
                    self._seq += 1
                    r["seq"] = self._seq
                else:
                    self._seq = max(self._seq, int(seq))
        pdf = pd.DataFrame(
            [
                {
                    "seq": r["seq"],
                    "event": r.get("event", "set"),
                    "key": r["key"],
                    "ts": r.get("ts", pd.Timestamp("2024-01-01")),
                    "origin": origin if origin is not None
                    else r.get("origin", "client"),
                    "snapshot": r.get("snapshot", {}),
                }
                for r in rows
            ]
        )
        self.spark.createDataFrame(pdf, CHANGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.changes_dir)

    def start_trigger(self, lib: Library, name: str) -> StreamingQuery:
        spec = lib.keyspace_triggers[name]
        qkey = f"{lib.name}.{name}"
        stats = self.stats.setdefault(qkey, TriggerStats())
        sink_dir = os.path.join(self.work_dir, "cdc_sink", lib.name, name)
        ckpt_dir = os.path.join(self.work_dir, "cdc_ckpt", lib.name, name)
        os.makedirs(sink_dir, exist_ok=True)

        prefix = spec["prefix"]
        fn = spec["fn"]
        expr = spec.get("expr")
        on_fired = spec["on_trigger_fired"]
        runtime = self

        owner = getattr(lib, "user", "default")
        if expr is not None and self.engine.acl_read_regex(owner) is not None:
            # same rule as the stream runtime: the declarative path has no
            # per-record error path to carry ACL denials
            raise GearsError(
                f"declarative keyspace trigger '{qkey}': library owner "
                f"'{owner}' has restricted key permissions; use a "
                "callback consumer"
            )

        def make_processor():
            # per-batch rebuild: owner ACL resolves at batch time
            return _make_cdc_partition_processor(
                fn,
                on_fired,
                sink_dir,
                acl_regex=runtime.engine.acl_read_regex(owner),
            )

        # batch-invariant plan fragments, built once per trigger (see
        # StreamTriggerRuntime.start_trigger — same per-batch py4j cost
        # attribution)
        match_pred = F.col("key").startswith(prefix) & (
            F.col("origin") != F.lit("trigger")
        )
        if expr is not None:
            expr_result_cols = [
                F.lit("ok").alias("status"),
                F.expr(expr).cast("string").alias("result"),
                F.lit(None).cast("string").alias("error"),
            ]
            expr_observe_cols = [
                F.count(F.when(F.col("status") == "ok", 1)).alias("ok"),
                F.count(F.when(F.col("status") == "error", 1)).alias("err"),
                F.max("error").alias("an_error"),
            ]

        def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if (
                expr is not None
                and self.engine.acl_read_regex(owner) is not None
            ):
                # per-epoch re-check, same rule as the stream runtime: a
                # restriction applied to the owner mid-run takes effect at
                # the next batch. The raise terminates this streaming
                # query (foreachBatch errors are fatal to the query), but
                # the refused batch never commits — a restart after
                # permissions are restored resumes from the checkpoint
                # with no records lost; last_error records why.
                msg = (
                    f"declarative keyspace trigger '{qkey}': library "
                    f"owner '{owner}' lost unrestricted key permissions "
                    "while the trigger was running; query stopped — "
                    "restart the trigger after restoring permissions "
                    "(resumes from the checkpoint, no records lost)"
                )
                with self._lock:
                    stats.last_error = msg
                raise GearsError(msg)
            # re-entrancy suppression baked into the predicate:
            # engine-origin writes excluded
            matched = batch_df.filter(match_pred)
            if expr is not None:
                # declarative fast path (see StreamTriggerRuntime): the
                # callback is a Catalyst expression over the change record.
                # ONE job: the sink write, counters riding as observe()
                # metrics (the CDC sink keeps all statuses, so no second
                # write is ever needed)
                results = matched.select(
                    "seq", "key", "event", *expr_result_cols
                )
                from pyspark.sql import Observation

                obs = Observation()
                observed = results.observe(obs, *expr_observe_cols)
                observed.write.mode("append").parquet(sink_dir)
                m = obs.get
                n_ok, n_err = m["ok"] or 0, m["err"] or 0
                an_error = m["an_error"]
            else:
                # python path: fused executor-side sink write (see
                # process_partition) — the collected result is |tasks|
                # stats rows only
                meta = matched.mapInPandas(
                    make_processor(), _CDC_RESULT_SCHEMA
                ).collect()
                n_ok = n_err = 0
                an_error = None
                for r in meta:
                    d = json.loads(r["result"])
                    n_ok += d["ok"]
                    n_err += d["err"]
                    an_error = d["an_error"] or an_error
            with self._lock:
                stats.n_batches += 1
                stats.n_records += n_ok + n_err
                stats.n_success += n_ok
                stats.n_failed += n_err
                if n_err:
                    stats.last_error = an_error
            _ = runtime  # actions that write back must use append_changes(origin='trigger')

        query = (
            self.spark.readStream.schema(CHANGES_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .parquet(self.changes_dir)
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", ckpt_dir)
            .queryName(qkey)
            .start()
        )
        self.queries[qkey] = query
        return query

    def process_available(self) -> None:
        if self.bridge is not None:
            self.bridge.drain()  # land buffered notifications first
        for q in self.queries.values():
            q.processAllAvailable()

    def read_sink(
        self, lib_name: str, trigger: str, exactly_once: bool = True
    ) -> DataFrame:
        """Read a CDC trigger's sink. The fused executor-side append is
        at-least-once at task granularity (a retried task re-appends its
        part file — same contract as the stream runtime's sink);
        `exactly_once=True` collapses replays by `seq`, the change feed's
        idempotency key. Ties prefer the successful row: a record that
        errored once and succeeded on a task retry must resolve to 'ok'
        (status desc — 'ok' > 'error' lexicographically — matches the
        stream runtime's keep-latest-write semantics)."""
        from pyspark.sql.window import Window as W

        df = self.spark.read.parquet(
            os.path.join(self.work_dir, "cdc_sink", lib_name, trigger)
        )
        if not exactly_once:
            return df
        w = W.partitionBy("seq").orderBy(F.col("status").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def read_errors(self, lib_name: str, trigger: str) -> DataFrame:
        """CDC dead-letter view — parity with the stream runtime's
        read_errors (the reference surfaces last_error + counters
        identically for keyspace and stream triggers,
        keys_notifications.rs:113-208, so the recovery surface matches
        too). The CDC sink keeps every status, so the DLQ is the set of
        change records whose LATEST resolution is still 'error' after the
        exactly-once collapse (a record that errored once and succeeded on
        a task retry is not dead). Rows keep (seq, key, event) — seq is
        the change feed's idempotency key, so a fixed callback can re-run
        exactly the failed set. Empty/missing sink → empty DataFrame."""
        sink_dir = os.path.join(self.work_dir, "cdc_sink", lib_name, trigger)
        if not os.path.isdir(sink_dir) or not any(
            f.endswith(".parquet") for f in os.listdir(sink_dir)
        ):
            return self.spark.createDataFrame([], _CDC_RESULT_SCHEMA)
        return self.read_sink(lib_name, trigger, exactly_once=True).filter(
            F.col("status") == "error"
        )

    def replay_errors(
        self,
        lib_name: str,
        trigger: str,
        fn: Callable[[dict], Any] | None = None,
    ) -> dict[str, int]:
        """Re-run the CDC dead-letter queue: re-read exactly the failed
        change records from the FEED (the replayable system of record —
        DLQ rows carry identity, not payloads, and the event-time snapshot
        lives in the feed row), push them through `fn` (default: the
        trigger's current callback, i.e. whatever a library upgrade fixed
        it to), and append the results to the sink. No explicit DLQ swap
        is needed: the sink keeps every status and the exactly-once
        collapse prefers 'ok', so a replayed success retires its error row
        while a still-failing record stays dead. Feed rows trimmed away
        since the failure are reported as "unreplayable" and REMAIN in the
        DLQ view. Returns {"replayed", "ok", "still_failing",
        "unreplayable"}. Run while the trigger is stopped; stats shift
        replayed successes n_failed → n_success."""
        lib = self.engine._libraries[lib_name]
        spec = lib.keyspace_triggers[trigger]
        fn = fn or spec["fn"]
        if fn is None:
            raise ValueError(
                "replay needs a callback (declarative triggers do not "
                "produce per-record errors)"
            )
        sink_dir = os.path.join(self.work_dir, "cdc_sink", lib_name, trigger)
        failed = self.read_errors(lib_name, trigger).select("seq").distinct()
        n_failed = failed.count()
        if n_failed == 0:
            return {
                "replayed": 0,
                "ok": 0,
                "still_failing": 0,
                "unreplayable": 0,
            }
        feed = self.spark.read.schema(CHANGES_SCHEMA).parquet(
            self.changes_dir
        )
        src = feed.join(F.broadcast(failed), ["seq"], "left_semi")
        n_replayed = src.select("seq").distinct().count()
        n_unreplayable = n_failed - n_replayed
        processor = _make_cdc_partition_processor(
            fn,
            spec["on_trigger_fired"],
            sink_dir,
            acl_regex=self.engine.acl_read_regex(
                getattr(lib, "user", "default")
            ),
        )
        n_ok = n_err = 0
        for r in (
            src.repartition(
                self.spark.sparkContext.defaultParallelism, "key"
            )
            .sortWithinPartitions("key", "seq")
            .mapInPandas(processor, _CDC_RESULT_SCHEMA)
            .collect()
        ):
            if r["status"] == "stats":
                d = json.loads(r["result"])
                n_ok += d["ok"]
                n_err += d["err"]
        qkey = f"{lib_name}.{trigger}"
        with self._lock:
            if qkey in self.stats:
                self.stats[qkey].n_success += n_ok
                self.stats[qkey].n_failed = max(
                    0, self.stats[qkey].n_failed - n_ok
                )
        return {
            "replayed": n_replayed,
            "ok": n_ok,
            "still_failing": n_err,
            "unreplayable": n_unreplayable,
        }

    def stop_all(self) -> None:
        if self.bridge is not None:
            self.bridge.detach()
        for q in self.queries.values():
            try:
                q.stop()
            except Exception:
                pass
        self.queries.clear()

    def stop_library(self, lib_name: str) -> None:
        """Stop every query owned by one library and drop its stats (see
        _stop_owned)."""
        _stop_owned(self, lib_name)
