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

import functools
import json
import os
import re
import shutil
import threading
import time
import uuid
from concurrent import futures
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple

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

# the raw fixture `events` rows a spool holds when a source adapter
# (events_to_stream) turns them into the canonical shape
RAW_EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

_RESULT_SCHEMA = (
    "stream_key string, id bigint, id_ts timestamp, "
    "status string, result string, error string"
)

# what a processor job collects: one JSON counters row per task
_STATS_SCHEMA = "stats string"


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


def read_spool(
    spark: SparkSession,
    spool_dir: str,
    source_adapter: Callable[[DataFrame], DataFrame] | None = None,
    files_per_trigger: int = 8,
    streaming: bool = True,
) -> DataFrame:
    """A parquet spool in the canonical stream shape: raw `events` rows
    through `source_adapter` when one is given, canonical rows otherwise.
    `streaming=True` reads it as a file stream admitting at most
    `files_per_trigger` files per micro-batch; `streaming=False` is the
    batch view of the same files."""
    schema = RAW_EVENTS_SCHEMA if source_adapter is not None else STREAM_SCHEMA
    if streaming:
        reader = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", files_per_trigger
        )
    else:
        reader = spark.read.schema(schema)
    df = reader.parquet(spool_dir)
    return source_adapter(df) if source_adapter is not None else df


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
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(out_dir, name))


# ---------------------------------------------------------------------------
# the shared trigger skeleton: executor-side record loop, driver-side stats
# fold and settle, owner guard, replay and lifecycle
# ---------------------------------------------------------------------------


def _make_processor(
    fn: Callable[[dict], Any],
    acl_regex: str | None,
    records: Callable[[pd.DataFrame], tuple[dict, Any, Callable[[int], dict]]],
    open_sink: Callable[[], Any],
) -> Callable[[Any], Any]:
    """Build the executor-side processor both trigger runtimes run under
    mapInPandas, live and on replay.

    A runtime supplies its layout as two arguments:
      * `records(pdf)` turns one Arrow chunk into (the columns its sink
        keeps, the key each record's ACL check reads, `record(i)` — the
        dict handed to `fn`);
      * `open_sink()` makes the task's sink writer: `write(cols, status,
        result, error)` appends one chunk's rows, and `stats()` adds the
        layout's own per-task counters (the stream frontier and oldest
        event time) to the task's stats row.

    Errors follow reference semantics: a failing record records the error
    and progress does not halt (stream_reader.rs:368-371 — Nack sets
    last_error but does not halt progress). The owner's key permissions
    (`acl_regex`, resolved at batch-plan time) are checked per record, and
    a denial takes the same error path — counted failed, DLQ'd — exactly
    how the reference surfaces trigger ACL denials (stream_run_ctx.rs:
    144-153 → last_error + num_failed, processing continues).

    The SINK WRITE IS FUSED into this stage, once per Arrow chunk: peak
    worker memory stays one chunk no matter how large the partition, and
    the job's only OUTPUT is one stats row per task. A micro-batch is
    therefore ONE job collecting |tasks| tiny rows — no second write job,
    no CollectMetrics node. Delivery is at-least-once at task granularity
    (a retried task re-appends its file); read_sink(exactly_once=True)
    collapses replays by the layout's idempotency key."""
    acl_re = re.compile(acl_regex) if acl_regex is not None else None

    def process(batches: Any) -> Any:
        sink = open_sink()
        n_ok = n_err = 0
        an_error: str | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            cols, keys, record = records(pdf)
            n = len(keys)
            status = ["ok"] * n
            result: list = [None] * n
            error: list = [None] * n
            for i in range(n):
                try:
                    if acl_re is not None and acl_re.fullmatch(keys[i]) is None:
                        raise GearsError(
                            f"{NO_PERMISSIONS_MSG} ('{keys[i]}')"
                        )
                    res = fn(record(i))
                    if res is not None:
                        result[i] = json.dumps(res, default=str)
                    n_ok += 1
                except Exception as e:  # record error, keep going
                    status[i] = "error"
                    error[i] = f"{type(e).__name__}: {e}"
                    an_error = error[i]
                    n_err += 1
            sink.write(cols, status, result, error)
        stats = {"ok": n_ok, "err": n_err, "an_error": an_error}
        stats.update(sink.stats())
        yield pd.DataFrame({"stats": [json.dumps(stats)]})

    return process


@dataclass
class _BatchOutcome:
    """One micro-batch's (or one replay's) totals, as the Python path's
    stats rows or a declarative path's metrics report them."""

    ok: int = 0
    err: int = 0
    an_error: str | None = None
    oldest_us: int | None = None  # oldest event time processed
    frontier: dict[str, int] = field(default_factory=dict)
    deferred: int = 0


def _fold_stats(rows: list) -> _BatchOutcome:
    """Sum the per-task stats rows a processor job collected. Layouts that
    track no frontier or event time leave those keys out."""
    out = _BatchOutcome()
    for r in rows:
        d = json.loads(r["stats"])
        out.ok += d["ok"]
        out.err += d["err"]
        out.an_error = d["an_error"] or out.an_error
        oldest = d.get("oldest_us")
        if oldest is not None:
            out.oldest_us = (
                oldest if out.oldest_us is None else min(out.oldest_us, oldest)
            )
        for key, fid in d.get("frontier", {}).items():
            out.frontier[key] = max(out.frontier.get(key, -1), fid)
    return out


class _Replay(NamedTuple):
    """What a runtime's `_replay_plan` hands the shared replay: the source
    records to re-run (partitioned and ordered for the processor), the
    processor, the DLQ size, how many of its entries have no source row
    left, and a step to run after the processor (the stream DLQ swap)."""

    src: DataFrame
    processor: Callable[[Any], Any]
    n_failed: int
    n_unreplayable: int
    done: Callable[[], None]


class _TriggerRuntime:
    """What the stream and keyspace trigger runtimes share. Each subclass
    names its library registry (`trigger_kind`), its sink root and
    idempotency key, and its ACL-refusal wording; it supplies the record
    builder and sink writer to `_make_processor`, and its half of
    replay_errors as `_replay_plan(lib_name, trigger, spec, fn,
    acl_regex)`, which returns a _Replay, or None when the DLQ is empty."""

    trigger_kind: str  # the Library attribute holding this kind's specs
    _sink_root: str  # work_dir subdirectory of the per-trigger sinks
    _sink_schema: str  # the sink's columns, as every writer writes them
    _id_cols: tuple[str, ...]  # the sink's idempotency key
    _label: str  # how error messages name this kind of trigger
    _declarative_hint: str  # what a refused declarative owner should do

    def __init__(self, engine: GearsEngine, work_dir: str):
        self.engine = engine
        self.spark: SparkSession = engine.spark
        self.work_dir = work_dir
        self.stats: dict[str, TriggerStats] = {}
        self.queries: dict[str, StreamingQuery] = {}
        self._lock = threading.Lock()

    def _sink_dir(self, lib_name: str, trigger: str) -> str:
        return os.path.join(self.work_dir, self._sink_root, lib_name, trigger)

    def _guard_owner(
        self,
        qkey: str,
        owner: str,
        declarative: bool,
        stats: TriggerStats | None = None,
    ) -> None:
        """Refuse a declarative trigger whose library owner has restricted
        key permissions: a declarative pipeline writes every matched row as
        'ok' in one JVM pass, so there is no per-record error path to
        surface ACL denials through. Refusing beats silently widening the
        owner's permissions; a callback consumer gets per-record ACL
        semantics.

        Called at registration (no `stats`: nothing has started) and again
        at EVERY epoch with the trigger's `stats`, because a restriction
        applied to the owner while the trigger runs must take effect at
        the next read (the reference applies ACL at access time), not at
        the next trigger restart. The epoch refusal is recorded in
        stats.last_error so TFUNCTION LIST surfaces why the trigger
        stopped, and the raise TERMINATES the streaming query (a
        foreachBatch error is fatal to the query, not just the batch) —
        but the refused batch never commits, so after permissions are
        restored, start_trigger() resumes from the checkpoint with no
        records lost."""
        if not declarative or self.engine.acl_read_regex(owner) is None:
            return
        head = f"declarative {self._label} '{qkey}': library owner '{owner}'"
        if stats is None:
            raise GearsError(
                f"{head} has restricted key permissions; "
                f"{self._declarative_hint}"
            )
        msg = (
            f"{head} lost unrestricted key permissions while the trigger "
            "was running; query stopped — restart the trigger after "
            "restoring permissions (resumes from the checkpoint, no "
            "records lost)"
        )
        with self._lock:
            stats.last_error = msg
        raise GearsError(msg)

    def _run(self, df: DataFrame, processor: Callable[[Any], Any]) -> _BatchOutcome:
        """Run `processor` over `df` as ONE job and fold its stats rows."""
        return _fold_stats(df.mapInPandas(processor, _STATS_SCHEMA).collect())

    def _settle(self, stats: TriggerStats, out: _BatchOutcome) -> None:
        """Fold one micro-batch's outcome into its trigger's stats under
        the runtime lock (replay_errors' n_failed → n_success shift is the
        only other counter write).
        Consumer lag = now − the oldest record event time processed (the
        reference tracks lag per record, stream_reader.rs:127-135; the
        batch analog is the batch's oldest record)."""
        now_us = int(time.time() * 1_000_000)
        lag_us = now_us - out.oldest_us if out.oldest_us is not None else 0
        with self._lock:
            stats.n_batches += 1
            stats.n_records += out.ok + out.err
            stats.n_success += out.ok
            stats.n_failed += out.err
            stats.n_deferred += out.deferred
            stats.max_lag_us = max(stats.max_lag_us, lag_us)
            if out.err and out.an_error:
                stats.last_error = out.an_error
            for key, fid in out.frontier.items():
                stats.frontier[key] = max(stats.frontier.get(key, -1), fid)

    def trigger_stats(self, qkey: str) -> dict[str, Any] | None:
        """One trigger's TFUNCTION LIST vvv stats row (num_trigger/success/
        failed, last_error, lag — function_list_command.rs:159-300), read
        under the runtime lock; None if the trigger never started here."""
        with self._lock:
            st = self.stats.get(qkey)
            if st is None:
                return None
            return {
                "n_batches": st.n_batches,
                "n_records": st.n_records,
                "n_success": st.n_success,
                "n_failed": st.n_failed,
                "n_deferred": st.n_deferred,
                "last_error": st.last_error,
                "n_streams": len(st.frontier),
                "max_lag_us": st.max_lag_us,
            }

    def read_sink(
        self, lib_name: str, trigger: str, exactly_once: bool = True
    ) -> DataFrame:
        """Read a trigger's processed-record sink.

        The sink itself is append-only: the fused executor-side append is
        at-least-once at task granularity (a retried task re-appends its
        part file), and across restarts the reference has the same
        contract — it replays from the last replicated acked frontier on
        failover (Stream_Triggers.md:182-184). `exactly_once=True`
        collapses the copies of one record to one row over the sink's
        idempotency key — (stream_key, id) for a stream trigger, `seq`
        for a keyspace trigger — the documented end-to-end exactly-once
        read. Copies of one record rank by status, 'ok' first ('ok' >
        'error' lexicographically), so a keyspace record that errored once
        and succeeded on a task retry resolves to 'ok'. A stream sink
        holds only 'ok' rows, all with the record's own id_ts, so which
        copy survives is arbitrary: copies differ only when the callback
        is not deterministic. One shuffle on the key. A started trigger
        with no committed batch yet reads as an empty frame."""
        from pyspark.sql.window import Window as W

        df = self.spark.read.schema(self._sink_schema).parquet(
            self._sink_dir(lib_name, trigger)
        )
        if not exactly_once:
            return df
        w = W.partitionBy(*self._id_cols).orderBy(F.col("status").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def replay_errors(
        self,
        lib_name: str,
        trigger: str,
        fn: Callable[[dict], Any] | None = None,
    ) -> dict[str, int]:
        """Re-run a trigger's dead-letter queue: re-read exactly the failed
        records from the SOURCE (the DLQ rows carry identity, not payloads
        — and the source is the replayable system of record), push them
        through `fn` (default: the trigger's current callback, i.e.
        whatever a library upgrade fixed it to) and append the results to
        the sink. DLQ entries whose source records are gone (retention
        trimmed past them) are reported as "unreplayable" and stay in the
        DLQ, never silently dropped. Returns {"replayed", "ok",
        "still_failing", "unreplayable"}.

        Run while the trigger is stopped. Failed records ARE acked
        (error-does-not-halt), so retention can trim their source rows;
        replay before trimming to keep unreplayable at 0. Stats shift
        accordingly: replayed successes move n_failed → n_success."""
        with self.engine._lock:
            lib = self.engine._libraries.get(lib_name)
            if lib is None:
                raise GearsError(f"unknown library '{lib_name}'")
            spec = getattr(lib, self.trigger_kind).get(trigger)
            if spec is None:
                raise GearsError(f"unknown {self._label} '{lib_name}.{trigger}'")
        fn = fn or spec["fn"]
        if fn is None:
            raise ValueError(
                "replay needs a callback (declarative triggers do not "
                "produce per-record errors)"
            )
        plan = self._replay_plan(
            lib_name,
            trigger,
            spec,
            fn,
            self.engine.acl_read_regex(getattr(lib, "user", "default")),
        )
        if plan is None:
            return dict.fromkeys(
                ("replayed", "ok", "still_failing", "unreplayable"), 0
            )
        out = self._run(plan.src, plan.processor)
        plan.done()
        with self._lock:
            st = self.stats.get(f"{lib_name}.{trigger}")
            if st is not None:
                st.n_success += out.ok
                st.n_failed = max(0, st.n_failed - out.ok)
        return {
            "replayed": plan.n_failed - plan.n_unreplayable,
            "ok": out.ok,
            "still_failing": out.err,
            "unreplayable": plan.n_unreplayable,
        }

    def process_available(self) -> None:
        """Drain everything currently in the source (test/batch-drive mode)."""
        for q in self.queries.values():
            q.processAllAvailable()

    def stop_all(self) -> None:
        for q in self.queries.values():
            try:
                q.stop()
            except Exception:
                pass
        self.queries.clear()

    def stop_library(self, lib_name: str) -> None:
        """Stop every query owned by one library AND drop its stats
        (TFUNCTION DELETE / fatal Kill unload the whole library, triggers
        included). Dropping the stats matters as much as the stop: a
        removed consumer must not pin the retention min-frontier (the
        reference removes the consumer from trim accounting on unload,
        stream_reader.rs:60-110 trims to the slowest LIVE consumer)."""
        owned = f"{lib_name}."
        for k in [k for k in self.queries if k.startswith(owned)]:
            try:
                self.queries.pop(k).stop()
            except Exception:
                pass
        with self._lock:
            for k in [k for k in self.stats if k.startswith(owned)]:
                del self.stats[k]


# ---------------------------------------------------------------------------
# stream triggers
# ---------------------------------------------------------------------------


def _stream_records(pdf: pd.DataFrame) -> tuple[dict, Any, Callable[[int], dict]]:
    """The stream layout's record builder (see _make_processor).

    Column-wise extraction: to_dict('records') costs ~3x the callback
    itself at steady state. tolist() (not to_numpy) for id/id_ts keeps the
    callback API stable: callbacks receive native int and pd.Timestamp,
    never np.int64/np.datetime64 (a datetime64 has no .hour, and np.int64
    results would JSON-serialize as strings via default=str)."""
    keys = pdf["stream_key"].to_numpy()
    ids = pdf["id"].tolist()
    idts = pdf["id_ts"].tolist()
    fmaps = pdf["fields"].to_numpy()
    precs = pdf["record"].to_numpy()

    def record(i: int) -> dict:
        # `record`: ordered (field, value) pairs, duplicates legal
        # (Stream_Triggers.md:78); `fields`: last-wins map view
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
        return {
            "stream_key": keys[i],
            "id": ids[i],
            "id_ts": idts[i],
            "fields": fields,
            "record": pairs,
        }

    return {"stream_key": keys, "id": ids, "id_ts": idts}, keys, record


class _StreamSink:
    """One task's stream-layout writer: ok rows to `sink_dir`, error rows
    to `err_dir` (the DLQ), one part file per Arrow chunk and directory
    (uuid part names make several files per task harmless; compact_sink()
    bounds the file count later). Its stats carry the acked frontier per
    key and the oldest event time, for retention and lag."""

    def __init__(self, sink_dir: str, err_dir: str):
        self.sink_dir = sink_dir
        self.err_dir = err_dir
        self.schema = _arrow_result_schema()
        self.frontier: dict[str, int] = {}
        self.oldest = None

    def write(self, cols: dict, status: list, result: list, error: list) -> None:
        # input arrives sorted by (stream_key, id): a plain last-write is
        # the running max per key
        self.frontier.update(zip(cols["stream_key"], cols["id"]))
        ts_vals = [t for t in cols["id_ts"] if t is not None]
        if ts_vals:
            lo = min(ts_vals)
            self.oldest = lo if self.oldest is None else min(self.oldest, lo)
        chunk = pd.DataFrame(
            {**cols, "status": status, "result": result, "error": error}
        )
        ok_mask = chunk["status"] == "ok"
        if ok_mask.any():
            _write_parquet_part(chunk[ok_mask], self.sink_dir, self.schema)
        if not ok_mask.all():
            _write_parquet_part(chunk[~ok_mask], self.err_dir, self.schema)

    def stats(self) -> dict:
        return {
            "frontier": self.frontier,
            "oldest_us": (
                int(self.oldest.value // 1000) if self.oldest is not None else None
            ),
        }


class StreamTriggerRuntime(_TriggerRuntime):
    """Owns the streaming queries for a library's triggers (the analog of
    the reference's StreamReaderCtx consumer tracking,
    stream_reader.rs:54-58)."""

    trigger_kind = "stream_triggers"
    _sink_root = "sink"
    _sink_schema = _RESULT_SCHEMA
    _id_cols = ("stream_key", "id")
    _label = "trigger"
    _declarative_hint = (
        "declarative pipelines need an unrestricted owner — use a callback "
        "consumer"
    )

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
        super().__init__(engine, work_dir)
        self.spool_dir = spool_dir
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
        whose inputFiles() is empty. Every 10th batch's log is compacted
        into `<batchId>.compact`, which lists every file since the start,
        each with its `batchId`; only this batch's entries count. Reading
        the log is a driver-side file read, not a Spark job. Falls back to
        defaultParallelism when the log or the files are missing
        (non-file sources, remote FS)."""
        default = self.spark.sparkContext.defaultParallelism
        try:
            from urllib.parse import urlparse

            # bounded-window triggers union a respool file source, which
            # logs under sources/1 — sum every source's log for the batch
            # so respool-heavy batches are sized by their true volume
            src_root = os.path.join(ckpt_dir, "sources")
            logs = [
                os.path.join(src_root, i, str(epoch_id)) + suffix
                for i in sorted(os.listdir(src_root))
                for suffix in ("", ".compact")
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
                            # a compact log's earlier entries may name
                            # files that retention has since removed
                            if entry.get("batchId", epoch_id) != epoch_id:
                                continue
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
        self,
        respool_dir: str | None = None,
        base_override: str | None = None,
        streaming: bool = True,
    ) -> DataFrame:
        """Build the trigger's source; `streaming=False` is the batch view
        of the same records (the replay path's system-of-record read).

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
        reader = self.spark.readStream if streaming else self.spark.read
        if base_override is not None:
            # already-canonical intermediate (async-mode queue): no
            # maxFilesPerTrigger cap — the ingest query already paces the
            # queue, so capping here only fragments the worker into many
            # small micro-batches (each paying the fixed foreachBatch cost)
            # while ingest is still landing files
            base = reader.schema(STREAM_SCHEMA).parquet(base_override)
        elif self.source_format == "commandlog":
            # AOF tail — emits the canonical shape directly, including
            # the ordered `record` pairs when a line carries duplicate
            # field names (STREAM_SCHEMA fidelity contract)
            base = (
                reader.format("gears_commandlog")
                .option("path", self.spool_dir)
                .load()
            )
        elif self.source_format == "redis":
            # live-server tail — canonical shape, per-key last-id offsets
            base = (
                reader.format("gears_redis")
                .options(**self.source_options)
                .load()
            )
        else:
            base = read_spool(
                self.spark,
                self.spool_dir,
                self.source_adapter,
                self._files_per_trigger,
                streaming,
            )
        if respool_dir is not None:
            # this trigger's deferred records come back through its private
            # respool (already canonical shape); union keeps one query
            base = base.unionByName(read_spool(self.spark, respool_dir))
        return base

    # -- per-trigger query ---------------------------------------------------

    def start_trigger(self, lib: Library, name: str) -> StreamingQuery:
        spec = lib.stream_triggers[name]
        qkey = f"{lib.name}.{name}"
        stats = self.stats.setdefault(qkey, TriggerStats())
        sink_dir = self._sink_dir(lib.name, name)
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
        self._guard_owner(qkey, owner, declarative)
        open_sink = functools.partial(_StreamSink, sink_dir, err_dir)

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

            self._guard_owner(qkey, owner, declarative, stats)

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
                # full parallelism. A one-task batch needs no shuffle at
                # all: coalesce(1) gathers the scan into one partition and
                # the sort gives it the same (stream_key, id) order, so the
                # processor job runs as one stage instead of two
                nparts = self._python_stage_partitions(ckpt_dir, epoch_id)
                spread = (
                    matched.coalesce(1)
                    if nparts == 1
                    else matched.repartition(nparts, "stream_key")
                )
                admitted = spread.sortWithinPartitions("stream_key", "id")
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
                # query): the outcome's err is structurally 0.
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
                    out = _BatchOutcome(
                        ok=m["n_keys"],
                        oldest_us=m["oldest_us"],
                        frontier={
                            r["stream_key"]: r["id"] for r in m["frontiers"]
                        },
                    )
                else:
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
                    out = _BatchOutcome(
                        ok=sum(r["n"] for r in meta_rows),
                        oldest_us=min(
                            (r["oldest_us"] for r in meta_rows), default=None
                        ),
                        frontier={r["stream_key"]: r["id"] for r in meta_rows},
                    )
            else:
                # PYTHON path, ONE job per micro-batch (_make_processor).
                # mapInPandas over data hash-partitioned by stream_key and
                # sorted by (stream_key, id) within each partition: a whole
                # partition (many keys, large Arrow batches) costs ONE
                # Python call, instead of applyInPandas's one call per
                # key, while preserving exactly the per-key id order the
                # reference guarantees. At 100 TB this is the difference
                # between |keys| Python roundtrips and |cores|.
                out = self._run(
                    admitted,
                    _make_processor(
                        spec["fn"],
                        # resolved per micro-batch (event-time semantics:
                        # deleting/disabling the owner fails the NEXT
                        # batch's records, testAclUserDeleted...)
                        self.engine.acl_read_regex(owner),
                        _stream_records,
                        open_sink,
                    ),
                )
            out.deferred = int(obs_gate.get["deferred"]) if obs_gate else 0
            if out.deferred:
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
            self._settle(stats, out)

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

    # -- sink reads ----------------------------------------------------------

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

    def _replay_plan(self, lib_name, trigger, spec, fn, acl_regex):
        """Stream layout: ok results append to the sink, and the DLQ is
        REPLACED by the still-failing rows PLUS the unreplayable entries,
        which are carried over before processing."""
        err_dir = os.path.join(self.work_dir, "errors", lib_name, trigger)
        errs = self.read_errors(lib_name, trigger)
        failed = errs.select("stream_key", "id").distinct()
        n_failed = failed.count()
        if n_failed == 0:
            return None
        src = self._source(streaming=False).join(
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

        def swap() -> None:
            # the DLQ now holds still-failing + unreplayable rows
            shutil.rmtree(err_dir, ignore_errors=True)
            os.replace(tmp_err, err_dir)

        return _Replay(
            src.repartition(
                self.spark.sparkContext.defaultParallelism, "stream_key"
            ).sortWithinPartitions("stream_key", "id"),
            _make_processor(
                fn,
                acl_regex,
                _stream_records,
                functools.partial(
                    _StreamSink, self._sink_dir(lib_name, trigger), tmp_err
                ),
            ),
            n_failed,
            n_unreplayable,
            swap,
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

        sink = self._sink_dir(lib_name, trigger)
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
            self.spark.read.schema(_RESULT_SCHEMA)
            .parquet(*old_files)
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
            sink = self._sink_dir(lib_name, trig)
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
        with self._lock:
            per_consumer = [dict(s.frontier) for s in self.stats.values()]
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


def _cdc_records(on_fired: Callable[[dict], Any] | None):
    """The CDC layout's record builder (see _make_processor): change
    records in seq order, each with its event-time snapshot and, when the
    trigger has one, the onTriggerFired view of it."""

    def records(pdf: pd.DataFrame) -> tuple[dict, Any, Callable[[int], dict]]:
        pdf = pdf.sort_values("seq")
        # tolist() for seq/ts: callbacks receive native int and
        # pd.Timestamp, never numpy scalars (API stability — see
        # _stream_records)
        seqs = pdf["seq"].tolist()
        keys = pdf["key"].to_numpy()
        events = pdf["event"].to_numpy()
        tss = pdf["ts"].tolist()
        snaps = pdf["snapshot"].to_numpy()

        def record(i: int) -> dict:
            snap = snaps[i]
            data = {
                "event": events[i],
                "key": keys[i],
                "ts": tss[i],
                # event-time snapshot (onTriggerFired stage): values
                # captured when the event was produced
                "snapshot": dict(snap) if snap is not None else {},
            }
            if on_fired is not None:
                data["snapshot_view"] = on_fired(data)
            return data

        return {"seq": seqs, "key": keys, "event": events}, keys, record

    return records


class _CdcSink:
    """One task's CDC-layout writer: ALL result rows (the CDC sink keeps
    every status) to `sink_dir`, one part file per Arrow chunk."""

    def __init__(self, sink_dir: str):
        self.sink_dir = sink_dir
        self.schema = _arrow_cdc_schema()

    def write(self, cols: dict, status: list, result: list, error: list) -> None:
        _write_parquet_part(
            pd.DataFrame(
                {**cols, "status": status, "result": result, "error": error}
            ),
            self.sink_dir,
            self.schema,
        )

    def stats(self) -> dict:
        return {}


class KeyspaceTriggerRuntime(_TriggerRuntime):
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

    trigger_kind = "keyspace_triggers"
    _sink_root = "cdc_sink"
    _sink_schema = _CDC_RESULT_SCHEMA
    _id_cols = ("seq",)
    _label = "keyspace trigger"
    _declarative_hint = "use a callback consumer"

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
        super().__init__(engine, work_dir)
        self.changes_dir = changes_dir
        # the feed may legitimately be empty at trigger start (live mode:
        # no notification has fired yet) — the file source needs the dir
        os.makedirs(changes_dir, exist_ok=True)
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
        sink_dir = self._sink_dir(lib.name, name)
        ckpt_dir = os.path.join(self.work_dir, "cdc_ckpt", lib.name, name)
        os.makedirs(sink_dir, exist_ok=True)

        prefix = spec["prefix"]
        expr = spec.get("expr")
        records = _cdc_records(spec["on_trigger_fired"])
        open_sink = functools.partial(_CdcSink, sink_dir)
        owner = getattr(lib, "user", "default")
        self._guard_owner(qkey, owner, expr is not None)

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
            self._guard_owner(qkey, owner, expr is not None, stats)
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
                out = _BatchOutcome(
                    ok=m["ok"] or 0, err=m["err"] or 0, an_error=m["an_error"]
                )
            else:
                # python path: fused executor-side sink write, the owner's
                # ACL resolved per micro-batch
                out = self._run(
                    matched,
                    _make_processor(
                        spec["fn"],
                        self.engine.acl_read_regex(owner),
                        records,
                        open_sink,
                    ),
                )
            self._settle(stats, out)

        query = (
            self.spark.readStream.schema(CHANGES_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .parquet(self.changes_dir)
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", ckpt_dir)
            # a stream trigger of the same name runs as `qkey`; Spark
            # refuses two active queries with one name
            .queryName(f"{qkey}__keyspace")
            .start()
        )
        self.queries[qkey] = query
        return query

    def process_available(self) -> None:
        if self.bridge is not None:
            self.bridge.drain()  # land buffered notifications first
        super().process_available()

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
        if not os.path.isdir(self._sink_dir(lib_name, trigger)):
            return self.spark.createDataFrame([], _CDC_RESULT_SCHEMA)
        return self.read_sink(lib_name, trigger, exactly_once=True).filter(
            F.col("status") == "error"
        )

    def _replay_plan(self, lib_name, trigger, spec, fn, acl_regex):
        """CDC layout: failed records re-read from the FEED (the event-time
        snapshot lives in the feed row), results appended to the sink. No
        DLQ swap is needed: the sink keeps every status and the
        exactly-once collapse prefers 'ok', so a replayed success retires
        its error row while a still-failing record stays dead."""
        failed = self.read_errors(lib_name, trigger).select("seq").distinct()
        n_failed = failed.count()
        if n_failed == 0:
            return None
        feed = self.spark.read.schema(CHANGES_SCHEMA).parquet(
            self.changes_dir
        )
        src = feed.join(F.broadcast(failed), ["seq"], "left_semi")
        n_replayed = src.select("seq").distinct().count()
        return _Replay(
            src.repartition(
                self.spark.sparkContext.defaultParallelism, "key"
            ).sortWithinPartitions("key", "seq"),
            _make_processor(
                fn,
                acl_regex,
                _cdc_records(spec["on_trigger_fired"]),
                functools.partial(_CdcSink, self._sink_dir(lib_name, trigger)),
            ),
            n_failed,
            n_failed - n_replayed,
            lambda: None,
        )

    def stop_all(self) -> None:
        if self.bridge is not None:
            self.bridge.detach()
        super().stop_all()
