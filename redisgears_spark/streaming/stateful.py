"""Stateful per-key stream processing — the reference's per-consumer state
(ConsumerInfo: records_processed, last_read_id, lag totals —
redisgears_core/src/stream_reader.rs:112-150) re-created as a Structured
Streaming stateful operator (SURVEY §7 milestone-2's transformWithState
design).

Where triggers.py processes each micro-batch statelessly and keeps counters
on the driver, this runtime keeps the counters IN the state store: per
stream_key running totals survive across micro-batches and restarts via the
checkpoint, exactly like the reference's replicated last-read-id frontier
(stream_reader.rs:351-363) — but with Spark's WAL doing the replication.

Lifecycle parity:
  * stream deletion (reference lib.rs:1521-1530: `del` of a tracked stream
    drops its consumers' state) → a control record (`__ctl__ = 'del'`)
    removes the key's state;
  * FLUSHALL (lib.rs:1627-1640: clears stream info, keeps registrations) →
    ``flush()`` deletes checkpoints + state, library registry untouched.

Scale: state is hash-partitioned by stream_key across executors; each key's
state is O(1) (a handful of counters), so total state = O(|live keys|),
evictable per key via the deletion path.

Every stateful runtime — the ten here plus vocab.py, dedupindex.py and
ann.py — is a `_StatefulRuntime`: it declares its directory stem, query
name, schemas, group column and refusal messages, and supplies a
`_reducer()` (plus a `_router()` when its keys are buckets). The query
wiring, the sink, compaction and the lifecycle exist once, on the skeleton.

API choice: Spark 4.1's newer `transformWithStateInPandas` was evaluated
and is unavailable in this environment (its driver worker requires the
`protobuf` Python package); `applyInPandasWithState` provides the same
per-key state + checkpoint semantics with no extra dependency.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from redisgears_spark.engine import GearsEngine, GearsError

_CTL_FIELD = "__ctl__"
_CTL_DELETE = "del"


def _ordered_frame(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """Concatenate a group's Arrow chunks and sort ONCE by id.

    applyInPandasWithState guarantees nothing about the relative order
    of the chunks it hands a reducer (a key spanning multiple Arrow
    batches, or spool part-files with interleaved id ranges, arrive in
    file/batch order) — sorting each chunk individually, as an earlier
    version did, processed records out of id order across chunks and
    corrupted order-sensitive state (reproduced: a sessionizer fed
    [50,51] then [1,2,3] persisted start=50 > end=3 and missed the gap
    close). Every reducer below funnels through this."""
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return pd.DataFrame(columns=["id"])
    return pd.concat(frames, ignore_index=True).sort_values(
        "id", kind="mergesort"
    )


class _StatefulRuntime:
    """One applyInPandasWithState query over a stream spool: the shared
    skeleton of every stateful runtime.

    A runtime declares the class attributes below and a `_reducer()`;
    the skeleton owns the constructor, the `<stem>_ckpt`/`<stem>_sink`
    directories, the query wiring, the epoch-stamped sink, compaction,
    FLUSHALL and the lifecycle. Read APIs stay on the runtimes."""

    # <work_dir>/<stem>_ckpt and <stem>_sink. A renamed stem would
    # silently start an empty checkpoint (pinned by test).
    _STEM: str
    _QUERY_NAME: str
    _OUTPUT_SCHEMA: str
    _STATE_SCHEMA: str
    # the state key, and so the sink's key column: update mode emits one
    # row per touched key per epoch, so "latest per key" is the live
    # snapshot. Bucket-routed runtimes key on their bucket/cell column.
    _GROUP = "stream_key"
    # the router's output schema, for runtimes that define `_router()`
    _ROUTED_SCHEMA: str
    # event-log sinks (sessionize, rate-limit, CUSUM, bloom-dedup) append
    # one row per closed session / per record: every row IS history, the
    # sink is already O(events), and latest-per-key compaction would
    # silently destroy it — those runtimes set this True and
    # compact_sink() refuses (same fail-loud pattern as their latest()).
    _SINK_EVENT_LOG = False
    # why latest() / expire_idle() do not apply, naming the runtime's own
    # read API — only the stats runtime has a per-key stats snapshot
    _NO_LATEST: str
    _NO_EXPIRY: str

    def __init__(self, engine: GearsEngine, spool_dir: str, work_dir: str,
                 source_adapter=None, files_per_trigger: int | None = None):
        self.engine = engine
        self.spark: SparkSession = engine.spark
        self.spool_dir = spool_dir
        self.work_dir = work_dir
        self.source_adapter = source_adapter
        # micro-batch chunking: files admitted per trigger. Default 8
        # (the historical contract every runtime test pins). The
        # registered streamed twins raise it together with a wider
        # spool so the ROUTER stage runs at full core count — a
        # file-stream batch plans one task per file, so an 8-file spool
        # capped the Arrow router at 8-way parallelism on 32 cores.
        # `None` means the default; an explicit 0 is a caller bug and
        # refused loudly rather than silently coerced to 8.
        if files_per_trigger is not None and files_per_trigger < 1:
            raise ValueError(
                f"files_per_trigger must be >= 1, got {files_per_trigger}"
            )
        self.files_per_trigger = (
            8 if files_per_trigger is None else files_per_trigger
        )
        self.query: StreamingQuery | None = None
        # wall-clock of each committed epoch, for idle-key expiry
        self._epoch_seen: dict[int, float] = {}

    @property
    def _ckpt_dir(self) -> str:
        return os.path.join(self.work_dir, f"{self._STEM}_ckpt")

    @property
    def sink_dir(self) -> str:
        return os.path.join(self.work_dir, f"{self._STEM}_sink")

    def _reducer(self) -> Callable:
        """The per-group applyInPandasWithState function."""
        raise NotImplementedError

    def _router(self) -> Callable | None:
        """An optional mapInPandas kernel over (id, fields) that emits
        `_ROUTED_SCHEMA` rows keyed by `_GROUP` — bucket-routed runtimes
        scatter each record into a bounded key space before the state
        stage."""
        return None

    # ---- state-shuffle width (r14, guide §2.2) --------------------------
    #
    # A stateful micro-batch plans `spark.sql.shuffle.partitions` state
    # tasks — each paying a state-store open/commit, a Python worker
    # round-trip and a sink file, REGARDLESS of data volume. At
    # core-count width those fixed costs dominate dimension-sized
    # replays: the r13 driver measured every streamed twin FASTER at 8
    # cores than at 32 (dedup_incremental_streamed 3.1 s @8 vs 4.4 s
    # @32) because 32-core sessions planned 32 near-empty state tasks.
    # Width is therefore derived from the BYTES the query will ingest —
    # one state task per _STATE_TASK_INPUT_BYTES of spool, clamped to
    # [1, defaultParallelism] — so a small replay runs a handful of
    # state tasks while corpus-scale ingest still fans out to every
    # core. The partition count never changes results (state is keyed;
    # the bit-equality suites pin streamed == batch), and it is pinned
    # per checkpoint, so one invocation's width cannot leak to another.
    #
    # A second cap: a runtime with a BOUNDED key space (the bucketed
    # index runtimes — 64 shingle buckets, 32 word-freq buckets, 16 IVF
    # cells) can never use more state tasks than keys; partitions past
    # that open a store, commit an empty delta and write an empty sink
    # file for nothing. Subclasses with bounded keys set _state_key_cap.
    _STATE_TASK_INPUT_BYTES = 64 * 1024
    _state_key_cap: int | None = None

    def _spool_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.spool_dir):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    def _state_partitions(self) -> int:
        want = -(-self._spool_bytes() // self._STATE_TASK_INPUT_BYTES)  # ceil div
        cap = self.spark.sparkContext.defaultParallelism
        if self._state_key_cap is not None:
            cap = min(cap, self._state_key_cap)
        return max(1, min(cap, want))

    @contextlib.contextmanager
    def _sized_state_shuffle(self):
        """Pin spark.sql.shuffle.partitions to the bytes-derived state
        width for the duration of query start. Structured Streaming
        clones the session when the query starts (every batch plans on
        the clone) and records the partition count in the checkpoint's
        first offset entry, so restoring the session conf right after
        .start() returns cannot race the stream (pinned by
        tests/test_streaming_dedup.py's width test)."""
        conf = self.spark.conf
        prev = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(self._state_partitions()))
        try:
            yield
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)

    def _source(self) -> DataFrame:
        from redisgears_spark.streaming.triggers import read_spool

        return read_spool(
            self.spark, self.spool_dir, self.source_adapter,
            self.files_per_trigger,
        )

    def _start_stateful(self, prefix: str = "") -> StreamingQuery:
        """The one query shape of every stateful runtime: prefix filter
        on stream_key, the optional `_router()` mapInPandas, then
        `_reducer()` per `_GROUP` key through applyInPandasWithState in
        update mode, into an epoch-stamped parquet sink, checkpointed
        under `_ckpt_dir` at the bytes-derived state width. Runtimes
        differ only in the class attributes and `_reducer`/`_router`.
        The sink also stamps each committed epoch's wall clock, which
        idle-key expiry reads."""
        src = self._source()
        if prefix:
            src = src.filter(F.col("stream_key").startswith(prefix))
        router = self._router()
        if router is not None:
            src = src.select("id", "fields").mapInPandas(
                router, self._ROUTED_SCHEMA
            )
        out = src.groupBy(self._GROUP).applyInPandasWithState(
            self._reducer(),
            self._OUTPUT_SCHEMA,
            self._STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
        os.makedirs(self.sink_dir, exist_ok=True)

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(self.sink_dir)
            self._epoch_seen[epoch_id] = time.time()

        with self._sized_state_shuffle():
            self.query = (
                out.writeStream.foreachBatch(sink)
                .option("checkpointLocation", self._ckpt_dir)
                .outputMode("update")
                .queryName(self._QUERY_NAME)
                .start()
            )
        return self.query

    def start(self, prefix: str = "") -> StreamingQuery:
        return self._start_stateful(prefix)

    def _sink_df(self) -> DataFrame | None:
        """The epoch-stamped sink as a DataFrame, or None before the
        first committed batch. Read with the schema it was written with
        (`F.lit(epoch_id)` writes an int), so a read starts no Spark
        job to infer it."""
        if not glob.glob(os.path.join(self.sink_dir, "*.parquet")):
            return None
        return self.spark.read.schema(
            f"{self._OUTPUT_SCHEMA}, epoch int"
        ).parquet(self.sink_dir)

    def _append_tombstones(self, rows: list[tuple[str, int]]) -> None:
        """Append one `del` control record per (stream_key, id) to the
        spool — the deferred-job pattern expiry and force-close share;
        drain the query to apply."""
        from redisgears_spark.streaming.triggers import STREAM_SCHEMA

        pdf = pd.DataFrame(
            [
                {
                    "stream_key": key,
                    "id": rec_id,
                    "id_ts": pd.Timestamp("2024-01-01"),
                    "fields": {_CTL_FIELD: _CTL_DELETE},
                    "record": None,
                }
                for key, rec_id in rows
            ]
        )
        self.spark.createDataFrame(pdf, STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.spool_dir)

    def latest(self) -> dict[str, dict]:
        raise GearsError(self._NO_LATEST)

    def expire_idle(self, ttl_seconds: float) -> list[str]:
        raise GearsError(self._NO_EXPIRY)

    def process_available(self) -> None:
        if self.query is not None:
            self.query.processAllAvailable()

    def stop(self) -> None:
        if self.query is not None:
            try:
                self.query.stop()
            except Exception:
                pass
            self.query = None

    # -- sink compaction (the trim/maintain() discipline, retention.py) ------

    def compact_sink(self) -> int:
        """Rewrite the sink to only the LATEST-epoch rows per key —
        the maintenance step that bounds sink growth at O(state) instead
        of O(epochs × state) (update mode re-emits a key's full snapshot
        every epoch it changes, so superseded epochs are dead weight).
        Run it under the same maintenance cadence as stream trim
        (retention.apply_retention) — the reference also defers
        trim/expiry to post-notification maintenance rather than doing
        it inline.

        A key's snapshot may span several rows in one epoch (the
        heavy-hitters top-k emits one row per rank), so compaction keeps
        EVERY row of the key's highest epoch (left-semi join on the
        per-key max), never a single max_by row — lossless for single-
        and multi-row snapshots alike. Event-log runtimes (sessionize,
        rate-limit, CUSUM, bloom-dedup) have nothing compactable — every
        row is history — and refuse loudly instead.

        The retained rows keep their ORIGINAL epoch numbers, and
        checkpointed epoch ids are monotonic across restarts, so rows
        appended after a compaction still supersede compacted ones in
        every latest-per-key read. Requires the query to be stopped
        (the sink directory is swapped atomically underneath the
        readers). Returns the row count after compaction."""
        if self._SINK_EVENT_LOG:
            raise GearsError(
                f"{type(self).__name__} sink is an event log (one row "
                "per event, no superseded snapshots) — latest-per-key "
                "compaction would destroy history; bound growth with "
                "expiry/trim of the SOURCE instead"
            )
        if self.query is not None:
            raise GearsError(
                "compact_sink requires the streaming query to be "
                "stopped — stop() first, compact, then start() resumes "
                "from the checkpoint"
            )
        df = self._sink_df()
        if df is None:
            return 0
        maxe = df.groupBy(self._GROUP).agg(F.max("epoch").alias("epoch"))
        latest = df.join(maxe, [self._GROUP, "epoch"], "left_semi")
        tmp = self.sink_dir + "_compacting"
        shutil.rmtree(tmp, ignore_errors=True)
        # the write materializes `latest` fully before the swap deletes
        # its input files
        latest.coalesce(8).write.parquet(tmp)
        shutil.rmtree(self.sink_dir)
        os.rename(tmp, self.sink_dir)
        return self._sink_df().count()

    # -- FLUSHALL (lib.rs:1627-1640): drop stream state, keep registry -------

    def flush(self) -> None:
        """Clear all streaming state (checkpoints + sink), keep the engine
        registry intact — the FLUSHALL contract: consumers restart from a
        clean slate, registrations survive."""
        self.stop()
        for d in (self._ckpt_dir, self.sink_dir):
            shutil.rmtree(d, ignore_errors=True)


def _running_stats(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-stream-key reducer: exact-integer running totals, id-ordered.

    A `del` control record drops the key's state (stream-deletion
    semantics); records after the tombstone in the same batch start a
    fresh epoch, matching the reference where a re-created stream is a new
    tracked stream (stream_reader.rs:511-524).

    NOTE on timers: GroupStateTimeout.ProcessingTimeTimeout was tried for
    TTL expiry and reverted — with registered timers the micro-batch engine
    keeps scheduling no-data batches and `processAllAvailable()` never
    returns (busy loop observed: hundreds of empty batches). Expiry is
    instead driven by `StatefulStatsRuntime.expire_idle`, which emits the
    same `del` tombstones — the reference likewise runs expiry/trim as
    deferred jobs, not inline (lib.rs:1510-1530 post-notification jobs).
    """
    (stream_key,) = key
    if state.exists:
        n, cents, last_id = state.get
    else:
        n, cents, last_id = 0, 0, -1

    deleted = False
    for rec in _ordered_frame(pdfs).to_dict("records"):
        fields = dict(rec["fields"]) if rec["fields"] is not None else {}
        pairs = rec.get("record")
        if not fields and pairs is not None and len(pairs):
            fields = {p["field"]: p["value"] for p in pairs}
        if fields.get(_CTL_FIELD) == _CTL_DELETE:
            n, cents, last_id = 0, 0, -1
            deleted = True
            continue
        deleted = False
        n += 1
        # exact integer accumulation (same discipline as functions.exact)
        v = fields.get("value")
        if v is not None:
            cents += int(round(float(v) * 100))
        last_id = max(last_id, rec["id"])

    if deleted and n == 0:
        state.remove()
    else:
        state.update((n, cents, last_id))
    yield pd.DataFrame(
        [
            {
                "stream_key": stream_key,
                "n_records": n,
                "value_cents_total": cents,
                "last_id": last_id,
                "deleted": deleted and n == 0,
            }
        ]
    )



class StatefulStatsRuntime(_StatefulRuntime):
    """Owns the stateful running-stats query for a stream source — the
    one runtime whose sink is a per-key stats snapshot, so the only one
    with working latest()/expire_idle()."""

    _STEM = "stateful"
    _QUERY_NAME = "stateful_stats"
    # canonical stream shape (triggers.STREAM_SCHEMA) in, running stats out
    _OUTPUT_SCHEMA = (
        "stream_key string, n_records bigint, value_cents_total bigint, "
        "last_id bigint, deleted boolean"
    )
    _STATE_SCHEMA = "n_records bigint, value_cents_total bigint, last_id bigint"

    def _reducer(self) -> Callable:
        return _running_stats

    def latest(self) -> dict[str, dict]:
        """Most recent state snapshot per stream_key from the sink.

        The snapshot for a key is its row from the highest epoch (update
        mode emits one row per touched key per epoch). The reduction runs
        JVM-side — max_by over a struct keyed by epoch — so only one row
        per distinct key reaches the driver; the sink grows with epochs,
        the result does not."""
        df = self._sink_df()
        if df is None:
            return {}
        cols = [c for c in df.columns if c != "stream_key"]
        latest = df.groupBy("stream_key").agg(
            F.max_by(F.struct(*cols), F.col("epoch")).alias("s")
        )
        return {
            row["stream_key"]: {"stream_key": row["stream_key"], **row["s"].asDict()}
            for row in latest.collect()
        }

    # -- TTL expiry (expiry-driven events, KeySpace_Triggers.md:11-13) -------

    def expire_idle(self, ttl_seconds: float) -> list[str]:
        """Expire keys idle longer than `ttl_seconds`: emit a `del`
        tombstone per idle key into the spool, so the stateful operator
        drops their state through the normal deletion path and the sink
        records a final `deleted` snapshot. Run as a maintenance step (the
        reference also defers expiry/trim to post-notification jobs rather
        than doing it inline). Returns the expired keys; drain the query
        afterwards to apply."""
        now = time.time()
        rows = []
        for key, rec in self.latest().items():
            if rec["deleted"]:
                continue
            seen = self._epoch_seen.get(rec["epoch"])
            if seen is not None and now - seen > ttl_seconds:
                rows.append((key, rec["last_id"] + 1))
        if rows:
            self._append_tombstones(rows)
        return [key for key, _ in rows]


# ---------------------------------------------------------------------------
# streaming heavy hitters (round 6)
# ---------------------------------------------------------------------------

# the streaming twin of operators/text.py's batch two-phase Misra-Gries
# (text_heavy_hitters): same summary structure, but the counters LIVE in
# the state store and survive micro-batches and restarts via the
# checkpoint. MG guarantee carries over: after N records on a key, any
# item with true count > N/(cap+1) is present, and every estimate is
# within N/(cap+1) of truth.


def _make_hh_reducer(field: str, cap: int, topk: int):
    import json as _json

    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (stream_key,) = key
        if state.exists:
            mg_json, n_records = state.get
            counters: dict[str, int] = _json.loads(mg_json)
        else:
            counters, n_records = {}, 0
        frame = _ordered_frame(pdfs)
        for fields in (frame["fields"] if len(frame) else ()):
            item = None if fields is None else dict(fields).get(field)
            if item is None:
                continue
            n_records += 1
            if item in counters or len(counters) < cap:
                counters[item] = counters.get(item, 0) + 1
            else:
                # MG decrement step: charge one to every counter
                counters = {
                    k: v - 1 for k, v in counters.items() if v > 1
                }
        state.update((_json.dumps(counters), n_records))
        top = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
        yield pd.DataFrame(
            [
                {
                    "stream_key": stream_key,
                    "item": item,
                    "est_count": est,
                    "n_records": n_records,
                    "rank": i + 1,
                }
                for i, (item, est) in enumerate(top)
            ]
        )

    return reducer


class StreamingHeavyHittersRuntime(_StatefulRuntime):
    """Per-stream-key streaming heavy hitters: a Misra-Gries summary per
    key in the state store, the current top-k emitted every micro-batch.
    The batch two-phase MG (text_heavy_hitters) answers "top items ever";
    this answers "top items NOW, continuously, with bounded state" — the
    trending-values query RedisGears users build with per-key hashes and
    periodic sweeps, here with exactly-once state via the checkpoint.

    State per key is ≤ `cap` counters; total state O(|keys| * cap).
    """

    _STEM = "hh"  # separate checkpoint from the stats query
    _QUERY_NAME = "streaming_heavy_hitters"
    _OUTPUT_SCHEMA = (
        "stream_key string, item string, est_count bigint, "
        "n_records bigint, rank bigint"
    )
    # counters as a JSON object column — MG state is a bounded dict
    # (≤ cap entries), far below any state-store row limit
    _STATE_SCHEMA = "mg string, n_records bigint"
    _NO_LATEST = (
        "StreamingHeavyHittersRuntime has no per-key stats snapshot — "
        "use top() for the current top-k per stream_key"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the heavy-hitters runtime "
        "(its state is bounded Misra-Gries counters, not per-key "
        "stats with tombstones); stop()/flush() clear state"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        field: str = "event_type",
        cap: int = 50,
        topk: int = 10,
    ):
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.field = field
        self.cap = cap
        self.topk = topk

    def _reducer(self) -> Callable:
        return _make_hh_reducer(self.field, self.cap, self.topk)

    def top(self) -> dict[str, list[tuple[str, int]]]:
        """Latest top-k per stream_key: rows from each key's highest
        epoch, reduced JVM-side (max_by struct on epoch per rank)."""
        df = self._sink_df()
        if df is None:
            return {}
        latest = df.groupBy("stream_key", "rank").agg(
            F.max_by(
                F.struct("item", "est_count", "epoch"), F.col("epoch")
            ).alias("s")
        )
        mx = df.groupBy("stream_key").agg(F.max("epoch").alias("mx"))
        rows = (
            latest.join(mx, "stream_key")
            .filter(F.col("s.epoch") == F.col("mx"))
            .select("stream_key", "rank", "s.item", "s.est_count")
            .collect()
        )
        out: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["stream_key"], r["rank"])):
            out.setdefault(r["stream_key"], []).append(
                (r["item"], r["est_count"])
            )
        return out


# ---------------------------------------------------------------------------
# streaming sessionization (round 6)
# ---------------------------------------------------------------------------


def _make_sessionizer(gap: int):
    def sessionize(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-key gap sessionizer: a record more than `gap` id-units
        after the previous one closes the open session. Closed sessions
        are emitted exactly once (the open one stays in state, so
        results are append-final — no retraction). A `del` control
        record closes and emits the open session (`close_reason='del'`)
        and drops state — stream-deletion semantics, same control path
        as the stats reducer."""
        (stream_key,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed: list[dict] = []

        def close(reason: str) -> None:
            nonlocal start, last, n
            if n:
                closed.append(
                    {
                        "stream_key": stream_key,
                        "session_start_id": start,
                        "session_end_id": last,
                        "n_events": n,
                        "close_reason": reason,
                    }
                )
            start, last, n = None, None, 0

        for rec in _ordered_frame(pdfs).to_dict("records"):
            fields = (
                dict(rec["fields"]) if rec["fields"] is not None else {}
            )
            if fields.get(_CTL_FIELD) == _CTL_DELETE:
                close("del")
                continue
            rid = rec["id"]
            if last is not None and rid - last > gap:
                close("gap")
            if start is None:
                start = rid
            last, n = rid, n + 1

        if n:
            state.update((start, last, n))
        else:
            state.remove()
        yield pd.DataFrame(
            closed,
            columns=[
                "stream_key",
                "session_start_id",
                "session_end_id",
                "n_events",
                "close_reason",
            ],
        )

    return sessionize


class StreamingSessionizeRuntime(_StatefulRuntime):
    """Streaming gap sessionization — the batch `session_windows` query's
    continuous twin: per stream_key, group consecutive records whose id
    gap stays within `gap`, emitting each session exactly once when it
    closes. State per key is three integers; total state O(|live keys|),
    checkpointed — a restart resumes with open sessions intact.

    Ids are the session clock (the stream id IS the reference's time
    axis: ms*2^20+seq); pass `gap` in the same packed units.
    """

    _STEM = "sess"
    _QUERY_NAME = "streaming_sessionize"
    # closed sessions out; the open session lives only in the state store
    _OUTPUT_SCHEMA = (
        "stream_key string, session_start_id bigint, session_end_id bigint, "
        "n_events bigint, close_reason string"
    )
    _STATE_SCHEMA = "session_start_id bigint, last_id bigint, n_events bigint"
    _SINK_EVENT_LOG = True  # closed-session log: one row per session; compaction would destroy it
    _NO_LATEST = (
        "StreamingSessionizeRuntime has no stats snapshot — use "
        "sessions() for the closed-session log"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the sessionize runtime — "
        "close_key() force-closes an open session"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        gap: int = 10,
    ):
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.gap = gap

    def _reducer(self) -> Callable:
        return _make_sessionizer(self.gap)

    def close_key(self, stream_key: str, at_id: int) -> None:
        """Force-close a key's open session by emitting the `del`
        control record into the spool (the deferred-job pattern the
        stats runtime uses for expiry); drain the query to apply."""
        self._append_tombstones([(stream_key, at_id)])

    def sessions(self) -> list[dict]:
        """All closed sessions, ordered (each was emitted exactly once)."""
        df = self._sink_df()
        if df is None:
            return []
        out = [r.asDict() for r in df.collect()]
        out.sort(
            key=lambda r: (r["stream_key"], r["session_start_id"])
        )
        return out


# ---------------------------------------------------------------------------
# streaming rate limiter (round 6)
# ---------------------------------------------------------------------------


def _make_rate_limiter(window: int, limit: int):
    def rate_limit(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Sliding-log rate limiter per stream_key: a record is admitted
        iff fewer than `limit` ADMITTED records lie within the trailing
        `window` id-units (throttled records consume no quota — the
        sliding-log policy of the classic RedisGears recipe). State is
        the admitted-id log, bounded at `limit` entries by construction:
        older entries can never matter again."""
        (stream_key,) = key
        recent: list[int] = list(state.get[0]) if state.exists else []
        out: list[dict] = []
        frame = _ordered_frame(pdfs)
        for rid in (frame["id"] if len(frame) else ()):
            rid = int(rid)
            recent = [t for t in recent if rid - t < window]
            ok = len(recent) < limit
            if ok:
                recent.append(rid)
                recent = recent[-limit:]
            out.append(
                {
                    "stream_key": stream_key,
                    "id": rid,
                    "admitted": ok,
                    "n_in_window": len(recent),
                }
            )
        state.update((recent,))
        yield pd.DataFrame(
            out, columns=["stream_key", "id", "admitted", "n_in_window"]
        )

    return rate_limit


class StreamingRateLimitRuntime(_StatefulRuntime):
    """Continuous sliding-window rate limiting — THE canonical RedisGears
    recipe (a keyspace trigger bumping a windowed per-key counter), here
    as a stateful streaming operator: per stream_key, admit a record iff
    fewer than `limit` admitted records fall in the trailing `window`
    id-units. The batch `events_rate_limit` query is the offline twin.

    State per key is the admitted-id log, capped at `limit` entries
    (older ids can never block again) — O(|keys| * limit) total,
    checkpointed, so quota survives restarts.
    """

    _STEM = "rl"
    _QUERY_NAME = "streaming_rate_limit"
    _OUTPUT_SCHEMA = (
        "stream_key string, id bigint, admitted boolean, n_in_window bigint"
    )
    # sliding log of ADMITTED ids — bounded by the quota itself
    _STATE_SCHEMA = "recent array<bigint>"
    _SINK_EVENT_LOG = True  # verdict log: one row per record; compaction would destroy it
    _NO_LATEST = (
        "StreamingRateLimitRuntime has no stats snapshot — use "
        "decisions() for the admit/throttle log"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the rate-limit runtime — "
        "state is already bounded at `limit` ids per key"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        window: int = 100,
        limit: int = 3,
    ):
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.window = window
        self.limit = limit

    def _reducer(self) -> Callable:
        return _make_rate_limiter(self.window, self.limit)

    def decisions(self) -> list[dict]:
        """All admit/throttle decisions, (stream_key, id)-ordered."""
        df = self._sink_df()
        if df is None:
            return []
        out = [r.asDict() for r in df.collect()]
        out.sort(key=lambda r: (r["stream_key"], r["id"]))
        return out


# ---------------------------------------------------------------------------
# streaming CUSUM drift detector (round 6)
# ---------------------------------------------------------------------------


def _make_cusum(allowance_cents: int, threshold_cents: int):
    def cusum(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """One-sided CUSUM per stream_key: S = max(0, S + (x − k)) over
        exact integer cents, alarm when S exceeds the threshold. The
        textbook sequential form — one state integer, one update per
        record — the streaming twin of the batch closed form
        (operators/analytics.events_cusum_drift), pinned equal by test.
        `del` control records reset the detector."""
        (stream_key,) = key
        s = int(state.get[0]) if state.exists else 0
        out: list[dict] = []
        for rec in _ordered_frame(pdfs).to_dict("records"):
            fields = dict(rec["fields"]) if rec["fields"] is not None else {}
            pairs = rec.get("record")
            if not fields and pairs is not None and len(pairs):
                fields = {p["field"]: p["value"] for p in pairs}
            if fields.get(_CTL_FIELD) == _CTL_DELETE:
                s = 0
                continue
            v = fields.get("value")
            x = int(round(float(v) * 100)) if v is not None else 0
            s = max(0, s + x - allowance_cents)
            out.append(
                {
                    "stream_key": stream_key,
                    "id": int(rec["id"]),
                    "cusum_cents": s,
                    "drift_alarm": s > threshold_cents,
                }
            )
        state.update((s,))
        yield pd.DataFrame(
            out,
            columns=["stream_key", "id", "cusum_cents", "drift_alarm"],
        )

    return cusum


class StreamingCusumRuntime(_StatefulRuntime):
    """Continuous CUSUM drift detection per stream key — the online form
    of `events_cusum_drift`: the batch operator must distribute the
    recurrence through its prefix closed form, while the stream keeps
    ONE integer of state per key and applies the recurrence directly.
    The two are pinned equal on identical input (tests/test_streaming).

    Unlike the batch operator (which self-calibrates k to the per-type
    mean over the whole corpus), a streaming detector cannot know the
    corpus mean — `allowance_cents` is an explicit parameter, exactly
    as in production CUSUM deployments (k is chosen from the in-control
    level being monitored).
    """

    _STEM = "cusum"
    _QUERY_NAME = "streaming_cusum"
    _OUTPUT_SCHEMA = (
        "stream_key string, id bigint, cusum_cents bigint, drift_alarm boolean"
    )
    # the whole detector state is ONE integer per key — CUSUM's recurrence
    # S = max(0, S + x - k) is already incremental, which is why the batch
    # operator needs the prefix closed form and this runtime does not
    _STATE_SCHEMA = "s bigint"
    _SINK_EVENT_LOG = True  # score log: one row per record; compaction would destroy it
    _NO_LATEST = (
        "StreamingCusumRuntime has no stats snapshot — use scores() "
        "for the per-record score log"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the CUSUM runtime — a `del` "
        "control record resets a key's detector; stop()/flush() clear "
        "state"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        allowance_cents: int = 5_000,
        threshold_cents: int = 500_000,
    ):
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.allowance_cents = allowance_cents
        self.threshold_cents = threshold_cents

    def _reducer(self) -> Callable:
        return _make_cusum(self.allowance_cents, self.threshold_cents)

    def scores(self) -> list[dict]:
        """All per-record CUSUM scores, (stream_key, id)-ordered."""
        df = self._sink_df()
        if df is None:
            return []
        out = [r.asDict() for r in df.collect()]
        out.sort(key=lambda r: (r["stream_key"], r["id"]))
        return out


# ---------------------------------------------------------------------------
# streaming distinct count (round 8): a mergeable HLL in the state store
# ---------------------------------------------------------------------------


def _hll_add(registers: list, value: str, p: int) -> None:
    """Flajolet HLL register update: md5-derived 64-bit hash, p-bit
    prefix selects the register, rank = leading zeros of the suffix + 1.
    Both this and the batch hll_distinct (analytics.py) are md5-derived
    HLLs with the same error bounds at equal m, but they are NOT
    bit-identical estimators: batch buckets a 32-bit md5 prefix by mod-m
    (portable across SQL dialects), this one indexes by the high p bits
    of a 64-bit prefix (cheaper in the per-record Python path) — register
    contents, and therefore estimates of the same multiset, generally
    differ within the shared ±1.04/sqrt(m) bound."""
    import hashlib

    h = int(hashlib.md5(value.encode("utf-8")).hexdigest()[:16], 16)
    idx = h >> (64 - p)
    rest = h & ((1 << (64 - p)) - 1)
    rank = (64 - p) - rest.bit_length() + 1
    if rank > registers[idx]:
        registers[idx] = rank


def _hll_estimate(registers: list) -> int:
    """Raw HLL estimate with the small-range linear-counting correction
    (Flajolet et al. 2007). Bias constant comes from the batch
    implementation's _hll_alpha — the paper special-cases m=16/32/64
    (0.673/0.697/0.709), and the constructor allows p down to 4, so the
    generic formula would carry a known bias at small widths."""
    import math

    from redisgears_spark.operators.analytics import _hll_alpha

    m = len(registers)
    raw = _hll_alpha(m) * m * m / sum(2.0 ** -r for r in registers)
    zeros = registers.count(0)
    if raw <= 2.5 * m and zeros:
        return round(m * math.log(m / zeros))
    return round(raw)


def _make_hll_reducer(field: str, p: int):
    import json as _json

    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (stream_key,) = key
        if state.exists:
            reg_json, n_records = state.get
            registers: list = _json.loads(reg_json)
        else:
            registers, n_records = [0] * (1 << p), 0
        frame = _ordered_frame(pdfs)
        for fields in (frame["fields"] if len(frame) else ()):
            item = None if fields is None else dict(fields).get(field)
            if item is None:
                continue
            n_records += 1
            _hll_add(registers, item, p)
        state.update((_json.dumps(registers), n_records))
        yield pd.DataFrame(
            [
                {
                    "stream_key": stream_key,
                    "n_records": n_records,
                    "estimate": _hll_estimate(registers),
                    "n_zero_registers": registers.count(0),
                }
            ]
        )

    return reducer


class StreamingDistinctRuntime(_StatefulRuntime):
    """Per-stream-key streaming distinct count: one HyperLogLog per key
    in the state store, the current estimate emitted every micro-batch.
    The batch trio (events_hll_user_estimate) answers "how many distinct
    ever" over parquet; this answers it continuously over the live
    stream with O(m) state per key — the unique-visitors counter
    RedisGears users run as PFADD/PFCOUNT pairs (public Redis HLL
    commands), here with exactly-once state via the checkpoint.

    Register updates are max-merges, so the result is independent of
    micro-batch boundaries and chunk order: any partition of the stream
    yields bit-identical registers (the property the test pins).

    State per key: 2^p one-byte-ish ranks (JSON ints); total state
    O(|keys| * m). p=8 (m=256, SE ~6.5 %) by default; at production
    cardinalities raise p like the batch hll_distinct(m) widths.
    """

    _STEM = "hll"
    _QUERY_NAME = "streaming_hll_distinct"
    _OUTPUT_SCHEMA = (
        "stream_key string, n_records bigint, estimate bigint, "
        "n_zero_registers bigint"
    )
    _STATE_SCHEMA = "registers string, n_records bigint"
    _NO_LATEST = (
        "StreamingDistinctRuntime has no per-key stats snapshot — "
        "use estimates() for the current distinct estimates"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming-distinct "
        "runtime (its state is an HLL register array, not per-key "
        "stats with tombstones); stop()/flush() clear state"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        field: str = "event_type",
        p: int = 8,
    ):
        if not 4 <= p <= 14:
            raise GearsError("streaming HLL precision p must be in [4, 14]")
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.field = field
        self.p = p

    def _reducer(self) -> Callable:
        return _make_hll_reducer(self.field, self.p)

    def estimates(self) -> dict[str, dict]:
        """Latest estimate per stream_key (highest committed epoch)."""
        df = self._sink_df()
        if df is None:
            return {}
        rows = (
            df.groupBy("stream_key")
            .agg(
                F.max_by(
                    F.struct("estimate", "n_records", "n_zero_registers"),
                    F.col("epoch"),
                ).alias("s")
            )
            .select("stream_key", "s.*")
            .collect()
        )
        return {
            r["stream_key"]: {
                "estimate": r["estimate"],
                "n_records": r["n_records"],
                "n_zero_registers": r["n_zero_registers"],
            }
            for r in rows
        }


# ---------------------------------------------------------------------------
# streaming distinct count via KMV (round 9): the state-store sketch that is
# BIT-IDENTICAL to the batch kmv_distinct — same md5-prefix hash, same
# order-statistic estimator — so a live counter and its batch backfill agree
# exactly (contrast the HLL pair, which shares only the error bound).
# ---------------------------------------------------------------------------


def _kmv_merge(mins: list, value: str, k: int) -> list:
    """Fold one value into the sorted k-minimum list. Insert-if-smaller
    keeps the list the TRUE k smallest distinct hashes of everything seen,
    so the fold is order- and chunking-insensitive (set-min is
    commutative/associative/idempotent) — the restart/merge contract."""
    from redisgears_spark.functions.hashing import md5_hash32_py

    h = md5_hash32_py(value)
    if h in mins:  # distinct sketch: duplicates are no-ops
        return mins
    if len(mins) < k:
        import bisect

        bisect.insort(mins, h)
        return mins
    if h < mins[-1]:
        import bisect

        mins.pop()
        bisect.insort(mins, h)
    return mins


def _kmv_estimate(mins: list, k: int) -> float:
    """kmv_distinct's estimator (analytics.py): exact count below k,
    (k-1)*2^32/kth_min at k — identical arithmetic, so streaming and
    batch report the same float."""
    if len(mins) < k:
        return float(len(mins))
    return float((k - 1) * (1 << 32)) / mins[-1]


def _make_kmv_reducer(field: str, k: int):
    import json as _json

    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (stream_key,) = key
        if state.exists:
            mins_json, n_records = state.get
            mins: list = _json.loads(mins_json)
        else:
            mins, n_records = [], 0
        frame = _ordered_frame(pdfs)
        for fields in (frame["fields"] if len(frame) else ()):
            item = None if fields is None else dict(fields).get(field)
            if item is None:
                continue
            n_records += 1
            mins = _kmv_merge(mins, item, k)
        state.update((_json.dumps(mins), n_records))
        yield pd.DataFrame(
            [
                {
                    "stream_key": stream_key,
                    "n_records": n_records,
                    "n_in_sketch": len(mins),
                    # below k the sketch holds ALL distinct hashes, so the
                    # batch twin's COALESCE(MAX(h), 0) is mins[-1] (0 only
                    # when empty) — matching it keeps full rows, not just
                    # the estimate, bit-identical across streaming/batch
                    "kth_h": mins[-1] if mins else 0,
                    "estimate": _kmv_estimate(mins, k),
                }
            ]
        )

    return reducer


class StreamingKmvRuntime(_StatefulRuntime):
    """Per-stream-key streaming distinct count via K-minimum-values: the
    k smallest distinct 32-bit md5-prefix hashes per key live in the
    state store; the estimate is the batch kmv_distinct order statistic.

    Why this exists next to StreamingDistinctRuntime (HLL): the KMV pair
    is bit-identical across streaming, batch, and the DuckDB oracle —
    same hash (functions/hashing.md5_hash32_*), same estimator — so a
    migration can hand a counter between the live and backfill paths
    with NO reconciliation epsilon. The price is state: O(k) 8-byte
    hashes per key vs HLL's fixed 2^p bytes, and exactness below k
    (under k distinct values the 'estimate' IS the exact count).

    The fold is a set-min merge (commutative, associative, idempotent),
    so any chunking/restart of the stream yields the identical sketch —
    pinned against the batch builder in tests.
    """

    _STEM = "kmv"
    _QUERY_NAME = "streaming_kmv_distinct"
    _OUTPUT_SCHEMA = (
        "stream_key string, n_records bigint, n_in_sketch bigint, "
        "kth_h bigint, estimate double"
    )
    _STATE_SCHEMA = "mins string, n_records bigint"
    _NO_LATEST = (
        "StreamingKmvRuntime has no per-key stats snapshot — use "
        "estimates() for the current distinct estimates"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming-KMV runtime "
        "(its state is a k-minimum hash list, not per-key stats "
        "with tombstones); stop()/flush() clear state"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        field: str = "event_type",
        k: int = 256,
    ):
        if k < 2:
            raise GearsError("streaming KMV needs k >= 2")
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.field = field
        self.k = k

    def _reducer(self) -> Callable:
        return _make_kmv_reducer(self.field, self.k)

    def estimates(self) -> dict[str, dict]:
        """Latest estimate per stream_key (highest committed epoch)."""
        df = self._sink_df()
        if df is None:
            return {}
        rows = (
            df.groupBy("stream_key")
            .agg(
                F.max_by(
                    F.struct("estimate", "n_records", "n_in_sketch", "kth_h"),
                    F.col("epoch"),
                ).alias("s")
            )
            .select("stream_key", "s.*")
            .collect()
        )
        return {
            r["stream_key"]: {
                "estimate": r["estimate"],
                "n_records": r["n_records"],
                "n_in_sketch": r["n_in_sketch"],
                "kth_h": r["kth_h"],
            }
            for r in rows
        }


# ---------------------------------------------------------------------------
# Streaming hash-sample quantiles — the 8th stateful runtime (round 10)
# ---------------------------------------------------------------------------


def _hsq_merge(samp: list, row_id: str, value: int, k: int) -> list:
    """Fold one (row_id, value) into the k-smallest-by-(h, v) sample list
    (each element a [h, v] pair, kept sorted). A replayed row hashes to
    the same h and is a no-op, so exactly-once replays can't double-
    sample; the fold is set-min over (h, v) — commutative, associative,
    idempotent — the same restart/merge contract as the KMV runtime."""
    from redisgears_spark.functions.hashing import md5_hash32_py

    h = md5_hash32_py(row_id)
    e = [h, value]
    if e in samp:
        return samp
    if len(samp) < k:
        import bisect

        bisect.insort(samp, e)
        return samp
    if e < samp[-1]:
        import bisect

        samp.pop()
        bisect.insort(samp, e)
    return samp


def _hsq_quantiles(samp: list, k: int) -> dict:
    """Nearest-rank picks over the v-sorted sample — the identical
    integer arithmetic as the batch hash_sample_quantiles/DuckDB oracle
    ((q*n + 99) div 100, 1-indexed), so all three agree bit-for-bit."""
    n = len(samp)
    if n == 0:
        return {"n_sample": 0, "p25": 0, "p50": 0, "p75": 0, "p90": 0}
    by_v = sorted((v, h) for h, v in samp)
    out = {"n_sample": n}
    for q in (25, 50, 75, 90):
        idx = (q * n + 99) // 100
        out[f"p{q}"] = by_v[idx - 1][0]
    return out


def _make_hsq_reducer(id_field: str, value_field: str, k: int):
    import json as _json

    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (stream_key,) = key
        if state.exists:
            samp_json, n_records = state.get
            samp: list = _json.loads(samp_json)
        else:
            samp, n_records = [], 0
        frame = _ordered_frame(pdfs)
        for fields in (frame["fields"] if len(frame) else ()):
            d = {} if fields is None else dict(fields)
            rid = d.get(id_field)
            raw = d.get(value_field)
            if rid is None or raw is None:
                continue
            try:
                value = int(raw)
            except (TypeError, ValueError):
                continue  # non-integer payloads: not sampleable
            n_records += 1
            samp = _hsq_merge(samp, rid, value, k)
        state.update((_json.dumps(samp), n_records))
        q = _hsq_quantiles(samp, k)
        yield pd.DataFrame(
            [{"stream_key": stream_key, "n_records": n_records, **q}]
        )

    return reducer


class StreamingQuantileRuntime(_StatefulRuntime):
    """Per-stream-key streaming quantiles via the bottom-k-by-hash row
    sample: the k rows whose md5 hash of `id_field` is smallest live in
    the state store with their integer `value_field`; quantiles are
    nearest-rank picks over that sample.

    The third member of the bit-identical trio (after KMV): the sample
    is an order statistic, so streaming, the batch
    hash_sample_quantiles, and the DuckDB oracle select the identical k
    rows and report the identical p25/p50/p75/p90 — a migration can
    hand a latency/value monitor between live and backfill paths with
    no reconciliation epsilon. State is O(k) pairs per key; the fold is
    set-min over (h, v) (commutative, associative, idempotent), so any
    chunking or restart yields the identical sketch, and a replayed row
    (same id) is a no-op — exactly-once replays can't double-sample.

    Reference parity: RedisGears has no quantile surface (aggregation
    is user JS; function_ctx sums at best) — this is a
    beyond-reference operator for the training-data-pipeline tier.
    """

    _STEM = "hsq"
    _QUERY_NAME = "streaming_hash_sample_quantiles"
    _OUTPUT_SCHEMA = (
        "stream_key string, n_records bigint, n_sample bigint, "
        "p25 bigint, p50 bigint, p75 bigint, p90 bigint"
    )
    _STATE_SCHEMA = "samp string, n_records bigint"
    _NO_LATEST = (
        "StreamingQuantileRuntime has no per-key stats snapshot — use "
        "quantiles() for the current sample quantiles"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming-quantile "
        "runtime (its state is a k-minimum sample list, not per-key "
        "stats with tombstones); stop()/flush() clear state"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        id_field: str = "event_id",
        value_field: str = "value",
        k: int = 64,
    ):
        if k < 1:
            raise GearsError("streaming quantiles need k >= 1")
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.id_field = id_field
        self.value_field = value_field
        self.k = k

    def _reducer(self) -> Callable:
        return _make_hsq_reducer(self.id_field, self.value_field, self.k)

    def quantiles(self) -> dict[str, dict]:
        """Latest quantile row per stream_key (highest committed epoch)."""
        df = self._sink_df()
        if df is None:
            return {}
        rows = (
            df.groupBy("stream_key")
            .agg(
                F.max_by(
                    F.struct(
                        "n_records", "n_sample", "p25", "p50", "p75", "p90"
                    ),
                    F.col("epoch"),
                ).alias("s")
            )
            .select("stream_key", "s.*")
            .collect()
        )
        return {
            r["stream_key"]: {
                c: r[c]
                for c in ("n_records", "n_sample", "p25", "p50", "p75", "p90")
            }
            for r in rows
        }


# ---------------------------------------------------------------------------
# Streaming Bloom-filter dedup — the 9th stateful runtime (round 10)
# ---------------------------------------------------------------------------


def _bloom_positions(value: str, m: int, k: int) -> list[int]:
    """Bit positions for `value`: md5('i:value') prefixes mod m, i in
    1..k — IDENTICAL to the batch builder's
    `md5(concat(i, ':', key)) % m` (operators/analytics.bloom_confusion),
    so a streaming filter's bitmap equals the batch set-bit relation
    over the same values, bit for bit."""
    from redisgears_spark.functions.hashing import md5_hash32_py

    return [md5_hash32_py(f"{i}:{value}") % m for i in range(1, k + 1)]


def _make_bloom_dedup(field: str, m: int, k: int):
    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """First-seen filter per stream_key backed by an m-bit / k-hash
        Bloom filter in the state store: a record whose field value's
        bits are all already set is suppressed as a duplicate; otherwise
        it passes and sets its bits. One-sided error by construction —
        a true duplicate is ALWAYS suppressed (bits only ever turn on);
        a false positive (fresh value suppressed) happens with
        probability ≈ (bits_set/m)^k, which the m/k sizing keeps small
        until the filter saturates. Records whose field is missing pass
        through unfiltered (never inserted): they are emitted with
        first_seen=true and item=null so downstream
        `.filter('first_seen')` consumers keep them, but they do not
        touch the filter or the counters."""
        (stream_key,) = key
        if state.exists:
            bloom_hex, n_records, n_first, n_suppressed = state.get
            bloom = int(bloom_hex, 16) if bloom_hex else 0
        else:
            bloom, n_records, n_first, n_suppressed = 0, 0, 0, 0
        out: list[dict] = []
        frame = _ordered_frame(pdfs)
        rows = (
            zip(frame["id"], frame["fields"]) if len(frame) else ()
        )
        for rid, fields in rows:
            item = None if fields is None else dict(fields).get(field)
            if item is None:
                # pass-through contract: no field → unfiltered, uncounted
                out.append(
                    {
                        "stream_key": stream_key,
                        "id": int(rid),
                        "item": None,
                        "first_seen": True,
                        "bits_set": bloom.bit_count(),
                    }
                )
                continue
            n_records += 1
            mask = 0
            for pos in _bloom_positions(item, m, k):
                mask |= 1 << pos
            dup = (bloom & mask) == mask
            if dup:
                n_suppressed += 1
            else:
                bloom |= mask
                n_first += 1
            out.append(
                {
                    "stream_key": stream_key,
                    "id": int(rid),
                    "item": item,
                    "first_seen": not dup,
                    "bits_set": bloom.bit_count(),
                }
            )
        state.update((f"{bloom:x}", n_records, n_first, n_suppressed))
        yield pd.DataFrame(
            out,
            columns=["stream_key", "id", "item", "first_seen", "bits_set"],
        )

    return reducer


class StreamingBloomDedupRuntime(_StatefulRuntime):
    """Continuous first-seen deduplication per stream_key — the streaming
    half of the dedup family (operators/dedup.py is the batch half): an
    m-bit / k-hash Bloom filter lives in the state store and every
    record gets a first_seen verdict as it arrives. This is the operator
    a training-data ingest runs at the firehose: admit a document the
    first time its fingerprint appears, suppress replays, in O(m/8)
    bytes per key no matter how many items flow past.

    Guarantees (pinned in tests):
      * no false negatives — a value seen before is ALWAYS suppressed
        (bits only turn on; the duplicate check is monotone);
      * bounded false positives — a fresh value is wrongly suppressed
        with probability ≈ (bits_set/m)^k; callers size m ≈ 10–15 bits
        per expected distinct item (m=2^17, k=7 is the production width,
        matching orders_bloom_customer_probe_wide);
      * the bitmap is an OR-fold — commutative and idempotent — so the
        FINAL filter state is identical under any chunking or restart
        of the same records, and equals the batch builder's set-bit
        relation over the same values (same md5('i:value') positions).

    First-seen attribution (WHICH replay passed) follows stream order
    like every dedup-by-arrival; totals n_first + n_suppressed and the
    final bitmap are chunking-invariant even though per-epoch splits
    are not.

    Reference parity: RedisGears' classic dedup recipe keeps a Redis
    set per key and XADDs only unseen items; this runtime is that
    recipe with bounded memory and checkpointed state.
    """

    _STEM = "bloomdedup"
    _QUERY_NAME = "streaming_bloom_dedup"
    _OUTPUT_SCHEMA = (
        "stream_key string, id bigint, item string, first_seen boolean, "
        "bits_set bigint"
    )
    _STATE_SCHEMA = (
        "bloom string, n_records bigint, n_first bigint, n_suppressed bigint"
    )
    _SINK_EVENT_LOG = True  # verdict log: one row per record; compaction would destroy it
    _NO_LATEST = (
        "StreamingBloomDedupRuntime has no per-key stats snapshot — "
        "use dedup_stats() for totals or verdicts() for the deduped "
        "stream"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming Bloom dedup "
        "runtime (dropping a filter would re-admit duplicates); "
        "stop()/flush() clear state"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        field: str = "event_type",
        m: int = 1 << 17,
        k: int = 7,
    ):
        if m < 8 or (m & (m - 1)) != 0:
            raise GearsError(
                "streaming Bloom dedup needs m a power of two >= 8"
            )
        if not 1 <= k <= 16:
            raise GearsError("streaming Bloom dedup needs 1 <= k <= 16")
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.field = field
        self.m = m
        self.k = k

    def _reducer(self) -> Callable:
        return _make_bloom_dedup(self.field, self.m, self.k)

    def verdicts(self) -> DataFrame | None:
        """All per-record verdicts committed so far (epoch-stamped), or
        None before the first batch. First-seen rows ARE the deduped
        stream; downstream reads `.filter('first_seen')`."""
        return self._sink_df()

    def dedup_stats(self) -> dict[str, dict]:
        """Per-key totals from the sink: n_records, n_first_seen,
        n_suppressed, bits_set (latest). Aggregated JVM-side; one row
        per key reaches the driver. Missing-field pass-through rows
        (item=null) are in the verdict stream but not in the stats —
        they never touched the filter."""
        df = self._sink_df()
        if df is None:
            return {}
        rows = (
            df.filter(F.col("item").isNotNull())
            .groupBy("stream_key")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_records"),
                F.sum(F.col("first_seen").cast("long"))
                .cast("long")
                .alias("n_first_seen"),
                F.sum((~F.col("first_seen")).cast("long"))
                .cast("long")
                .alias("n_suppressed"),
                F.max_by(F.col("bits_set"), F.struct("epoch", "id"))
                .cast("long")
                .alias("bits_set"),
            )
            .collect()
        )
        return {
            r["stream_key"]: {
                "n_records": r["n_records"],
                "n_first_seen": r["n_first_seen"],
                "n_suppressed": r["n_suppressed"],
                "bits_set": r["bits_set"],
            }
            for r in rows
        }


# ---------------------------------------------------------------------------
# Streaming MinHash signatures — the 10th stateful runtime (round 11)
# ---------------------------------------------------------------------------

_MH_N = 32  # operators/dedup._MINHASH_N — shared family width
_MH_BANDS = 8
_MH_ROWS = _MH_N // _MH_BANDS
_U64 = (1 << 64) - 1


def _splitmix64_py(z: int) -> int:
    """Scalar twin of operators/dedup._splitmix64 (numpy uint64) — the
    same finalizer in pure-python mod-2^64 arithmetic, so a streaming
    signature can be compared bit-for-bit against the batch sketch."""
    z = (z + 0x9E3779B97F4A7C15) & _U64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _U64
    return z ^ (z >> 31)


def _mh_salts() -> list[int]:
    """The batch family's 32 fixed salts: splitmix64(i · golden) for
    i = 1..32, wrapping mod 2^64 exactly like the numpy uint64 multiply."""
    return [
        _splitmix64_py((i * 0x9E3779B97F4A7C15) & _U64)
        for i in range(1, _MH_N + 1)
    ]


def _mh_hash64(value: str) -> int:
    """Scalar twin of operators/dedup._hash64_str: little-endian first
    8 md5 bytes (= functions/hashing.md5_hash64_py = DuckDB's
    md5_number_upper) — the round-13 md5 migration that made the banded
    family oracle-able; batch and streaming must move in lockstep."""
    from hashlib import md5

    return int.from_bytes(md5(value.encode()).digest()[:8], "little")


def _mh_fold(sig: list[int], value: str, salts: list[int]) -> list[int]:
    """Fold one set element into the 32-component min-signature. Set-min
    is commutative, associative, and idempotent — replays of the same
    value are no-ops and any chunking/restart yields the identical
    signature (the same merge contract as the KMV runtime)."""
    h = _mh_hash64(value)
    for i, s in enumerate(salts):
        v = _splitmix64_py(h ^ s)
        if v < sig[i]:
            sig[i] = v
    return sig


def _mh_bands(sig: list[int]) -> list[int]:
    """The batch sketch's band fold (operators/dedup._sketched_docs):
    acc = splitmix64(acc ^ component) across each band's rows, emitted
    SIGNED (the numpy path views uint64 as int64) so a live band hash
    equi-joins against the batch band table directly."""
    out = []
    for b in range(_MH_BANDS):
        acc = 0
        for r in range(_MH_ROWS):
            acc = _splitmix64_py(acc ^ sig[b * _MH_ROWS + r])
        out.append(acc - (1 << 64) if acc >= (1 << 63) else acc)
    return out


def _make_minhash_reducer(field: str):
    import json as _json

    salts = _mh_salts()

    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (stream_key,) = key
        if state.exists:
            sig_json, n_records, n_items = state.get
            sig: list[int] = _json.loads(sig_json)
        else:
            sig, n_records, n_items = [_U64] * _MH_N, 0, 0
        frame = _ordered_frame(pdfs)
        for fields in (frame["fields"] if len(frame) else ()):
            # n_records counts every record SEEN (missing-field rows
            # included, so they stay visible in the stats); n_items only
            # the values actually folded into the signature
            n_records += 1
            item = None if fields is None else dict(fields).get(field)
            if item is None:
                continue
            n_items += 1
            _mh_fold(sig, item, salts)
        state.update((_json.dumps(sig), n_records, n_items))
        yield pd.DataFrame(
            [
                {
                    "stream_key": stream_key,
                    "n_records": n_records,
                    "n_items": n_items,
                    "signature": _json.dumps(sig),
                    "bands": _json.dumps(_mh_bands(sig)),
                }
            ]
        )

    return reducer


class StreamingMinHashRuntime(_StatefulRuntime):
    """Per-stream-key continuous MinHash signature — the live half of the
    near-duplicate family (operators/dedup's MinHash+LSH is the batch
    half): every key's 32-component signature over the VALUES of `field`
    is maintained in the state store, and the 8 LSH band hashes are
    emitted alongside, ready to equi-join against the batch band table
    or another stream's bands for live near-dup candidate detection.

    Bit-compat contract (pinned in tests): the hash family is EXACTLY
    the batch sketch's — md5-64 content hash, splitmix64(h ^ salt_i)
    with the same 32 salts, column-min, and the same band fold emitted
    signed — so a streaming signature over a set of values equals the
    batch numpy signature over the same distinct values, component for
    component, and the band hashes bucket-match across the two paths
    with no reconciliation epsilon.

    Set-min folding makes the signature chunking-invariant, idempotent
    under exactly-once replays, and restart-resumable from the
    checkpoint. similarity(a, b) estimates Jaccard as the fraction of
    matching components (the standard MinHash estimator; expected error
    ~1/√32).

    State: 32 uint64 components per key (~700 B as JSON) no matter how
    many values flow past — the firehose-safe shape.
    """

    _STEM = "minhash"
    _QUERY_NAME = "streaming_minhash"
    _OUTPUT_SCHEMA = (
        "stream_key string, n_records bigint, n_items bigint, "
        "signature string, bands string"
    )
    _STATE_SCHEMA = "sig string, n_records bigint, n_items bigint"
    _NO_LATEST = (
        "StreamingMinHashRuntime has no per-key stats snapshot — use "
        "signatures() for the current sketches"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming-MinHash "
        "runtime (its state is a min-signature, not per-key stats "
        "with tombstones); stop()/flush() clear state"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        field: str = "event_type",
    ):
        super().__init__(engine, spool_dir, work_dir, source_adapter)
        self.field = field

    def _reducer(self) -> Callable:
        return _make_minhash_reducer(self.field)

    def signatures(self) -> dict[str, dict]:
        """Latest signature + band hashes per stream_key (highest
        committed epoch). Values: n_records, n_items, signature
        (list[int], 32 uint64 components), bands (list[int], 8 signed
        band hashes, batch-compatible)."""
        import json as _json

        df = self._sink_df()
        if df is None:
            return {}
        rows = (
            df.groupBy("stream_key")
            .agg(
                F.max_by(
                    F.struct("n_records", "n_items", "signature", "bands"),
                    F.col("epoch"),
                ).alias("s")
            )
            .select("stream_key", "s.*")
            .collect()
        )
        return {
            r["stream_key"]: {
                "n_records": r["n_records"],
                "n_items": r["n_items"],
                "signature": _json.loads(r["signature"]),
                "bands": _json.loads(r["bands"]),
            }
            for r in rows
        }

    def similarity(self, key_a: str, key_b: str) -> float:
        """MinHash Jaccard estimate between two stream keys: matching
        signature components / 32. Raises if either key has no
        signature yet."""
        sigs = self.signatures()
        if key_a not in sigs or key_b not in sigs:
            missing = [k for k in (key_a, key_b) if k not in sigs]
            raise GearsError(
                f"no MinHash signature yet for {missing} — feed records "
                "and process_available() first"
            )
        a, b = sigs[key_a]["signature"], sigs[key_b]["signature"]
        return sum(1 for x, y in zip(a, b) if x == y) / float(_MH_N)
