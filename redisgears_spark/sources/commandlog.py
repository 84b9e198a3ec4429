"""Command-log (AOF analog) source — a custom Python DataSource.

The reference persists and replicates its streams as a command log: the
AOF replays `XADD stream id field value ...` lines, and replicas receive
the same command stream (RDB/AOF are the only persistence —
SURVEY §2.G "file formats absent"; rdb.rs). This module ingests exactly
that shape into the engine: a directory of text command-log segments
becomes a DataFrame in the canonical stream schema, via Spark 4's
Python DataSource API (`spark.read.format("gears_commandlog")`).

Scale design:
  * one InputPartition PER SEGMENT FILE — a replayed AOF is thousands of
    closed segments, and they parse in parallel across executors, the
    same parallelism contract as parquet's file splits;
  * `pushFilters` accepts EqualTo / StringStartsWith on `stream_key`
    (conjunctive — every accepted filter applies), so a prefix-subscribed
    consumer skips non-matching records AT PARSE TIME — rows for other
    streams never leave the source (the Python-source twin of parquet
    predicate pushdown); the filter checks are hoisted out of the parse
    hot loop when no filters are pushed;
  * parsing is line-at-a-time with minimal per-row Python overhead —
    no pandas needed for a text protocol.

Line grammar (one command per line, fields RESP-unescaped upstream):

    XADD <stream_key> <ms>-<seq> <field> <value> [<field> <value> ...]

Skipped AOF-style (forward compatibility with mixed/corrupt logs, the
way a replayer ignores what it does not track): unknown verbs,
unparseable ids, unpaired field/value tokens, seq >= 2^20, and
ms >= 2^43 (the packed `id = ms * 2^20 + seq` must stay inside int64 —
2^43 ms is year ~2248; a silent overflow or collision would corrupt
per-stream ordering and exactly-once dedup downstream). Duplicate field
names are FAITHFULLY carried: `fields` is the last-wins map view and
`record` holds the full ordered pair list (non-null only when
duplicates occur) — the same contract as the engine's STREAM_SCHEMA.

Grammar limits: keys and values must not contain spaces or newlines,
and a record needs at least one field — `write_command_log` validates
and rejects rather than emit a line the reader would skip or mis-parse
(a real AOF uses RESP length-prefixed framing; this text twin keeps the
fixture grammar honest instead). Segments are written ATOMICALLY (tmp
name + rename): the streaming tail lists `*.aof` at batch-plan time,
and a half-written visible segment would be consumed partially and
then skipped forever.
"""

from __future__ import annotations

import datetime
import glob
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    StringStartsWith,
)
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# seq bits in the packed id: id = ms * 2^20 + seq (order-preserving);
# ms capped so the product stays inside int64 (and fromtimestamp range)
_SEQ_SPACE = 1 << 20
_MS_MAX = (1 << 63) // _SEQ_SPACE  # 2^43 ms ≈ year 2248

_RECORD_TYPE = ArrayType(
    StructType(
        [
            StructField("field", StringType()),
            StructField("value", StringType()),
        ]
    )
)

COMMANDLOG_SCHEMA = StructType(
    [
        StructField("stream_key", StringType()),
        StructField("id", LongType()),
        StructField("id_ts", TimestampType()),
        StructField("fields", MapType(StringType(), StringType())),
        StructField("record", _RECORD_TYPE),
    ]
)


class _SegmentPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class CommandLogReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("gears_commandlog requires a `path` option")
        # conjunctive pushed predicates — EVERY accepted filter applies
        # (a consumed-but-dropped filter would silently widen results)
        self._key_eqs: list[str] = []
        self._key_prefixes: list[str] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("stream_key",):
                self._key_eqs.append(f.value)
            elif isinstance(f, StringStartsWith) and f.attribute == (
                "stream_key",
            ):
                self._key_prefixes.append(f.value)
            else:
                yield f  # unsupported — Spark evaluates it post-scan

    def partitions(self) -> Sequence[InputPartition]:
        files = sorted(glob.glob(os.path.join(self.path, "*.aof")))
        return [_SegmentPartition(p) for p in files]

    def _parse_lines(self, path: str):
        """Grammar core: one (stream_key, packed_id, ms, fields, record)
        per valid line. No datetime objects — consumers choose their
        timestamp representation (Arrow int64 vs pickled datetime)."""
        # hoisted out of the hot loop: tuple-ize once; the common
        # no-pushed-filter case pays two falsy checks per line, not
        # generator allocations
        eqs = tuple(self._key_eqs)
        prefixes = tuple(self._key_prefixes)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                parts = line.rstrip("\n").split(" ")
                n = len(parts)
                if n < 5 or (n - 3) % 2 != 0 or parts[0] != "XADD":
                    continue  # unknown verb / malformed — skip, AOF-style
                stream_key = parts[1]
                if eqs and any(stream_key != k for k in eqs):
                    continue
                if prefixes and any(
                    not stream_key.startswith(p) for p in prefixes
                ):
                    continue
                ms_s, _, seq_s = parts[2].partition("-")
                # strict ASCII decimals: int() would also accept
                # '1_7' / '+100' / Unicode digits, fabricating an id
                # for a line the grammar calls unparseable
                if not (
                    ms_s.isascii()
                    and ms_s.isdecimal()
                    and seq_s.isascii()
                    and seq_s.isdecimal()
                ):
                    continue  # unparseable id — skip, same as bad verbs
                ms, seq = int(ms_s), int(seq_s)
                if not (0 <= seq < _SEQ_SPACE) or not (0 <= ms < _MS_MAX):
                    continue  # outside the packable space (documented)
                names = parts[3::2]
                values = parts[4::2]
                fields = dict(zip(names, values))
                record = (
                    list(zip(names, values))
                    if len(fields) != len(names)  # duplicates present
                    else None
                )
                yield (
                    stream_key,
                    ms * _SEQ_SPACE + seq,  # order-preserving packed id
                    ms,
                    fields,
                    record,
                )

    def read_tuples(self, partition: _SegmentPartition):
        """Row-tuple view of a segment (driver-side consumers: the
        streaming tail, which pickles rows, and the replay bridge)."""
        for key, packed, ms, fields, record in self._parse_lines(
            partition.path
        ):
            yield (
                key,
                packed,
                datetime.datetime.fromtimestamp(
                    ms / 1000.0, tz=datetime.timezone.utc
                ).replace(tzinfo=None),
                fields,
                record,
            )

    # Arrow chunk size: large enough to amortize array construction,
    # small enough to keep peak memory per task bounded
    _BATCH_ROWS = 8192

    def read(self, partition: _SegmentPartition):
        """Executor-side scan, yielding Arrow RecordBatches: parsing is
        necessarily per-line Python, but emitting COLUMNS instead of row
        tuples skips the per-row datetime construction and the runtime's
        row→Arrow conversion — measured ~2x on the parse-bound scan
        (BENCH commandlog section). Timestamps are int64 micros in a
        timestamp('us') array; the map/struct columns are built once per
        chunk."""
        import pyarrow as pa

        ts_type = pa.timestamp("us")
        rec_type = pa.list_(
            pa.struct([("field", pa.string()), ("value", pa.string())])
        )

        def to_batch(keys, ids, mss, off, mk, mv, records, any_dup):
            # map column from FLAT key/value buffers + offsets —
            # MapArray.from_arrays is ~4x cheaper than pa.array over
            # per-row dicts; `record` is all-null in the common
            # no-duplicates chunk (one nulls() call, no per-row work)
            fields_arr = pa.MapArray.from_arrays(
                pa.array(off, type=pa.int32()),
                pa.array(mk, type=pa.string()),
                pa.array(mv, type=pa.string()),
            )
            rec_arr = (
                pa.array(records, type=rec_type)
                if any_dup
                else pa.nulls(len(keys), rec_type)
            )
            return pa.record_batch(
                [
                    pa.array(keys, type=pa.string()),
                    pa.array(ids, type=pa.int64()),
                    pa.array([m * 1000 for m in mss], type=ts_type),
                    fields_arr,
                    rec_arr,
                ],
                names=["stream_key", "id", "id_ts", "fields", "record"],
            )

        keys: list = []
        ids: list = []
        mss: list = []
        off: list = [0]
        mk: list = []
        mv: list = []
        records: list = []
        any_dup = False
        for key, packed, ms, fields, record in self._parse_lines(
            partition.path
        ):
            keys.append(key)
            ids.append(packed)
            mss.append(ms)
            mk.extend(fields.keys())
            mv.extend(fields.values())
            off.append(len(mk))
            records.append(record)
            any_dup = any_dup or record is not None
            if len(keys) >= self._BATCH_ROWS:
                yield to_batch(keys, ids, mss, off, mk, mv, records, any_dup)
                keys, ids, mss, off, mk, mv, records, any_dup = (
                    [], [], [], [0], [], [], [], False,
                )
        if keys:
            yield to_batch(keys, ids, mss, off, mk, mv, records, any_dup)


class CommandLogStreamReader(SimpleDataSourceStreamReader):
    """Tail the command log as a STREAM: each micro-batch consumes the
    segment files that appeared since the last offset.

    Offset = the LAST CONSUMED SEGMENT NAME (not an index): a new batch
    reads every `*.aof` whose basename sorts after it. That stays
    correct when already-consumed segments are deleted by retention
    (an index would shift and skip or re-read files silently). The
    writer's contract remains: segment names must be lexicographically
    monotonic (zero-padded counters) and a closed segment never
    changes. Replay for recovery (`readBetweenOffsets`) re-parses
    exactly the names in (start, end], so a restarted query re-emits
    precisely the in-flight batch — the same
    exactly-once-from-replayable-source contract the parquet spool
    sources rely on.

    The simple stream reader parses on the driver — right for a
    tailing/control-plane feed (segments arrive one at a time); a
    replayed multi-TB AOF should go through the batch reader's
    per-segment partitions instead (one job, full cluster).
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("gears_commandlog requires a `path` option")

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "*.aof")))

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _last_of(self, offset: dict) -> str:
        """Offset → last-consumed basename, with a best-effort shim for
        the legacy index form ({'pos': N}, pre-filename offsets): map N
        to the N-th sorted name — correct as long as no consumed
        segment was deleted before the first post-upgrade batch."""
        if "last" in offset:
            return offset["last"]
        pos = int(offset.get("pos", 0))
        if pos <= 0:
            return ""
        files = self._files()
        idx = min(pos, len(files)) - 1
        return os.path.basename(files[idx]) if idx >= 0 else ""

    def _parse(self, paths: list[str]) -> list:
        # materialized (not a generator): the runtime pickles the batch
        # to ship it — fine for the tailing use (one segment at a time)
        reader = CommandLogReader({"path": self.path})
        out: list = []
        for p in paths:
            out.extend(reader.read_tuples(_SegmentPartition(p)))
        return out

    def read(self, start: dict):
        last = self._last_of(start)
        files = self._files()
        new = [f for f in files if os.path.basename(f) > last]
        end = (
            {"last": os.path.basename(new[-1])} if new else {"last": last}
        )
        # the runtime wants a true iterator over picklable rows
        return iter(self._parse(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = self._last_of(start), self._last_of(end)
        files = [
            f for f in self._files() if lo < os.path.basename(f) <= hi
        ]
        return iter(self._parse(files))

    def commit(self, end: dict) -> None:
        pass  # segments are retained; retention is the engine's job


class CommandLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gears_commandlog"

    def schema(self) -> StructType:
        return COMMANDLOG_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return CommandLogReader(self.options)

    def simpleStreamReader(self, schema: StructType):
        return CommandLogStreamReader(self.options)


def register_commandlog_source(spark) -> None:
    """Register the format for this session:
    `spark.read.format("gears_commandlog").option("path", dir)`.

    Python-source filter pushdown ships disabled; the reader implements
    pushFilters, so the session conf must be on (runtime-settable)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CommandLogDataSource)


def write_command_log(rows: list[dict], path: str) -> str:
    """Test/producer helper: render canonical stream records as one AOF
    segment (the inverse of the reader's grammar). Rejects what the
    grammar cannot carry (space/newline in tokens, empty tokens, empty
    field sets — the reader would skip the line) and lands ATOMICALLY:
    the bytes go to a non-`*.aof` temp name, fsync'd, then rename into
    place, so the streaming tail never lists a half-written segment."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    try:
        with open(tmp, "w", encoding="utf-8") as fh:
            for r in rows:
                # `fields` may be a dict (common) or an ordered pair
                # sequence — the duplicate-field-fidelity shape the log
                # grammar has always been able to carry
                f = r["fields"]
                pairs = list(f.items()) if isinstance(f, dict) else list(f)
                if not pairs:
                    raise ValueError(
                        "a command-log record needs at least one field "
                        "(a 4-token XADD line is skipped as malformed)"
                    )
                if not (0 <= r["id"] < (1 << 63)):
                    raise ValueError(
                        f"id {r['id']} outside the packable int64 space "
                        "(the reader would skip the line on read-back)"
                    )
                ms, seq = divmod(r["id"], _SEQ_SPACE)
                tokens = [r["stream_key"]]
                for k, v in pairs:
                    tokens += [str(k), str(v)]
                for t in tokens:
                    if " " in t or "\n" in t or not t:
                        raise ValueError(
                            f"token {t!r} not representable in the "
                            "space-delimited command-log grammar"
                        )
                kv = " ".join(f"{k} {v}" for k, v in pairs)
                fh.write(f"XADD {r['stream_key']} {ms}-{seq} {kv}\n")
            fh.flush()
            os.fsync(fh.fileno())
    except BaseException:
        try:
            os.unlink(tmp)  # no half-written litter on the error path
        except OSError:
            pass
        raise
    os.replace(tmp, path)
    return path
