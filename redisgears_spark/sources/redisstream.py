"""Live Redis stream source — `spark.read/readStream.format("gears_redis")`.

The reference's whole identity is "triggers on Redis streams": its stream
reader iterates a stream from `last_read_id` exclusive, one batch at a
time (stream_reader.rs:278-297 `read_next_data`), discovers pre-existing
streams by scanning the keyspace for keys matching the registered prefix
(lib.rs:1546-1574 `scan_key_space_for_streams`), and trims consumed
entries to the slowest consumer (stream_reader.rs:60-110). This module is
that contract as a Spark DataSource over a live Redis server:

  * **batch** (`spark.read`): one InputPartition PER STREAM KEY — keys
    are discovered driver-side with `SCAN MATCH <prefix>* TYPE stream`
    (the reference's bootstrap scan), then each partition `XRANGE`s its
    key on an executor. Thousands of streams parallelize across the
    cluster; a single huge stream is one partition by design (Redis
    itself serves a stream from one node).
  * **streaming tail** (`spark.readStream`): a
    `SimpleDataSourceStreamReader` whose offset is the LAST CONSUMED ID
    PER KEY — `{"last": {stream_key: "ms-seq"}}` — exactly the
    reference's `last_read_id` map. Each micro-batch re-scans for
    matching keys (new streams are picked up like the reference's
    notification path) and `XRANGE (last +` per key. Replay for recovery
    (`readBetweenOffsets`) re-reads precisely `(start, end]` per key, so
    a restarted query re-emits the in-flight batch — exactly-once from a
    replayable source, PROVIDED `XTRIM` has not trimmed past the
    uncommitted window (trim via the engine's `maintain()`, which uses
    the min-frontier = slowest consumer, and this holds by
    construction).

Rows land in the engine's canonical stream shape (COMMANDLOG_SCHEMA ==
STREAM_SCHEMA): `stream_key, id (= ms*2^20 + seq, order-preserving),
id_ts, fields, record`. Entries outside the packable id space
(seq >= 2^20, ms >= 2^43) are skipped, same documented rule as the
command-log reader. `record` (the ordered duplicate-field pair list,
stream_run_ctx.rs:73-100) carries FULL pair fidelity: the readers fetch
entries via `_xrange_pairs`, which bypasses redis-py's pairs_to_dict
response callback (a raw-protocol XRANGE on the connection) so
duplicate field names and their order survive — same contract as the
command-log source (`fields` is the last-wins map view, `record` is
non-null exactly when an entry has duplicate field names).

**Single-node scope**: the source is a single-endpoint client. A Redis
CLUSTER deployment (the reference's production shape — hash-slot
routing, MOVED/ASK redirects, background_run_ctx.rs:179-231) is OUT OF
CONTRACT: discovery refuses loudly when the endpoint reports
cluster_enabled:1 instead of silently reading one node's slice of the
keyspace (see `_ensure_single_node`). Cluster users point one source at
each master with non-overlapping `match` patterns.

**No Redis server in CI**: the client is built by `_make_client`, which
imports `redis` (redis-py, public API) unless the options carry
`fake_path` — then it returns `FakeRedis`, a file-backed in-memory
stand-in implementing exactly the public Redis semantics this module
uses (SCAN TYPE filter, XADD explicit ids, XRANGE with `(`-exclusive
min, XTRIM MINID). File-backed because Spark runs Python data sources in
separate worker processes: a monkeypatched in-process mock would not
cross that boundary, a shared JSONL spool does. The contract tests drive
both the batch and streaming paths end-to-end over the fake; pointing at
a real server is the same code with host/port options.
"""

from __future__ import annotations

import datetime
import fnmatch
import json
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
from pyspark.sql.types import StructType

from redisgears_spark.sources.commandlog import (
    COMMANDLOG_SCHEMA,
    _MS_MAX,
    _SEQ_SPACE,
)

REDIS_STREAM_SCHEMA = COMMANDLOG_SCHEMA  # one canonical stream shape


def pack_id(id_str: str) -> int | None:
    """'ms-seq' → ms * 2^20 + seq, or None when outside the packable
    space (same skip rule as the command-log grammar)."""
    ms_s, _, seq_s = id_str.partition("-")
    if not (
        ms_s.isascii()
        and ms_s.isdecimal()
        and seq_s.isascii()
        and seq_s.isdecimal()
    ):
        return None
    ms, seq = int(ms_s), int(seq_s)
    if not (0 <= seq < _SEQ_SPACE) or not (0 <= ms < _MS_MAX):
        return None
    return ms * _SEQ_SPACE + seq


def unpack_id(packed: int) -> str:
    """Inverse of pack_id — packed int64 → 'ms-seq' (for XTRIM MINID)."""
    return f"{packed // _SEQ_SPACE}-{packed % _SEQ_SPACE}"


def _s(x) -> str:
    return x.decode() if isinstance(x, bytes) else x


def _entry_rows(stream_key: str, entries):
    """XRANGE result → canonical rows (skips unpackable ids).

    Accepts BOTH entry shapes: `(id, {field: value})` (redis-py's
    decoded dict — duplicate names already collapsed) and
    `(id, [(field, value), ...])` (the pair-fidelity shape from
    `_xrange_pairs`). Mirrors the command-log grammar exactly: `fields`
    is the last-wins map, `record` is the ordered pair list and
    non-null only when duplicate field names are present."""
    for id_str, fv in entries:
        id_str = _s(id_str)
        packed = pack_id(id_str)
        if packed is None:
            continue
        pairs = [
            (_s(k), _s(v))
            for k, v in (fv.items() if isinstance(fv, dict) else fv)
        ]
        fields = dict(pairs)
        ms = packed // _SEQ_SPACE
        yield (
            stream_key,
            packed,
            datetime.datetime.fromtimestamp(
                ms / 1000.0, tz=datetime.timezone.utc
            ).replace(tzinfo=None),
            fields,
            pairs if len(fields) != len(pairs) else None,
        )


def _xrange_pairs(client, key: str, lo: str = "-", hi: str = "+", count=None):
    """XRANGE with ordered duplicate-field fidelity:
    `[(id, [(field, value), ...]), ...]`.

    redis-py's XRANGE response callback (pairs_to_dict) collapses
    duplicate field names, so for a real client this goes to the
    PROTOCOL level: check out a connection, send the command, read the
    raw reply (`[[id, [f1, v1, f2, v2, ...]], ...]`) with no callback
    applied. FakeRedis implements `xrange_pairs` natively. Clients with
    neither surface (injected stand-ins) fall back to the dict view —
    `record` degrades to null there, never wrong pairs."""
    fn = getattr(client, "xrange_pairs", None)
    if fn is not None:
        return fn(key, lo, hi, count=count)
    pool = getattr(client, "connection_pool", None)
    if pool is None:
        return client.xrange(key, lo, hi, count=count)
    args = ["XRANGE", key, lo, hi]
    if count is not None:
        args += ["COUNT", count]
    # a single-connection client (redis-py's Redis.client(), used for the
    # ASKING-pinned ASK retry) exposes its checked-out socket as
    # `.connection` — ride it instead of the pool so the preamble pairing
    # holds; the owner's close() releases it, not us
    pinned = getattr(client, "connection", None)
    if pinned is not None:
        borrowed = False
        conn = pinned
    else:
        borrowed = True
        try:
            conn = pool.get_connection()  # redis-py >= 5.3 signature
        except TypeError:  # older redis-py: command_name is required
            conn = pool.get_connection("XRANGE")
    # only CONNECTION failures retry (redis-py's call_with_retry scope):
    # a server-side ResponseError (WRONGTYPE, NOPERM) must propagate
    # without tearing down a healthy connection and re-issuing the same
    # failing command
    try:
        from redis.exceptions import ConnectionError as _RedisConnError
        from redis.exceptions import TimeoutError as _RedisTimeoutError

        retryable: tuple = (_RedisConnError, _RedisTimeoutError, OSError)
    except ImportError:  # injected client without redis-py installed
        retryable = (OSError,)
    try:
        try:
            conn.send_command(*args)
            resp = conn.read_response()
        except retryable:
            # the raw path bypasses redis-py's call_with_retry, so a
            # pooled connection that idled out (server `timeout`)
            # between micro-batches would kill a long-lived streaming
            # tail that client.xrange() used to survive — reconnect
            # once and reissue, mirroring redis-py's own retry
            conn.disconnect()
            conn.connect()
            conn.send_command(*args)
            resp = conn.read_response()
    except BaseException:
        # final failure (incl. a retry that died MID-REPLY): the
        # connection may hold an unconsumed partial reply, and a client
        # whose read_response does not disconnect on error would hand
        # that protocol-desynced connection to the next command — drop
        # the socket before the pool gets the connection back
        try:
            conn.disconnect()
        finally:
            if borrowed:
                pool.release(conn)
        raise
    else:
        if borrowed:
            pool.release(conn)
    out = []
    for entry_id, flat in resp or []:
        out.append(
            (
                _s(entry_id),
                list(zip(map(_s, flat[0::2]), map(_s, flat[1::2]))),
            )
        )
    return out


# ---------------------------------------------------------------------------
# client construction
# ---------------------------------------------------------------------------


class GearsRedisClusterError(RuntimeError):
    """The endpoint is a Redis CLUSTER node — out of this source's
    contract (see _ensure_single_node)."""


def _ensure_single_node(client) -> None:
    """SINGLE-NODE CONTRACT (VERDICT r7 #5): this source discovers keys
    with SCAN against ONE endpoint. Pointed at a cluster node, SCAN
    returns only that node's hash slots — a silently PARTIAL keyspace,
    the one way this source can lie to a user. The reference's cluster
    deployment routes by hash slot with MOVED/ASK redirects
    (redisgears_core/src/background_run_ctx.rs:179-231, rdb.rs:196-201
    calc_slot); replicating that needs per-node SCAN fan-out, which is
    explicitly not implemented. So: fail LOUDLY at discovery time when
    `INFO cluster` reports cluster_enabled:1. Clients without an INFO
    surface (injected stand-ins) are assumed single-node — they cannot
    be cluster proxies. The verdict is cached on the client object so
    a long-lived streaming tail pays one INFO round-trip, not one per
    micro-batch."""
    if getattr(client, "_gears_single_node_ok", False):
        return
    info = getattr(client, "info", None)
    enabled = 0
    if callable(info):
        try:
            enabled = int((info("cluster") or {}).get("cluster_enabled", 0))
        except GearsRedisClusterError:
            raise
        except Exception:
            # INFO unavailable (restricted ACL, stand-in client):
            # proceed — the contract is documented, not enforceable here
            enabled = 0
    if enabled:
        raise GearsRedisClusterError(
            "gears_redis: endpoint reports cluster_enabled:1 — a "
            "single-node SCAN here would silently read a PARTIAL "
            "keyspace. Opt into the slot-routing fan-out with the "
            "`cluster=fanout` source option (per-master SCAN union + "
            "MOVED/ASK redirect handling, sources/rediscluster.py), "
            "point the source at each master individually with "
            "non-overlapping `match` patterns, or run a single-node "
            "deployment."
        )
    try:
        client._gears_single_node_ok = True
    except Exception:
        pass  # clients with __slots__: re-check next call, still correct


def _make_client(options: dict):
    """Build the Redis client from data-source options.

    `cluster=fanout` opts into the slot-routing cluster client
    (sources/rediscluster.py): `fake_cluster_nodes="lo-hi:path,..."`
    builds it over FakeRedisClusterNode spools (offline contract
    tests); otherwise host/port seed a CLUSTER SLOTS discovery over
    redis-py. `fake_path` (test/offline transport) → `FakeRedis` over
    that spool file (`fake_cluster=1` makes it REPORT cluster mode, for
    refusal-contract tests). Otherwise redis-py over host/port/db/
    password — `decode_responses=True` so keys/fields arrive as str
    (the row converter also tolerates bytes for injected clients)."""
    if options.get("cluster") == "fanout":
        from redisgears_spark.sources.rediscluster import (
            make_fake_cluster_client,
            make_real_cluster_client,
        )

        spec = options.get("fake_cluster_nodes")
        if spec:
            return make_fake_cluster_client(spec)
        return make_real_cluster_client(options)  # pragma: no cover
    fake = options.get("fake_path")
    if fake:
        return FakeRedis(
            fake,
            cluster_enabled=str(options.get("fake_cluster", "0"))
            in ("1", "true"),
        )
    try:
        import redis  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - no redis-py in sandbox
        raise ImportError(
            "gears_redis needs the `redis` package (pip install redis) "
            "unless a `fake_path` option is given"
        ) from e
    return redis.Redis(  # pragma: no cover - needs a live server
        host=options.get("host", "localhost"),
        port=int(options.get("port", "6379")),
        db=int(options.get("db", "0")),
        password=options.get("password") or None,
        decode_responses=True,
    )


def _parse_match(options: dict) -> tuple[tuple, tuple, str | None]:
    """`match` option → (eqs, prefixes, glob). A trailing-`*` pattern with
    no other metacharacters is a prefix (the fast common case); a pattern
    with no metacharacters at all is an exact key name; anything else is
    a full Redis glob, passed to SCAN MATCH verbatim and re-checked
    client-side. Nothing is ever silently dropped — an exact `orders`
    or a `user:?` glob must narrow discovery, not widen it to `*`."""
    m = options.get("match", "")
    if not m:
        return (), (), None
    meta = set("*?[")
    if m.endswith("*") and not (meta & set(m[:-1])):
        return (), (m[:-1],), None
    if not (meta & set(m)):
        return (m,), (), None
    return (), (), m


def _scan_stream_keys(
    client, eqs: tuple, prefixes: tuple, glob: str | None = None
) -> list[str]:
    """Discover matching stream keys (the reference's bootstrap scan,
    lib.rs:1546-1574). Pushed equalities short-circuit to direct
    existence probes; otherwise SCAN with the narrowest MATCH pattern.
    Refuses cluster endpoints loudly (see _ensure_single_node) — even
    the direct-probe path, because TYPE against a non-owning cluster
    node answers MOVED, not the truth."""
    _ensure_single_node(client)
    if eqs:
        keys = [k for k in eqs if client.type(k) == "stream"]
    else:
        if glob is not None:
            match = glob
        else:
            match = prefixes[0] + "*" if len(prefixes) == 1 else "*"
        keys = [
            k.decode() if isinstance(k, bytes) else k
            for k in client.scan_iter(match=match, _type="STREAM")
        ]
    keys = [
        k
        for k in keys
        if all(k.startswith(p) for p in prefixes)
        and all(k == e for e in eqs)
        and (glob is None or fnmatch.fnmatchcase(k, glob))
    ]
    return sorted(set(keys))


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------


class _KeyPartition(InputPartition):
    def __init__(self, key: str, options: dict):
        self.key = key
        # options only (strings + picklable FakeRedis path) — a live
        # redis-py connection is not picklable; each task reconnects
        self.options = options


class RedisBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        eqs, prefixes, self._glob = _parse_match(options)
        self._key_eqs: list[str] = list(eqs)
        self._key_prefixes: list[str] = list(prefixes)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # conjunctive — every accepted filter narrows key discovery
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("stream_key",):
                self._key_eqs.append(f.value)
            elif isinstance(f, StringStartsWith) and f.attribute == (
                "stream_key",
            ):
                self._key_prefixes.append(f.value)
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        client = _make_client(self.options)
        keys = _scan_stream_keys(
            client,
            tuple(self._key_eqs),
            tuple(self._key_prefixes),
            self._glob,
        )
        # Never return an empty list: the Python data source runner
        # substitutes [None] for it and read(None) would crash — a scan
        # with zero matching streams is an empty DataFrame, not an error.
        return [_KeyPartition(k, self.options) for k in keys] or [
            _KeyPartition(None, self.options)
        ]

    def read(self, partition: _KeyPartition):
        if partition is None or partition.key is None:
            return  # zero matching streams — empty scan
        client = _make_client(partition.options)
        yield from _entry_rows(
            partition.key, _xrange_pairs(client, partition.key, "-", "+")
        )


# ---------------------------------------------------------------------------
# streaming tail
# ---------------------------------------------------------------------------


class RedisStreamTailReader(SimpleDataSourceStreamReader):
    """Offset = {"last": {stream_key: "ms-seq"}} — the reference's
    per-stream `last_read_id` map. First batch backfills every matching
    stream from the beginning (scan_key_space_for_streams semantics);
    keys created later are discovered on their first batch.

    Driver-side parsing, like the command-log tail: right for a live
    trigger feed (micro-batches are small); a multi-GB historical
    backfill should go through the batch reader's per-key partitions.
    """

    def __init__(self, options: dict):
        self.options = dict(options)
        self._eqs, self._prefixes, self._glob = _parse_match(options)
        self._count = int(options.get("batch_limit", "10000"))
        self._client = None

    def _c(self):
        if self._client is None:
            self._client = _make_client(self.options)
        return self._client

    def initialOffset(self) -> dict:
        return {"last": {}}

    def read(self, start: dict):
        last: dict = dict(start.get("last", {}))
        client = self._c()
        rows: list = []
        for key in _scan_stream_keys(
            client, self._eqs, self._prefixes, self._glob
        ):
            lo = "(" + last[key] if key in last else "-"
            entries = _xrange_pairs(client, key, lo, "+", count=self._count)
            if entries:
                new_rows = list(_entry_rows(key, entries))
                rows.extend(new_rows)
                last[key] = _s(entries[-1][0])
        return iter(rows), {"last": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        s, e = start.get("last", {}), end.get("last", {})
        client = self._c()
        rows: list = []
        for key, hi in e.items():
            lo = "(" + s[key] if key in s else "-"
            if key in s and s[key] == hi:
                continue  # no new entries for this key in (start, end]
            rows.extend(_entry_rows(key, _xrange_pairs(client, key, lo, hi)))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # trimming is the engine's job (maintain() → XTRIM MINID)


class RedisStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gears_redis"

    def schema(self) -> StructType:
        return REDIS_STREAM_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return RedisBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType):
        return RedisStreamTailReader(self.options)


def register_redis_source(spark) -> None:
    """Register for this session:
    `spark.read.format("gears_redis").option("match", "user:*")` plus
    host/port/db/password (or `fake_path`). Enables Python-source filter
    pushdown (the batch reader narrows key discovery with pushed
    stream_key predicates)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(RedisStreamDataSource)


# ---------------------------------------------------------------------------
# file-backed fake client (no server in the sandbox)
# ---------------------------------------------------------------------------


class FakeRedis:
    """In-memory-semantics, file-backed stand-in for the redis-py subset
    this module uses. State is one JSONL spool: each line
    `{"key": ..., "id": "ms-seq", "fields": {...}}` appended by `xadd`
    (or `{"trim": ...}` markers) — append-only, so concurrent readers in
    other processes (Spark's Python source runners) always see a
    consistent prefix. Explicit ids only: `xadd(..., id="*")` raises,
    auto-id needs a server clock and would make tests nondeterministic.

    Semantics mirrored from public Redis docs: XADD enforces strictly
    increasing ids per key; XRANGE is inclusive with `(`-exclusive
    bounds and COUNT; SCAN TYPE filters to streams; XTRIM MINID drops
    entries with id < minid and returns the evicted count.
    """

    def __init__(self, path: str, cluster_enabled: bool = False):
        self.path = path
        self._cluster_enabled = cluster_enabled
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        if not os.path.exists(path):
            with open(path, "a", encoding="utf-8"):
                pass
        # incremental parse state: the spool is append-only, so each call
        # folds in only the lines written since the last one (a full
        # re-parse per op made replay_commandlog_to_redis O(n^2))
        self._state: dict[str, list[tuple[int, str, dict]]] = {}
        self._pos = 0
        # generic keyspace (string/hash values + TTL marks) — in-memory,
        # process-local: the notification bridge holds ONE client object in
        # the driver, exactly like a real server's pub/sub delivers only to
        # live connections. The JSONL spool stays streams-only (it is the
        # cross-process replay surface for the gears_redis source).
        self._kv: dict = {}
        self._ttl: dict = {}
        # keyspace-notification analog (`notify-keyspace-events KEA`):
        # callables (event, key) invoked synchronously after each mutating
        # command — the FakeRedis twin of `__keyspace@<db>__:*` pub/sub
        self.notification_listeners: list = []

    def _notify(self, event: str, key: str) -> None:
        for listener in list(self.notification_listeners):
            listener(event, key)

    # -- state ------------------------------------------------------------

    def _streams(self) -> dict[str, list[tuple[int, str, dict]]]:
        try:
            size = os.path.getsize(self.path)
        except OSError:
            size = 0
        if size < self._pos:
            # spool replaced/truncated under us — rebuild from scratch
            self._state, self._pos = {}, 0
        if size == self._pos:
            return self._state
        with open(self.path, "rb") as fh:
            fh.seek(self._pos)
            data = fh.read()
        cut = data.rfind(b"\n") + 1  # complete lines only (mid-append safe)
        streams = self._state
        for raw in data[:cut].splitlines():
            line = raw.decode("utf-8").strip()
            if not line:
                continue
            d = json.loads(line)
            if "trim" in d:
                minid = pack_id(d["minid"])
                streams[d["trim"]] = [
                    e for e in streams.get(d["trim"], []) if e[0] >= minid
                ]
            elif "del" in d:
                streams.pop(d["del"], None)
            else:
                packed = pack_id(d["id"])
                if packed is None:
                    raise ValueError(f"unrepresentable id {d['id']!r}")
                # entries carry ORDERED pairs internally (real streams
                # keep duplicate field names; the dict view is a client-
                # side collapse) — "pairs" lines preserve duplicates,
                # legacy "fields" dict lines can't have had any
                pairs = (
                    [(k, v) for k, v in d["pairs"]]
                    if "pairs" in d
                    else list(d["fields"].items())
                )
                streams.setdefault(d["key"], []).append(
                    (packed, d["id"], pairs)
                )
        self._pos += cut
        return streams

    def _append(self, obj: dict) -> None:
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(obj) + "\n")

    # -- redis-py subset ---------------------------------------------------

    def xadd(self, name: str, fields: dict, id: str = "*") -> str:
        if id == "*":
            raise ValueError(
                "FakeRedis needs explicit 'ms-seq' ids (deterministic "
                "tests); auto-id needs a server clock"
            )
        packed = pack_id(id)
        if packed is None:
            raise ValueError(f"id {id!r} outside the packable space")
        # the strictly-increasing-id check and the append must be ONE
        # atomic step across processes (two writers could otherwise both
        # pass the check and interleave out-of-order ids, corrupting
        # ordering for every reader); an fcntl lock on a sidecar file
        # serializes check-then-append exactly like the real server's
        # single-threaded command loop serializes XADD
        import fcntl

        with open(self.path + ".lock", "a") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
            try:
                entries = self._streams().get(name, [])
                if entries and packed <= entries[-1][0]:
                    raise ValueError(
                        "XADD: The ID specified in XADD is equal or "
                        "smaller than the target stream top item"
                    )
                # dict input (the redis-py surface) or a pair sequence —
                # the raw-protocol XADD shape, which real servers accept
                # with duplicate field names; pairs preserve order
                pairs = [
                    (str(k), str(v))
                    for k, v in (
                        fields.items()
                        if isinstance(fields, dict)
                        else fields
                    )
                ]
                if not pairs:
                    raise ValueError("XADD needs at least one field")
                self._append({"key": name, "id": id, "pairs": pairs})
            finally:
                fcntl.flock(lock_fh, fcntl.LOCK_UN)
        self._notify("xadd", name)
        return id

    def xrange(self, name: str, min: str = "-", max: str = "+", count=None):
        lo_excl = False
        if isinstance(min, str) and min.startswith("("):
            lo_excl, min = True, min[1:]
        lo = 0 if min == "-" else pack_id(min if "-" in min else min + "-0")
        hi = (
            (1 << 63) - 1
            if max == "+"
            else pack_id(max if "-" in max else max + f"-{_SEQ_SPACE - 1}")
        )
        out = [
            # dict(pairs) = last-wins collapse, mirroring redis-py's
            # pairs_to_dict response callback
            (id_str, dict(pairs))
            for packed, id_str, pairs in self._streams().get(name, [])
            if (packed > lo if lo_excl else packed >= lo) and packed <= hi
        ]
        return out[:count] if count else out

    def xrange_pairs(
        self, name: str, min: str = "-", max: str = "+", count=None
    ):
        """Ordered duplicate-field-fidelity XRANGE — the raw-protocol
        view `_xrange_pairs` gets from a real server by bypassing the
        redis-py response callback."""
        lo_excl = False
        if isinstance(min, str) and min.startswith("("):
            lo_excl, min = True, min[1:]
        lo = 0 if min == "-" else pack_id(min if "-" in min else min + "-0")
        hi = (
            (1 << 63) - 1
            if max == "+"
            else pack_id(max if "-" in max else max + f"-{_SEQ_SPACE - 1}")
        )
        out = [
            (id_str, list(pairs))
            for packed, id_str, pairs in self._streams().get(name, [])
            if (packed > lo if lo_excl else packed >= lo) and packed <= hi
        ]
        return out[:count] if count else out

    def scan_iter(self, match: str = "*", _type: str | None = None):
        if _type is None:
            keys = set(self._streams()) | set(self._kv)
        else:
            want = _type.upper()
            if want == "STREAM":
                keys = set(self._streams())
            else:
                # SCAN TYPE over the generic keyspace, like a real server
                keys = {
                    k for k in self._kv if self.type(k).upper() == want
                }
        for key in sorted(keys):
            if fnmatch.fnmatchcase(key, match):
                yield key

    def type(self, name: str) -> str:
        if name in self._streams():
            return "stream"
        v = self._kv.get(name)
        if v is None:
            return "none"
        return "hash" if isinstance(v, dict) else "string"

    def info(self, section: str | None = None) -> dict:
        """INFO subset: the cluster section _ensure_single_node reads.
        `cluster_enabled=True` at construction (option `fake_cluster`)
        simulates a cluster node for the contract test."""
        return {"cluster_enabled": 1 if self._cluster_enabled else 0}

    def xtrim(self, name: str, minid: str | int | None = None, **kw) -> int:
        if minid is None:
            raise ValueError("FakeRedis supports XTRIM MINID only")
        minid_s = unpack_id(minid) if isinstance(minid, int) else minid
        before = len(self._streams().get(name, []))
        self._append({"trim": name, "minid": minid_s})
        return before - len(self._streams().get(name, []))

    def delete(self, name: str) -> int:
        existed = int(name in self._streams()) or int(name in self._kv)
        if name in self._streams():
            self._append({"del": name})
        self._kv.pop(name, None)
        self._ttl.pop(name, None)
        if existed:
            self._notify("del", name)
        return existed

    # -- generic keyspace (string/hash + TTL): the command surface the
    # keyspace-notification bridge observes. Mirrors public Redis
    # semantics; every mutation fires its notification event name.

    def set(self, name: str, value) -> bool:
        # real SET overwrites a key of ANY type (implicit DEL of a stream)
        if name in self._streams():
            self._append({"del": name})
        self._kv[name] = str(value)
        self._notify("set", name)
        return True

    def get(self, name: str):
        v = self._kv.get(name)
        return v if isinstance(v, str) or v is None else None

    def hset(self, name: str, key=None, value=None, mapping=None) -> int:
        if name in self._streams():
            raise ValueError(
                "WRONGTYPE Operation against a key holding the wrong "
                "kind of value"
            )
        h = self._kv.setdefault(name, {})
        if not isinstance(h, dict):
            raise ValueError(
                "WRONGTYPE Operation against a key holding the wrong "
                "kind of value"
            )
        added = 0
        items = dict(mapping or {})
        if key is not None:
            items[key] = value
        for k, v in items.items():
            added += int(str(k) not in h)
            h[str(k)] = str(v)
        self._notify("hset", name)
        return added

    def hgetall(self, name: str) -> dict:
        v = self._kv.get(name)
        return dict(v) if isinstance(v, dict) else {}

    def expire(self, name: str, seconds: int) -> bool:
        if name not in self._kv and name not in self._streams():
            return False
        self._ttl[name] = int(seconds)
        self._notify("expire", name)
        return True

    def force_expire(self, name: str) -> bool:
        """Deterministically lapse a TTL'd key — the test stand-in for the
        server clock reaching the deadline (FakeRedis never reads a real
        clock). Fires the 'expired' event, as the real active-expiry cycle
        does."""
        if name not in self._ttl:
            return False
        self._ttl.pop(name, None)
        self._kv.pop(name, None)
        if name in self._streams():
            self._append({"del": name})
        self._notify("expired", name)
        return True


# ---------------------------------------------------------------------------
# migration bridge: command log (AOF) <-> live server
# ---------------------------------------------------------------------------


def replay_commandlog_to_redis(log_dir: str, client) -> int:
    """Replay an AOF command-log spool into a live server — the
    migration on-ramp (restore a reference deployment's persisted
    streams into Redis, then point the trigger runtime at it with
    `source_format="redis"`). Segments replay in name order (the
    writer's append order), so per-key ids arrive monotonic, as XADD
    requires. Returns the number of entries written.

    Duplicate field names survive the replay: entries whose log line
    carries an ordered `record` pair list are written with
    `_xadd_pairs` (raw-protocol XADD — real servers accept duplicate
    field names; redis-py's dict-taking xadd cannot express them)."""
    from redisgears_spark.sources.commandlog import (
        CommandLogReader,
        _SegmentPartition,
    )

    reader = CommandLogReader({"path": log_dir})
    n = 0
    for part in reader.partitions():
        for stream_key, packed, _ts, fields, rec in reader.read_tuples(
            part
        ):
            if rec is not None:
                _xadd_pairs(client, stream_key, unpack_id(packed), rec)
            else:
                client.xadd(stream_key, fields, id=unpack_id(packed))
            n += 1
    return n


def _xadd_pairs(client, key: str, id_str: str, pairs) -> None:
    """XADD that preserves duplicate field names: FakeRedis takes the
    pair list directly; a real client goes through execute_command
    (flat field/value tokens, the raw XADD argument shape)."""
    if hasattr(client, "xrange_pairs"):  # FakeRedis surface
        client.xadd(key, pairs, id=id_str)
        return
    flat = [tok for kv in pairs for tok in kv]
    client.execute_command("XADD", key, id_str, *flat)


def dump_redis_to_commandlog(client, match: str, out_path: str) -> int:
    """The reverse bridge: snapshot a live server's matching streams
    into ONE atomic AOF segment (write_command_log's tmp+rename), so a
    Redis deployment becomes a replayable/queryable spool
    (`gears_commandlog` batch scan, archive, or trigger backfill).
    Returns the number of entries dumped."""
    from redisgears_spark.sources.commandlog import write_command_log

    eqs, prefixes, glob = _parse_match({"match": match})
    rows = []
    for key in _scan_stream_keys(client, eqs, prefixes, glob):
        # pair-fidelity read: duplicate field names survive into the log
        # (write_command_log accepts a pair sequence as `fields`)
        for id_str, pairs in _xrange_pairs(client, key, "-", "+"):
            packed = pack_id(_s(id_str))
            if packed is None:
                continue
            rows.append(
                {
                    "stream_key": key,
                    "id": packed,
                    "fields": [(_s(k), _s(v)) for k, v in (
                        pairs.items() if isinstance(pairs, dict) else pairs
                    )],
                }
            )
    write_command_log(rows, out_path)
    return len(rows)
