"""GearsEngine — the driver-side library/function registry.

Re-creates the reference's registration surface on Spark:

  * ``TFUNCTION LOAD [REPLACE] [CONFIG json] <code>`` →
    ``engine.load_library(setup_fn, name=..., replace=..., config=...)``
    with the same atomic swap + revert-on-failure semantics
    (reference: function_load_command.rs:199-246, revert 141-167).
  * ``registerFunction`` / ``registerAsyncFunction`` →
    ``lib.register_function(name, fn, flags=...)`` — name rules and
    duplicate checks match (lib.rs:1703-1713, 319-338).
  * ``TFCALL lib.fn`` → ``engine.call("lib", "fn", *args)`` (sync) /
    ``engine.call_async`` (thread-pool future — the reference's
    TFCALLASYNC background execution, v8_function_ctx.rs:387-437).
  * ``TFUNCTION DELETE`` / ``LIST`` → ``delete_library`` /
    ``list_libraries`` with per-function call/error/duration stats
    (function_list_command.rs:159-300 field parity).
  * Flags: NO_WRITES / RAW_ARGUMENTS / ALLOW_OOM
    (load_library_ctx.rs:67-79) — NO_WRITES is enforced by handing the
    callback a read-only client.

Design note (why this is NOT a port): the reference must broadcast library
code to every shard and persist it in RDB because execution lives inside
each Redis node. In Spark the driver owns the plan; executors receive
serialized closures per job automatically. So "load broadcast" is a no-op,
and registry persistence is a catalog concern (save/restore methods), not a
replication protocol.
"""

from __future__ import annotations

import importlib
import json
import re
import threading
import time
import traceback
import uuid
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redisgears_spark.functions.types import reply_shape
from redisgears_spark.sources.keyspace import PRIMARY_KEYS, TABLES, load_table

_NAME_RE = re.compile(r"^[A-Za-z0-9_]+$")

# function flags (reference: load_library_ctx.rs:67-79)
NO_WRITES = "no-writes"
ALLOW_OOM = "allow-oom"
RAW_ARGUMENTS = "raw-arguments"
_VALID_FLAGS = {NO_WRITES, ALLOW_OOM, RAW_ARGUMENTS}


class GearsError(Exception):
    """Engine-level error (the reference raises RESP errors)."""


@dataclass
class FunctionStats:
    """Per-function observability counters (TFUNCTION LIST vvv parity:
    num_trigger/success/failed + duration totals,
    function_list_command.rs:246-253 derives avg from totals)."""

    n_calls: int = 0
    n_success: int = 0
    n_failed: int = 0
    total_duration_s: float = 0.0
    last_error: str | None = None

    @property
    def avg_duration_s(self) -> float:
        return self.total_duration_s / self.n_calls if self.n_calls else 0.0


@dataclass
class RegisteredFunction:
    name: str
    fn: Callable[..., Any]
    flags: frozenset[str]
    is_async: bool
    description: str | None = None
    stats: FunctionStats = field(default_factory=FunctionStats)


def _setup_ref(setup: Callable) -> str | None:
    """Importable path of a library's setup callable, or None for closures.

    The reference persists library *source* in RDB and recompiles on load
    (rdb.rs:96-213). The Python analog of "the source" is the importable
    module-level setup function; lambdas/closures are session-local and
    marked non-persistable."""
    mod = getattr(setup, "__module__", None)
    qual = getattr(setup, "__qualname__", "")
    if not mod or "<lambda>" in qual or "<locals>" in qual:
        return None
    return f"{mod}:{qual}"


# windows at or above this are treated as unbounded (the admission gate and
# respool machinery are skipped — see streaming.triggers, which imports this)
UNBOUNDED_WINDOW = 10**9


class Background:
    """Marker returned by a function body to continue in the background —
    the analog of the reference's ``executeAsync`` promise
    (v8_native_functions.rs:696-763; docs Sync_Async.md:142-184): the
    function starts synchronously (cache-hit fast path pays no
    thread-pool dispatch) and only the returned continuation moves to a
    background worker."""

    __slots__ = ("fn",)

    def __init__(self, fn: Callable[["GearsClient"], Any]):
        self.fn = fn


def _reply(result: Any, client: "GearsClient") -> Any:
    """A body's value as the caller gets it: a ``Background`` resolves
    inline (lib.rs:1363-1366 only rejects it when blocking is not
    allowed), and a non-DataFrame reply obeys the JS→RESP conversion
    rules (v8_function_ctx.rs:58-141)."""
    if isinstance(result, Background):
        result = result.fn(client)
    return result if isinstance(result, DataFrame) else reply_shape(result)


class _Deadline(Exception):
    """Raised by GearsEngine._run_tagged when a job outlives its timeout."""


NO_PERMISSIONS_MSG = "No permissions to access a key"


class AclUser:
    """One ACL user: enabled flag + key glob patterns (the `~pattern`
    rules of `ACL SETUSER alice on ~cached:*`). Command rules have no
    Spark analog (the engine's whole surface is function dispatch) and
    are not modeled — declared in SURVEY §2.F."""

    __slots__ = ("name", "enabled", "key_patterns")

    def __init__(
        self, name: str, enabled: bool = True, key_patterns: tuple = ()
    ):
        self.name = name
        self.enabled = enabled
        self.key_patterns: tuple[str, ...] = tuple(key_patterns)


def _glob_to_regex(pattern: str) -> str:
    """Redis ACL key glob → regex source, transpiled faithfully from
    `stringmatchlen` (util.c): ``*`` any run, ``?`` one char, ``\\x``
    escapes x (a TRAILING backslash is a literal backslash, like the C
    loop's default case), ``[...]`` character classes with leading
    ``^`` negation and ``a-b`` ranges. Class fidelity details that
    matter (review-verified against the C source):

      * ``]`` closes the class IMMEDIATELY, even as the first body
        char — ``[]]`` is an EMPTY class (matches nothing; negated
        ``[^]`` matches anything) followed by a literal ``]``.
      * A range is any ``X-Y`` triple where Y is taken RAW — ``[a-]]``
        is the range a..']'; out-of-order bounds swap (``[9-0]`` ==
        ``[0-9]``); an escaped char cannot START a range (the escape
        branch consumes it as a literal first).
      * An unterminated class closes at end of pattern (NOT an error:
        ``user:[ab`` is the class {a,b} — so every pattern ACL SETUSER
        ever accepted stays loadable from persisted registries).

    Hand-rolled instead of fnmatch.translate so the SAME source is
    valid for Python `re` and the JVM (rlike): re.escape never emits
    alphabetic escapes (Java rejects those), empty classes emit the
    dual-engine-safe ``[^\\s\\S]`` / ``[\\s\\S]`` forms (a bare ``[]``
    is invalid in Python re)."""
    out = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "*":
            # [\s\S]* not .* — '.' skips newlines, stringmatchlen's '*'
            # matches any byte (review-found: 131/40k fuzz divergences
            # once '\n' joined the alphabet)
            out.append("[\\s\\S]*")
            i += 1
        elif ch == "?":
            out.append("[\\s\\S]")
            i += 1
        elif ch == "\\":
            if i + 1 < n:
                out.append(re.escape(pattern[i + 1]))
                i += 2
            else:  # trailing backslash is a literal (C default case)
                out.append(re.escape("\\"))
                i += 1
        elif ch == "[":
            j = i + 1
            negate = j < n and pattern[j] == "^"
            if negate:
                j += 1
            # items hold RAW chars / (lo, hi) ranges; escaping happens
            # at emission so the out-of-order-range swap compares real
            # characters, not escape sequences
            items: list = []
            while j < n:
                c = pattern[j]
                if c == "\\" and j + 1 < n:
                    items.append(pattern[j + 1])
                    j += 2
                elif c == "]":
                    j += 1
                    break
                elif j + 2 < n and pattern[j + 1] == "-":
                    lo, hi = c, pattern[j + 2]
                    if lo > hi:
                        lo, hi = hi, lo
                    items.append((lo, hi))
                    j += 3
                else:
                    items.append(c)
                    j += 1
            # loop falling off the end == unterminated class: closes
            # at end of pattern, exactly like stringmatchlen
            if not items:
                out.append("[\\s\\S]" if negate else "[^\\s\\S]")
            else:
                body = "".join(
                    f"{re.escape(p[0])}-{re.escape(p[1])}"
                    if isinstance(p, tuple)
                    else re.escape(p)
                    for p in items
                )
                out.append("[" + ("^" if negate else "") + body + "]")
            i = j
        else:
            out.append(re.escape(ch))
            i += 1
    return "".join(out)


class GearsClient:
    """What a callback receives as its first argument — the analog of the
    reference's ``client`` with its ``call(...)`` data-access surface
    (v8_native_functions.rs:513-624). Read path exposes fixture tables and
    SQL; write path (sink registration) is gated by NO_WRITES. Keyed
    access (`lookup`) is gated by the acting user's ACL key patterns —
    the reference authenticates every in-callback redis call as the
    calling user (lib.rs:700-712 `call_redis_command` →
    `authenticate_user`)."""

    def __init__(
        self, engine: "GearsEngine", read_only: bool, user: str = "default"
    ):
        self._engine = engine
        self._read_only = read_only
        self.spark = engine.spark
        self.user = user

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise GearsError(f"unknown table '{name}'")
        return load_table(self.spark, self._engine.sf_dir, name)

    def lookup(self, table: str, key: Any) -> DataFrame:
        """Keyed point read — the `client.call('get', key)` analog. The
        engine's keyspace names the row `<table>:<pk>`, and the acting
        user's ACL patterns are checked against that name BEFORE the
        pruned scan (the reference authenticates, then calls —
        lib.rs:700-712)."""
        if table not in PRIMARY_KEYS:
            raise GearsError(f"table '{table}' has no primary key mapping")
        self._engine.acl_check_key(self.user, f"{table}:{key}")
        return self.table(table).filter(
            F.col(PRIMARY_KEYS[table]) == F.lit(key)
        )

    def sql(self, statement: str) -> DataFrame:
        lowered = statement.lstrip().lower()
        if self._read_only and not lowered.startswith(("select", "with", "values")):
            raise GearsError("function flagged NO_WRITES attempted a write")
        return self.spark.sql(statement)

    def write(self, df: DataFrame, path: str, mode: str = "append") -> None:
        if self._read_only:
            raise GearsError("function flagged NO_WRITES attempted a write")
        df.write.mode(mode).parquet(path)

    def execute_async(self, fn: Callable[["GearsClient"], Any]) -> Background:
        """Hand the rest of the call to a background worker (the
        reference's ``executeAsync``). Return this from a function body
        invoked via ``engine.execute_async``: everything before it ran
        synchronously on the caller thread (the fast path); ``fn``
        completes on the pool."""
        return Background(fn)


class Library:
    """Unit of deployment (reference GearsLibraryCtx, lib.rs:243-254):
    named functions + trigger specs + config, with an api_version."""

    def __init__(
        self,
        name: str,
        api_version: str = "1.0",
        config: dict[str, Any] | None = None,
    ):
        if not _NAME_RE.match(name):
            raise GearsError(
                f"library name '{name}' must match [A-Za-z0-9_]+"
            )  # prologue name rules, prologue.rs:194-266
        if api_version not in ("1.0", "1.1"):
            raise GearsError(f"unsupported api_version '{api_version}'")
        self.name = name
        self.api_version = api_version
        self.config: dict[str, Any] = dict(config or {})
        self.functions: dict[str, RegisteredFunction] = {}
        self.stream_triggers: dict[str, dict[str, Any]] = {}
        self.keyspace_triggers: dict[str, dict[str, Any]] = {}
        self.cluster_functions: dict[str, Callable[..., Any]] = {}
        # import path of the setup callable, for registry persistence
        self._setup_ref: str | None = None
        # the setup callable itself, for the WITHCODE listing
        self._setup: Callable[[Library], None] | None = None

    # -- registration API (called from the library's setup function) --------

    def _check_name(self, name: str, registry: dict) -> None:
        if not _NAME_RE.match(name):
            raise GearsError(f"function name '{name}' must match [A-Za-z0-9_]+")
        if name in registry:
            raise GearsError(f"'{name}' already registered")  # lib.rs:319-338

    def register_function(
        self,
        name: str,
        fn: Callable[..., Any],
        flags: set[str] | frozenset[str] = frozenset(),
        description: str | None = None,
        is_async: bool = False,
    ) -> None:
        self._check_name(name, self.functions)
        bad = set(flags) - _VALID_FLAGS
        if bad:
            raise GearsError(f"unknown flags {sorted(bad)}")
        self.functions[name] = RegisteredFunction(
            name, fn, frozenset(flags), is_async, description
        )

    def register_async_function(self, name: str, fn, flags=frozenset(), description=None):
        self.register_function(name, fn, flags, description, is_async=True)

    def register_stream_trigger(
        self,
        name: str,
        prefix: str,
        fn: Callable[..., Any] | None = None,
        window: int = 1,
        trim_stream: bool = False,
        description: str | None = None,
        mode: str = "sync",
        expr: str | None = None,
        agg_expr: dict[str, str] | None = None,
    ) -> None:
        """Spec only — execution wiring lives in streaming.triggers.

        mode: 'sync' runs the callback inside the ingest micro-batch
        (atomic with the batch transaction — the reference's sync callback
        is atomic with the event); 'async' decouples it behind a queue, so
        callback failures/slowness never block the ingest frontier (the
        reference's coroutine consumers: queued to background, no
        ordering/atomicity guarantee — v8_stream_ctx.rs async path).

        expr: DECLARATIVE alternative to `fn` — a Catalyst SQL expression
        over the canonical record (columns `stream_key`, `id`, `id_ts`,
        `fields` map) evaluating to the STRING result payload. The whole
        callback pipeline then stays JVM-side (whole-stage codegen, no
        Python worker roundtrip, no per-key sort — a stateless row
        expression needs no ordering), which benchmarks at near-baseline
        throughput. The reference has no analog (every V8 callback pays
        the engine→V8 boundary per record); this is the Spark-native
        fast path for the common enrich/reshape trigger.

        agg_expr: DECLARATIVE AGGREGATING trigger — a dict of
        output_column → Catalyst aggregate SQL over each stream_key's
        records WITHIN a micro-batch (e.g. ``{"n": "count(1)", "total":
        "sum(cast(fields['value'] as double))"}``). One sink row per key
        per batch carries the aggregates as a JSON payload; n_success
        counts emitted aggregate rows, and the per-key frontier still
        advances to max(id). This is the common counter/rollup consumer
        the reference hand-rolls in a callback with client.call writes —
        here it is a JVM-side partial/final hash aggregate, zero Python.
        Per-BATCH scope by design; a RUNNING per-key aggregate across
        batches is the stateful operator (streaming/stateful.py)."""
        if window < 1:
            raise GearsError("window must be >= 1")  # v8_native_functions.rs:1148
        if mode not in ("sync", "async"):
            raise GearsError("mode must be 'sync' or 'async'")
        if sum(x is not None for x in (fn, expr, agg_expr)) != 1:
            raise GearsError("exactly one of fn/expr/agg_expr is required")
        if agg_expr is not None and window < UNBOUNDED_WINDOW:
            raise GearsError(
                "declarative (agg_expr) triggers require an unbounded "
                f"window (window >= {UNBOUNDED_WINDOW})"
            )
        if expr is not None and window < UNBOUNDED_WINDOW:
            # the admission gate orders per key; a declarative trigger is
            # stateless by construction, so a bounded window would silently
            # change semantics — require the unbounded sentinel
            raise GearsError(
                "declarative (expr) triggers require an unbounded window "
                f"(window >= {UNBOUNDED_WINDOW})"
            )
        self._check_name(name, self.stream_triggers)
        self.stream_triggers[name] = {
            "prefix": prefix,
            "fn": fn,
            "expr": expr,
            "agg_expr": agg_expr,
            "window": window,
            "trim_stream": trim_stream,
            "description": description,
            "mode": mode,
        }

    def register_keyspace_trigger(
        self,
        name: str,
        prefix: str,
        fn: Callable[..., Any] | None = None,
        on_trigger_fired: Callable[..., Any] | None = None,
        description: str | None = None,
        expr: str | None = None,
    ) -> None:
        """`expr` is the declarative alternative to `fn` (see
        register_stream_trigger): a Catalyst SQL expression over the
        change record (columns `seq`, `key`, `event`, `ts`, `snapshot`
        map) evaluating to the STRING result — the callback pipeline then
        stays JVM-side. Incompatible with `on_trigger_fired` (the
        snapshot-view stage is a Python-callback concept; a declarative
        trigger reads `snapshot` directly in the expression)."""
        if (fn is None) == (expr is None):
            raise GearsError("exactly one of fn/expr is required")
        if expr is not None and on_trigger_fired is not None:
            raise GearsError(
                "on_trigger_fired is not supported with expr — read the "
                "snapshot map directly in the expression"
            )
        self._check_name(name, self.keyspace_triggers)
        self.keyspace_triggers[name] = {
            "prefix": prefix,
            "fn": fn,
            "expr": expr,
            "on_trigger_fired": on_trigger_fired,
            "description": description,
        }

    def register_cluster_function(self, name: str, fn: Callable[..., Any]) -> None:
        """Partition-scoped function for run_on_shards (read-only, like the
        reference's remote functions — background_run_ctx.rs:102-155)."""
        self._check_name(name, self.cluster_functions)
        self.cluster_functions[name] = fn


class GearsEngine:
    """The engine: registry + dispatch + distribution."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str = "/root/testdata/sf0.001",
        fatal_failure_policy: str = "abort",
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self._libraries: dict[str, Library] = {}
        self._lock = threading.RLock()
        # reference execution-threads: 1-32 background workers (lib.rs:1912)
        self._pool = ThreadPoolExecutor(max_workers=8, thread_name_prefix="rg-exec")
        # admission-control state (§2.F guards)
        self._oom = False
        self._read_only = False
        # library-fatal-failure-policy (reference config.rs:105-117):
        # 'abort' cancels the offending call; 'kill' additionally unloads
        # the library whose function blew the timeout
        if fatal_failure_policy not in ("abort", "kill"):
            raise GearsError(
                "fatal_failure_policy must be 'abort' or 'kill'"
            )
        self.fatal_failure_policy = fatal_failure_policy
        # trigger runtimes that feed TFUNCTION LIST-style stats
        self._runtimes: list[Any] = []
        # ACL registry (reference: per-user key patterns checked on every
        # in-function key access, lib.rs:700-712; libraries are owned by
        # the loading user and their triggers act as that user,
        # stream_run_ctx.rs:144-153). The default user is unrestricted.
        self._acl_users: dict[str, AclUser] = {
            "default": AclUser("default", True, ("*",))
        }
        self._current_user = "default"

    # -- ACL (§2.F) ----------------------------------------------------------

    def acl_setuser(
        self,
        name: str,
        *,
        enabled: bool | None = None,
        key_patterns: tuple | list = (),
        reset: bool = False,
    ) -> None:
        """`ACL SETUSER` analog: create/update a user. Like the Redis
        command, key patterns are ADDITIVE across calls; `reset=True`
        clears the existing rule set first (`ACL SETUSER u reset`), and
        on/off is UNCHANGED when not specified — a later pattern-only
        update must not re-enable a suspended user. New users default to
        enabled (matching the repo's pre-existing callers; Redis proper
        defaults new users to off)."""
        for p in key_patterns:
            # compile sanity: stringmatchlen accepts EVERY pattern
            # (unterminated classes close at end, trailing backslash is
            # literal), so this never raises for user input — it guards
            # against translator bugs only, and keeps old persisted
            # registries loadable.
            re.compile(_glob_to_regex(p))
        with self._lock:
            old = self._acl_users.get(name)
            patterns = () if reset or old is None else old.key_patterns
            if enabled is None:
                enabled = True if old is None else old.enabled
            self._acl_users[name] = AclUser(
                name, enabled, patterns + tuple(key_patterns)
            )

    def acl_deluser(self, name: str) -> None:
        """`ACL DELUSER`: the user's next key access fails (the reference
        authenticates at ACCESS time, so deleting a user mid-function
        fails its next call — pytests/test_acl.py
        testAclUserDeletedWhileFunctionIsRunning)."""
        if name == "default":
            raise GearsError("the default user cannot be deleted")
        with self._lock:
            self._acl_users.pop(name, None)
            # The session stays authed as the (now nonexistent) user:
            # acl_read_regex resolves at ACCESS time, so every subsequent
            # keyed access denies — matching the reference, which fails the
            # running function's next call rather than silently escalating
            # the session back to the unrestricted default user.

    def auth(self, name: str) -> None:
        """`AUTH` analog: subsequent calls (and libraries loaded) act as
        this user."""
        with self._lock:
            u = self._acl_users.get(name)
            if u is None or not u.enabled:
                raise GearsError(f"unknown or disabled user '{name}'")
            self._current_user = name

    @property
    def current_user(self) -> str:
        return self._current_user

    def acl_read_regex(self, user: str) -> str | None:
        """The user's key permissions as ONE regex source, resolved at
        call time (event-time semantics: deleting/disabling the user
        changes the next resolution). None = unrestricted (the zero-cost
        fast path); a never-matching regex = deny-all (user gone or
        disabled or no patterns)."""
        with self._lock:
            u = self._acl_users.get(user)
            if u is None or not u.enabled or not u.key_patterns:
                return "(?!x)x"  # matches nothing (valid in re AND Java)
            if "*" in u.key_patterns:
                return None
            return (
                "(?:" + "|".join(_glob_to_regex(p) for p in u.key_patterns) + ")"
            )

    def acl_allows(self, user: str, key: str) -> bool:
        rx = self.acl_read_regex(user)
        return rx is None or re.fullmatch(rx, key) is not None

    def acl_check_key(self, user: str, key: str) -> None:
        if not self.acl_allows(user, key):
            raise GearsError(f"{NO_PERMISSIONS_MSG} ('{key}')")

    # -- admission control (§2.F) -------------------------------------------

    def set_oom(self, flag: bool) -> None:
        """Simulate the OOM admission state: while set, only functions
        flagged ALLOW_OOM or NO_WRITES may run (reference verify_oom,
        lib.rs:1286-1297 — writes are what memory pressure must block)."""
        self._oom = flag

    def set_read_only(self, flag: bool) -> None:
        """Replica/read-only gate: while set, functions that may write
        (no NO_WRITES flag) are refused (verify_ok_on_replica,
        lib.rs:1299-1313)."""
        self._read_only = flag

    def register_trigger_runtime(self, runtime: Any) -> None:
        """Called by trigger runtimes so list_libraries can surface their
        per-trigger stats (TFUNCTION LIST vvv parity)."""
        self._runtimes.append(runtime)

    # -- TFUNCTION LOAD ------------------------------------------------------

    def load_library(
        self,
        setup: Callable[[Library], None],
        name: str,
        api_version: str = "1.0",
        replace: bool = False,
        config: str | dict[str, Any] | None = None,
    ) -> Library:
        """Evaluate ``setup(lib)`` (the analog of evaluating the JS top level,
        which performs registrations) and atomically install the library.
        On upgrade failure the old library stays installed — the reference's
        revert semantics (function_load_command.rs:141-167)."""
        if isinstance(config, str):
            try:
                config = json.loads(config)
            except json.JSONDecodeError as e:
                raise GearsError(f"CONFIG must be a JSON object: {e}") from e
            if not isinstance(config, dict):
                raise GearsError("CONFIG must be a JSON object")
        with self._lock:
            old = self._libraries.get(name)
            if old is not None and not replace:
                raise GearsError(
                    f"library '{name}' already exists, use replace=True"
                )
            # revert: any failure below raises before the swap, so the old
            # library remains untouched
            lib = Library(name, api_version, config)
            setup(lib)
            if not (
                lib.functions
                or lib.stream_triggers
                or lib.keyspace_triggers
                or lib.cluster_functions
            ):
                # reference: 'No function nor registrations was
                # registered' (pytests/test_errors.py testNoRegistrations)
                raise GearsError(
                    f"library '{name}' registered no functions nor triggers"
                )
            if old is not None:
                self._check_upgrade(old, lib)
            lib._setup_ref = _setup_ref(setup)
            lib._setup = setup  # retained for the WITHCODE listing
            # the loading user OWNS the library: its triggers act as this
            # user (reference stores the user with the library and
            # authenticates trigger key reads as it,
            # stream_run_ctx.rs:144-153)
            lib.user = self._current_user
            self._libraries[name] = lib
            return lib

    @staticmethod
    def _check_upgrade(old: Library, new: Library) -> None:
        """Upgrade rules (reference lib.rs:411-439): a stream trigger kept
        across an upgrade may change window/trim/callback but NOT its prefix
        — the prefix defines the consumer's stream identity, and changing it
        would silently orphan the acked frontier (checkpoint state is keyed
        by (library, trigger))."""
        for name, spec in new.stream_triggers.items():
            old_spec = old.stream_triggers.get(name)
            if old_spec is not None and old_spec["prefix"] != spec["prefix"]:
                raise GearsError(
                    f"stream trigger '{name}': prefix may not change on "
                    f"upgrade ('{old_spec['prefix']}' -> '{spec['prefix']}')"
                )

    # -- TFUNCTION DELETE / LIST --------------------------------------------

    def delete_library(self, name: str) -> None:
        with self._lock:
            if name not in self._libraries:
                raise GearsError(f"unknown library '{name}'")
            del self._libraries[name]
        self._stop_library_triggers(name)

    def _stop_library_triggers(self, name: str) -> None:
        """Unloading a library takes its running trigger queries with it
        (the reference drops stream/keyspace consumers with the
        GearsLibraryCtx on FUNCTION DELETE and on fatal Kill)."""
        for rt in self._runtimes:
            stop = getattr(rt, "stop_library", None)
            if stop is not None:
                stop(name)

    def list_libraries(
        self, verbose: int = 0, with_code: bool = False,
        library: str | None = None,
    ) -> list[dict[str, Any]]:
        """Library listing (TFUNCTION LIST analog). `with_code=True` is the
        WITHCODE option (function_list_command.rs:302-333): includes the
        library's setup source where Python can recover it (None for
        lambdas/builtins — the registry stores callables, not text).
        `library=name` is the LIBRARY filter (function_list_command.rs
        LIBRARY arg): restrict the listing to one library; unknown names
        list empty, like the reference."""
        with self._lock:
            out = []
            for lib in self._libraries.values():
                if library is not None and lib.name != library:
                    continue
                entry: dict[str, Any] = {
                    "name": lib.name,
                    "api_version": lib.api_version,
                    # the owning (loading) user — TFUNCTION LIST's `user`
                    # field (pytests/test_acl.py asserts it)
                    "user": getattr(lib, "user", "default"),
                }
                if with_code:
                    import inspect

                    try:
                        entry["code"] = inspect.getsource(lib._setup)
                    except (OSError, TypeError):
                        entry["code"] = None
                if verbose >= 1:
                    entry["functions"] = [
                        {
                            "name": f.name,
                            "flags": sorted(f.flags),
                            "is_async": f.is_async,
                            "description": f.description,
                        }
                        for f in lib.functions.values()
                    ]
                    for kind in ("stream_triggers", "keyspace_triggers"):
                        entry[kind] = [
                            self._trigger_entry(lib, kind, n, spec, verbose)
                            for n, spec in getattr(lib, kind).items()
                        ]
                if verbose >= 2:
                    for fe, f in zip(entry["functions"], lib.functions.values()):
                        fe["stats"] = {
                            "n_calls": f.stats.n_calls,
                            "n_success": f.stats.n_success,
                            "n_failed": f.stats.n_failed,
                            "avg_duration_s": f.stats.avg_duration_s,
                            "last_error": f.stats.last_error,
                        }
                out.append(entry)
            return out

    def _trigger_entry(
        self, lib: Library, kind: str, name: str, spec: dict, verbose: int
    ) -> dict[str, Any]:
        """One trigger's listing row; at verbose>=2 merges live runtime
        stats (num_trigger/success/failed, last_error, pending — the
        TFUNCTION LIST vvv per-trigger fields,
        function_list_command.rs:159-300) from a runtime of the trigger's
        `kind`: a stream trigger and a keyspace trigger may share a name."""
        entry: dict[str, Any] = {
            "name": name,
            "prefix": spec["prefix"],
            "description": spec.get("description"),
        }
        if "window" in spec:
            entry["window"] = spec["window"]
        if "mode" in spec:
            entry["mode"] = spec["mode"]
        if verbose >= 2:
            qkey = f"{lib.name}.{name}"
            for rt in self._runtimes:
                if getattr(rt, "trigger_kind", None) != kind:
                    continue
                stats = rt.trigger_stats(qkey)
                if stats is not None:
                    entry["stats"] = stats
                    break
        return entry

    # -- TFCALL --------------------------------------------------------------

    def _resolve(
        self, lib_name: str, fn_name: str, cluster: bool = False
    ) -> tuple[Library, Any]:
        """Look up a library's function — its cluster function when
        `cluster` — under the registry lock."""
        with self._lock:
            lib = self._libraries.get(lib_name)
            if lib is None:
                raise GearsError(f"unknown library '{lib_name}'")
            fn = (lib.cluster_functions if cluster else lib.functions).get(
                fn_name
            )
            if fn is None:
                raise GearsError(
                    f"unknown cluster function '{fn_name}'"
                    if cluster
                    else f"unknown function '{lib_name}.{fn_name}'"
                )
            return lib, fn

    def _admit(self, rf: RegisteredFunction) -> None:
        """Guards run before every invocation (§2.F)."""
        if self._oom and not ({ALLOW_OOM, NO_WRITES} & rf.flags):
            raise GearsError(
                f"'{rf.name}' rejected: engine is OOM and the function has "
                "neither ALLOW_OOM nor NO_WRITES"
            )
        if self._read_only and NO_WRITES not in rf.flags:
            raise GearsError(
                f"'{rf.name}' rejected: engine is read-only and the function "
                "is not flagged NO_WRITES"
            )

    def _record(
        self, rf: RegisteredFunction, started: float, error: str | None
    ) -> None:
        """Settle one call in its function's stats, the only writer of
        FunctionStats. `_invoke` calls it once per call, on the thread that
        hands the outcome to the caller; the lock keeps every listing at
        n_success + n_failed == n_calls."""
        with self._lock:
            stats = rf.stats
            stats.n_calls += 1
            stats.total_duration_s += time.perf_counter() - started
            if error is None:
                stats.n_success += 1
            else:
                stats.n_failed += 1
                stats.last_error = error

    # how often a timed-out call's job tag is cancelled again while its
    # body still runs
    _CANCEL_POLL_S = 0.1

    def _run_tagged(self, job: Callable[[], Any], timeout: float | None) -> Any:
        """Run ``job()`` on the pool under a fresh SparkContext job tag.
        Past `timeout` seconds a still-queued `job` is dropped, the tag's
        active Spark jobs are cancelled and `_Deadline` is raised. Python
        code cannot be interrupted: a started `job` runs on until it
        returns, so a daemon thread keeps cancelling the tag every
        `_CANCEL_POLL_S` until then, and a Spark job the body starts after
        the deadline is cancelled within that period."""
        sc = self.spark.sparkContext
        tag = f"rg-{uuid.uuid4().hex}"

        def tagged() -> Any:
            sc.addJobTag(tag)
            try:
                return job()
            finally:
                sc.removeJobTag(tag)

        def cancel_until_returned() -> None:
            while not wait([fut], timeout=self._CANCEL_POLL_S).done:
                sc.cancelJobsWithTag(tag)

        fut = self._pool.submit(tagged)
        if not wait([fut], timeout=timeout).done:
            fut.cancel()
            sc.cancelJobsWithTag(tag)
            threading.Thread(
                target=cancel_until_returned, name="rg-deadline", daemon=True
            ).start()
            raise _Deadline
        return fut.result()

    def _invoke(
        self,
        lib: Library,
        rf: RegisteredFunction,
        args: tuple,
        user: str,
        timeout: float | None = None,
        allow_background: bool = False,
    ) -> Any:
        """The one call path: admit, decode, run the body (under
        `_run_tagged` when `timeout` is set), shape the reply and settle
        the stats once. With `allow_background` a ``Background`` reply
        becomes the Future of its continuation, which settles the call.
        `user` is captured when the call is issued: by the time a pool
        worker runs this, the session may have re-authed."""
        self._admit(rf)
        # RAW_ARGUMENTS: pass bytes through untouched; default decodes
        # bytes→str erroring on invalid utf-8 (v8_function_ctx.rs:253-267)
        if RAW_ARGUMENTS not in rf.flags:
            decoded = []
            for a in args:
                if isinstance(a, (bytes, bytearray)):
                    try:
                        a = bytes(a).decode("utf-8")
                    except UnicodeDecodeError as e:
                        raise GearsError(
                            "invalid utf-8 argument (use RAW_ARGUMENTS)"
                        ) from e
                decoded.append(a)
            args = tuple(decoded)
        # the acting user is the CALLER (the reference authenticates
        # in-function redis calls as the user issuing TFCALL/TFCALLASYNC)
        client = GearsClient(self, read_only=NO_WRITES in rf.flags, user=user)
        started = time.perf_counter()

        def body() -> Any:
            result = rf.fn(client, *args)
            if allow_background and isinstance(result, Background):
                return result  # executeAsync handoff, settled by settle()
            return _reply(result, client)

        def settle(run: Callable[[], Any]) -> Any:
            try:
                result = run()
            except _Deadline:
                # fatal policy (config.rs:105-117): Abort cancelled the
                # call's Spark jobs; Kill also unloads the library
                killed = ""
                if self.fatal_failure_policy == "kill":
                    with self._lock:
                        self._libraries.pop(lib.name, None)
                    self._stop_library_triggers(lib.name)
                    killed = "; library unloaded (fatal policy: kill)"
                self._record(
                    rf, started, f"timeout after {timeout}s (aborted){killed}"
                )
                raise GearsError(
                    f"'{lib.name}.{rf.name}' exceeded {timeout}s and was "
                    f"aborted{killed}"
                ) from None
            except Exception as e:
                self._record(rf, started, f"{type(e).__name__}: {e}")
                raise
            if isinstance(result, Background):
                return self._pool.submit(settle, lambda: _reply(result, client))
            self._record(rf, started, None)
            return result

        if timeout is None:
            return settle(body)
        return settle(lambda: self._run_tagged(body, timeout))

    def call(
        self, lib_name: str, fn_name: str, *args: Any, timeout: float | None = None
    ) -> Any:
        """Sync invocation (TFCALL). Async-registered functions must go
        through call_async (the reference rejects async fns when blocking is
        not allowed — lib.rs:1363-1366).

        `timeout` is the analog of the reference's lock-timeout watchdog
        (v8_backend.rs:567-613, default policy Abort): the body runs on the
        engine's pool under a SparkContext job tag; at the deadline the
        call raises, its in-flight Spark jobs are cancelled, and the call
        counts once, as failed, whatever the body does afterwards. A body
        busy in Python code runs on until it returns — only its Spark work
        can be cancelled, including jobs it starts after the deadline.
        Bounded worst-case blocking, same contract."""
        # acting user captured at ENTRY (same submission-time capture the
        # async paths use): a concurrent auth() on another thread must not
        # silently re-identify a sync call already past its entry point
        user = self._current_user
        lib, rf = self._resolve(lib_name, fn_name)
        if rf.is_async:
            # the reference rejects async functions via TFCALL when blocking
            # is not allowed (lib.rs:1363-1366)
            raise GearsError(
                f"'{lib_name}.{fn_name}' is async — invoke via call_async"
            )
        return self._invoke(lib, rf, args, user, timeout=timeout)

    def call_async(self, lib_name: str, fn_name: str, *args: Any) -> Future:
        """Background invocation (TFCALLASYNC): submitted to the engine's
        thread pool; Spark jobs launched inside run concurrently under the
        scheduler. Returns a Future."""
        lib, rf = self._resolve(lib_name, fn_name)
        return self._pool.submit(
            self._invoke, lib, rf, args, self._current_user
        )

    def execute_async(self, lib_name: str, fn_name: str, *args: Any) -> Future:
        """Hybrid invocation — the reference's ``executeAsync`` contract
        (v8_native_functions.rs:696-763; Sync_Async.md:142-184): the
        function body starts SYNCHRONOUSLY on the caller thread; if it
        returns a plain value (the cache-hit fast path) the returned
        Future is already resolved — zero thread-pool dispatch cost. Only
        when the body hands back ``client.execute_async(cont)`` does the
        continuation move to a background worker."""
        user = self._current_user  # captured at entry, like call()
        lib, rf = self._resolve(lib_name, fn_name)
        if rf.is_async:
            # async-registered functions never had a sync fast path
            return self._pool.submit(self._invoke, lib, rf, args, user)
        result = self._invoke(lib, rf, args, user, allow_background=True)
        if isinstance(result, Future):  # continuation handed to the pool
            return result
        fut: Future = Future()
        fut.set_result(result)
        return fut

    # -- registry persistence (RDB save/restore analog) ----------------------

    def save_registry(self, path: str) -> None:
        """Persist the registry catalog (reference rdb.rs:52-94 serializes
        name/code/config per library; per-consumer stream frontiers live in
        streaming checkpoints here, so only the catalog is saved). Libraries
        whose setup is a closure are skipped — like the reference, what is
        persisted must be re-evaluable (an importable setup function)."""
        with self._lock:
            catalog = [
                {
                    "name": lib.name,
                    "api_version": lib.api_version,
                    "config": lib.config,
                    "setup": lib._setup_ref,
                    "user": getattr(lib, "user", "default"),
                }
                for lib in self._libraries.values()
                if lib._setup_ref is not None
            ]
            # ACL users persist with the catalog (the reference keeps the
            # owning user with each serialized library; without the user
            # registry a restored owner would silently deny everything)
            acl = [
                {
                    "name": u.name,
                    "enabled": u.enabled,
                    "key_patterns": list(u.key_patterns),
                }
                for u in self._acl_users.values()
            ]
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"version": 1, "libraries": catalog, "acl_users": acl}, fh,
                indent=1,
            )
        import os

        os.replace(tmp, path)

    def restore_registry(self, path: str) -> list[str]:
        """Reload the catalog: re-import and re-evaluate each setup function
        (the reference recompiles library code on RDB load, rdb.rs:96-213).
        Returns loaded library names."""
        with open(path) as fh:
            catalog = json.load(fh)
        for u in catalog.get("acl_users", []):
            self.acl_setuser(
                u["name"],
                enabled=u["enabled"],
                key_patterns=tuple(u["key_patterns"]),
                reset=True,
            )
        loaded = []
        for entry in catalog["libraries"]:
            mod_name, _, qual = entry["setup"].partition(":")
            fn: Any = importlib.import_module(mod_name)
            for part in qual.split("."):
                fn = getattr(fn, part)
            lib = self.load_library(
                fn,
                name=entry["name"],
                api_version=entry["api_version"],
                replace=True,
                config=entry["config"],
            )
            # restore ownership (load stamps the restoring session's user)
            lib.user = entry.get("user", "default")
            loaded.append(entry["name"])
        return loaded

    # -- cluster functions (runOnShards / runOnKey analogs) ------------------

    def run_on_shards(
        self, lib_name: str, fn_name: str, df: DataFrame, *args: Any
    ) -> list[Any]:
        """Scatter a registered cluster function across the partitions of
        ``df``, gather per-partition JSON results (the reference scatters to
        shards and gathers [results, errors] — background_run_ctx.rs:207-231).
        Per-partition errors are gathered, not raised, matching reference
        semantics (test_cluster.py:127-156)."""
        _, fn = self._resolve(lib_name, fn_name, cluster=True)

        # args must be JSON-serializable (reference serialization contract,
        # v8_native_functions.rs:236-255: JSON or raw binary only)
        payload = json.dumps(list(args))

        def run_partition(it):
            import json as _json

            local_args = _json.loads(payload)
            try:
                yield _json.dumps({"ok": fn(it, *local_args)})
            except Exception as e:  # gather, don't fail the job
                yield _json.dumps(
                    {"error": f"{type(e).__name__}: {e}",
                     "trace": traceback.format_exc(limit=3)}
                )

        results = df.rdd.mapPartitions(run_partition).collect()
        return [json.loads(r) for r in results]

    def run_on_key(
        self,
        lib_name: str,
        fn_name: str,
        table: str,
        key: Any,
        *args: Any,
        timeout: float | None = 30.0,
    ) -> Any:
        """Route a read-only task to the data owning `key` — the runOnKey
        analog (v8_native_functions.rs:316-378; libmr dispatch
        background_run_ctx.rs:179-205).

        The reference hash-slots the key to a shard; Spark's analog is an
        equality predicate on the table's primary key, which Catalyst pushes
        into the scan (partition pruning / row-group skipping), so only the
        partition(s) owning the key are read — no user-visible routing.
        The function receives the matching rows iterator. Timeouts raise,
        like the reference's remote-task-default-timeout (lib.rs:1913).
        Config parity note: the reference defaults that timeout to 500 ms —
        appropriate for an in-memory hash-slot hop; a Spark job that reads
        parquet cold needs more, hence 30 s here. Pass ``timeout=0.5`` for
        reference-identical behavior."""
        _, fn = self._resolve(lib_name, fn_name, cluster=True)
        if table not in PRIMARY_KEYS:
            raise GearsError(f"table '{table}' has no primary key mapping")
        # keyed dispatch authenticates the calling user against the target
        # key, like every keyed access (lib.rs:700-712)
        self.acl_check_key(self._current_user, f"{table}:{key}")

        payload = json.dumps(list(args))
        pruned = load_table(self.spark, self.sf_dir, table).filter(
            F.col(PRIMARY_KEYS[table]) == F.lit(key)
        )

        def run_partition(it):
            import json as _json

            rows = list(it)
            if not rows:
                return iter(())
            try:
                return iter([_json.dumps({"ok": fn(iter(rows), *_json.loads(payload))})])
            except Exception as e:
                return iter(
                    [_json.dumps({"error": f"{type(e).__name__}: {e}"})]
                )

        try:
            results = self._run_tagged(
                lambda: pruned.rdd.mapPartitions(run_partition).collect(),
                timeout,
            )
        except _Deadline:
            raise GearsError(
                f"remote task '{lib_name}.{fn_name}' timed out after {timeout}s"
            ) from None
        out = [json.loads(r) for r in results]
        if not out:
            return None  # key owns no rows
        if "error" in out[0]:
            raise GearsError(out[0]["error"])
        return out[0]["ok"]
