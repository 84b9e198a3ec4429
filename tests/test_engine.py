"""Engine registry semantics — parity with the reference's behavioral
tests (pytests/test_basics.py: load/upgrade/revert/flags/errors)."""

from __future__ import annotations

import pytest

from redisgears_spark.engine import (
    NO_WRITES,
    RAW_ARGUMENTS,
    GearsEngine,
    GearsError,
)


@pytest.fixture()
def engine(spark, sf_dir):
    return GearsEngine(spark, sf_dir)


def _basic_setup(lib):
    lib.register_function("ping", lambda client: "PONG")
    lib.register_function(
        "ro", lambda client: client.sql("CREATE TABLE t AS SELECT 1"),
        flags={NO_WRITES},
    )
    lib.register_function("boom", lambda client: 1 / 0)


class TestRegistry:
    def test_load_call(self, engine):
        engine.load_library(_basic_setup, name="lib1")
        assert engine.call("lib1", "ping") == "PONG"

    def test_unknown_lookups(self, engine):
        engine.load_library(_basic_setup, name="lib2")
        with pytest.raises(GearsError, match="unknown library"):
            engine.call("nope", "ping")
        with pytest.raises(GearsError, match="unknown function"):
            engine.call("lib2", "nope")

    def test_duplicate_load_requires_replace(self, engine):
        engine.load_library(_basic_setup, name="lib3")
        with pytest.raises(GearsError, match="already exists"):
            engine.load_library(_basic_setup, name="lib3")
        engine.load_library(_basic_setup, name="lib3", replace=True)

    def test_failed_upgrade_reverts(self, engine):
        """Reference: failed TFUNCTION LOAD REPLACE keeps the old library
        (function_load_command.rs:141-167)."""
        engine.load_library(_basic_setup, name="lib4")

        def bad(lib):
            lib.register_function("newfn", lambda c: 1)
            raise RuntimeError("load failed")

        with pytest.raises(RuntimeError):
            engine.load_library(bad, name="lib4", replace=True)
        assert engine.call("lib4", "ping") == "PONG"  # old lib intact
        with pytest.raises(GearsError):
            engine.call("lib4", "newfn")

    def test_delete(self, engine):
        engine.load_library(_basic_setup, name="lib5")
        engine.delete_library("lib5")
        with pytest.raises(GearsError):
            engine.call("lib5", "ping")
        with pytest.raises(GearsError):
            engine.delete_library("lib5")

    def test_name_validation(self, engine):
        with pytest.raises(GearsError, match="must match"):
            engine.load_library(lambda l: None, name="bad-name!")

        def bad_fn_name(lib):
            lib.register_function("no spaces", lambda c: 1)

        with pytest.raises(GearsError, match="must match"):
            engine.load_library(bad_fn_name, name="okname")

    def test_duplicate_function_rejected(self, engine):
        def dup(lib):
            lib.register_function("f", lambda c: 1)
            lib.register_function("f", lambda c: 2)

        with pytest.raises(GearsError, match="already registered"):
            engine.load_library(dup, name="duplib")


class TestFlagsAndCalls:
    def test_no_writes_enforced(self, engine):
        engine.load_library(_basic_setup, name="flib")
        with pytest.raises(GearsError, match="NO_WRITES"):
            engine.call("flib", "ro")

    def test_raw_arguments(self, engine):
        def setup(lib):
            lib.register_function("echo", lambda c, a: a)
            lib.register_function(
                "echo_raw", lambda c, a: a, flags={RAW_ARGUMENTS}
            )

        engine.load_library(setup, name="rawlib")
        # default: bytes are utf-8 decoded; invalid utf-8 errors
        assert engine.call("rawlib", "echo", b"hi") == "hi"
        with pytest.raises(GearsError, match="invalid utf-8"):
            engine.call("rawlib", "echo", b"\xff\xfe")
        # raw: bytes pass through untouched
        assert engine.call("rawlib", "echo_raw", b"\xff\xfe") == b"\xff\xfe"

    def test_stats_and_errors(self, engine):
        engine.load_library(_basic_setup, name="slib")
        engine.call("slib", "ping")
        with pytest.raises(ZeroDivisionError):
            engine.call("slib", "boom")
        libs = engine.list_libraries(verbose=2)
        fns = {f["name"]: f for f in libs[0]["functions"]}
        assert fns["ping"]["stats"]["n_success"] == 1
        assert fns["boom"]["stats"]["n_failed"] == 1
        assert "ZeroDivisionError" in fns["boom"]["stats"]["last_error"]

    def test_async_call(self, engine):
        def setup(lib):
            lib.register_async_function(
                "count_events",
                lambda client: client.table("events").count(),
            )

        engine.load_library(setup, name="alib")
        fut = engine.call_async("alib", "count_events")
        assert fut.result(timeout=120) == 1000

    def test_client_data_access(self, engine):
        def setup(lib):
            def lookup(client, custkey):
                df = client.table("customer")
                return df.filter(df.c_custkey == int(custkey)).count()

            lib.register_function("lookup", lookup, flags={NO_WRITES})

        engine.load_library(setup, name="dlib")
        assert engine.call("dlib", "lookup", "42") == 1


def persisted_setup(lib):
    """Module-level setup — importable, so the registry can persist it."""
    lib.register_function("ping", lambda client: "PONG")
    lib.register_function("two", lambda client: 2)


class TestTimeouts:
    def test_call_timeout_aborts(self, engine):
        """Lock-timeout watchdog analog (v8_backend.rs:567-613, Abort
        policy): a call exceeding its budget raises and records the error."""
        import time as _t

        engine.load_library(
            lambda l: l.register_function("slow", lambda c: _t.sleep(10)),
            name="tlib",
        )
        with pytest.raises(GearsError, match="aborted"):
            engine.call("tlib", "slow", timeout=0.5)
        fns = {f["name"]: f for f in engine.list_libraries(verbose=2)[0]["functions"]}
        assert "timeout" in fns["slow"]["stats"]["last_error"]

    def test_call_timeout_pass_through(self, engine):
        engine.load_library(
            lambda l: l.register_function("fast", lambda c: 7), name="t2lib"
        )
        assert engine.call("t2lib", "fast", timeout=30) == 7

    @staticmethod
    def _assert_job_cancelled(spark, launch):
        """`launch()` must raise GearsError at its deadline, and the Spark
        job it had running then must end within 5 s of the raise: no longer
        active, and not SUCCEEDED."""
        import threading
        import time as _t

        tracker = spark.sparkContext.statusTracker()

        def running() -> set:
            # only jobs outside a job group: streaming queries run in groups
            return set(tracker.getActiveJobsIds()) & set(
                tracker.getJobIdsForGroup()
            )

        raised = []

        def target():
            try:
                launch()
            except GearsError as e:
                raised.append(e)

        th = threading.Thread(target=target, daemon=True)
        th.start()
        seen: set = set()
        t0 = _t.monotonic()
        while th.is_alive() and _t.monotonic() - t0 < 60:
            seen = running() or seen  # the last jobs seen before the raise
            th.join(0.02)
        assert raised, "the call did not raise at its deadline"
        assert seen, "no Spark job was seen running before the deadline"
        t_raise = _t.monotonic()
        while running() & seen and _t.monotonic() - t_raise < 5:
            _t.sleep(0.05)
        assert not running() & seen, "the job outlived its call by 5 s"
        statuses = [tracker.getJobInfo(j).status for j in seen]
        assert "SUCCEEDED" not in statuses, statuses

    def test_call_timeout_cancels_spark_job(self, engine):
        """The watchdog's Abort stops the call's Spark work, not just the
        wait: a JVM-only scan (over 20 s uncancelled on 4 cores) is
        cancelled when call(timeout=1.0) raises."""

        def scan(client, n):
            return client.spark.range(0, n, 1, 8).selectExpr(
                "sum(hash(id))"
            ).collect()

        engine.load_library(
            lambda l: l.register_function("scan", scan), name="tjob"
        )
        engine.call("tjob", "scan", 1000)  # warm: the job starts in 1 s
        self._assert_job_cancelled(
            engine.spark,
            lambda: engine.call("tjob", "scan", 8_000_000_000, timeout=1.0),
        )

    def test_run_on_key_timeout_cancels_spark_job(self, engine):
        """A remote task past its timeout is cancelled, like the
        reference's remote-task timeout (lib.rs:1913)."""

        def slow(rows):
            import time as _t

            _t.sleep(20)
            return 1

        def setup(lib):
            lib.register_cluster_function("fast", lambda rows: 1)
            lib.register_cluster_function("slow", slow)

        engine.load_library(setup, name="tkey")
        assert engine.run_on_key("tkey", "fast", "customer", 42) == 1  # warm
        self._assert_job_cancelled(
            engine.spark,
            lambda: engine.run_on_key("tkey", "slow", "customer", 42, timeout=1.0),
        )

    def test_call_timeout_cancels_jobs_started_after_deadline(self, engine):
        """A body that catches its cancelled job's error and starts a second
        long JVM job does not get to finish it: the call's jobs are
        cancelled until the body returns, so the second job ends within
        5 s of the raise, not SUCCEEDED."""
        import threading
        import time as _t

        tracker = engine.spark.sparkContext.statusTracker()
        second_started = threading.Event()
        jobs_before_second: set = set()

        def scan(client, n):
            # a fresh DataFrame each time: collecting a cancelled one again
            # re-raises its failed stage without starting a job
            return client.spark.range(0, n, 1, 8).selectExpr(
                "sum(hash(id))"
            ).collect()

        def stubborn(client, n):
            try:
                return scan(client, n)
            except Exception:  # the deadline cancelled it: scan again
                pass
            jobs_before_second.update(tracker.getJobIdsForGroup())
            second_started.set()
            return scan(client, n)

        engine.load_library(
            lambda l: l.register_function("stubborn", stubborn), name="tstub"
        )
        engine.call("tstub", "stubborn", 1000)  # warm: the job starts in 1 s
        with pytest.raises(GearsError, match="aborted"):
            engine.call("tstub", "stubborn", 8_000_000_000, timeout=1.0)
        t_raise = _t.monotonic()
        assert second_started.wait(5), "the body never started its second job"

        def second_jobs() -> set:
            return set(tracker.getJobIdsForGroup()) - jobs_before_second

        while not second_jobs() and _t.monotonic() - t_raise < 5:
            _t.sleep(0.02)
        second = second_jobs()
        assert second, "the second job was never submitted"
        while set(tracker.getActiveJobsIds()) & second and _t.monotonic() - t_raise < 5:
            _t.sleep(0.05)
        assert not set(tracker.getActiveJobsIds()) & second, (
            "the second job outlived its call by 5 s"
        )
        statuses = [tracker.getJobInfo(j).status for j in second]
        assert "SUCCEEDED" not in statuses, statuses
        engine._pool.shutdown(wait=True)  # the body has returned

    def test_timed_out_call_counts_once(self, engine):
        """A body that outlives its timeout and then returns leaves one
        failed call: the caller saw the timeout, so the late success is
        not counted (n_success + n_failed == n_calls)."""
        import time as _t

        def late(client):
            _t.sleep(1.5)
            return 1

        engine.load_library(
            lambda l: l.register_function("late", late), name="tlate"
        )
        with pytest.raises(GearsError, match="aborted"):
            engine.call("tlate", "late", timeout=1.0)
        engine._pool.shutdown(wait=True)  # the body has returned
        stats = engine.list_libraries(verbose=2)[0]["functions"][0]["stats"]
        assert stats["n_calls"] == stats["n_failed"] == 1
        assert stats["n_success"] == 0

    def test_fatal_policy_kill_unloads_library(self, spark, sf_dir):
        """library-fatal-failure-policy=kill (config.rs:105-117): a fatal
        timeout unloads the whole library, not just the call; under the
        default abort policy the library survives."""
        import time as _t

        from redisgears_spark.engine import GearsEngine

        kill_engine = GearsEngine(spark, sf_dir, fatal_failure_policy="kill")
        kill_engine.load_library(
            lambda l: l.register_function("slow", lambda c: _t.sleep(10)),
            name="klib",
        )
        with pytest.raises(GearsError, match="library unloaded"):
            kill_engine.call("klib", "slow", timeout=0.5)
        assert kill_engine.list_libraries() == []  # gone
        with pytest.raises(GearsError, match="unknown library"):
            kill_engine.call("klib", "slow")

    def test_fatal_policy_rejects_unknown(self, spark, sf_dir):
        from redisgears_spark.engine import GearsEngine

        with pytest.raises(GearsError, match="abort.*kill|kill.*abort"):
            GearsEngine(spark, sf_dir, fatal_failure_policy="nuke")


class TestExecuteAsyncHybrid:
    """The reference's executeAsync contract (v8_native_functions.rs:696-763,
    Sync_Async.md:142-184): start synchronously, go background only on the
    slow path — the cache-hit optimization."""

    def test_fast_path_resolves_synchronously(self, engine):
        import threading as _th

        seen_thread = {}

        def setup(lib):
            def fn(client, key):
                seen_thread["ident"] = _th.get_ident()
                return f"cached:{key}"  # fast path: plain value

            lib.register_function("get", fn)

        engine.load_library(setup, name="hyblib")
        fut = engine.execute_async("hyblib", "get", "k1")
        # already resolved — no pool dispatch happened for the fast path
        assert fut.done()
        assert fut.result(timeout=0) == "cached:k1"
        assert seen_thread["ident"] == _th.get_ident()  # ran on caller thread

    def test_slow_path_goes_background(self, engine):
        import threading as _th

        threads = {}

        def setup(lib):
            def fn(client, key):
                threads["sync"] = _th.get_ident()

                def cont(c2):
                    threads["bg"] = _th.get_ident()
                    return c2.table("events").count()

                return client.execute_async(cont)  # slow path handoff

            lib.register_function("get_or_compute", fn)

        engine.load_library(setup, name="hyb2lib")
        fut = engine.execute_async("hyb2lib", "get_or_compute", "missing")
        assert fut.result(timeout=120) == 1000
        assert threads["sync"] == _th.get_ident()  # sync start, caller thread
        assert threads["bg"] != _th.get_ident()  # continuation on the pool

    def test_slow_path_errors_recorded(self, engine):
        def setup(lib):
            lib.register_function(
                "bad", lambda c: c.execute_async(lambda c2: 1 / 0)
            )

        engine.load_library(setup, name="hyb3lib")
        fut = engine.execute_async("hyb3lib", "bad")
        with pytest.raises(ZeroDivisionError):
            fut.result(timeout=30)
        fns = {
            f["name"]: f
            for f in engine.list_libraries(verbose=2)[0]["functions"]
            if f["name"] == "bad"
        }
        assert fns["bad"]["stats"]["n_failed"] == 1
        assert "ZeroDivisionError" in fns["bad"]["stats"]["last_error"]


class TestAdmissionGuards:
    def test_async_requires_call_async(self, engine):
        """TFCALL of an async function errors; TFCALLASYNC runs it
        (lib.rs:1363-1366)."""
        engine.load_library(
            lambda l: l.register_async_function("bg", lambda c: 99), name="aglib"
        )
        with pytest.raises(GearsError, match="call_async"):
            engine.call("aglib", "bg")
        assert engine.call_async("aglib", "bg").result(timeout=30) == 99

    def test_oom_admission(self, engine):
        """Under OOM only ALLOW_OOM / NO_WRITES functions run
        (verify_oom, lib.rs:1286-1297)."""
        from redisgears_spark.engine import ALLOW_OOM

        def setup(lib):
            lib.register_function("writer", lambda c: "w")
            lib.register_function("reader", lambda c: "r", flags={NO_WRITES})
            lib.register_function("oomok", lambda c: "o", flags={ALLOW_OOM})

        engine.load_library(setup, name="oomlib")
        engine.set_oom(True)
        try:
            with pytest.raises(GearsError, match="OOM"):
                engine.call("oomlib", "writer")
            assert engine.call("oomlib", "reader") == "r"
            assert engine.call("oomlib", "oomok") == "o"
        finally:
            engine.set_oom(False)
        assert engine.call("oomlib", "writer") == "w"

    def test_read_only_gate(self, engine):
        """Replica semantics: functions that may write are refused while
        the engine is read-only (verify_ok_on_replica, lib.rs:1299-1313)."""
        def setup(lib):
            lib.register_function("writer", lambda c: "w")
            lib.register_function("reader", lambda c: "r", flags={NO_WRITES})

        engine.load_library(setup, name="replib")
        engine.set_read_only(True)
        try:
            with pytest.raises(GearsError, match="read-only"):
                engine.call("replib", "writer")
            assert engine.call("replib", "reader") == "r"
        finally:
            engine.set_read_only(False)


class TestRegistryPersistence:
    def test_save_restore_round_trip(self, engine, spark, sf_dir, tmp_path):
        """RDB save/load analog (rdb.rs:52-94, 96-213): catalog persists
        (name, setup ref, config); restore re-evaluates the setup."""
        path = str(tmp_path / "registry.json")
        engine.load_library(persisted_setup, name="durable", config={"k": 1})
        # closure-based library: session-local, not persisted
        engine.load_library(lambda l: l.register_function("f", lambda c: 1),
                            name="ephemeral")
        engine.save_registry(path)

        fresh = GearsEngine(spark, sf_dir)
        loaded = fresh.restore_registry(path)
        assert loaded == ["durable"]
        assert fresh.call("durable", "ping") == "PONG"
        assert fresh._libraries["durable"].config == {"k": 1}
        with pytest.raises(GearsError):
            fresh.call("ephemeral", "f")


class TestUpgradeRules:
    def test_prefix_change_rejected(self, engine):
        """Stream-trigger upgrade may change window/trim but not prefix
        (lib.rs:417-423)."""
        engine.load_library(
            lambda l: l.register_stream_trigger(
                "t", prefix="user:", fn=lambda d: None, window=1
            ),
            name="ulib",
        )
        with pytest.raises(GearsError, match="prefix may not change"):
            engine.load_library(
                lambda l: l.register_stream_trigger(
                    "t", prefix="order:", fn=lambda d: None, window=1
                ),
                name="ulib",
                replace=True,
            )
        # window change on the same prefix is fine
        engine.load_library(
            lambda l: l.register_stream_trigger(
                "t", prefix="user:", fn=lambda d: None, window=5
            ),
            name="ulib",
            replace=True,
        )
        assert engine._libraries["ulib"].stream_triggers["t"]["window"] == 5


class TestClusterFunctions:
    def test_run_on_shards_gather(self, engine, spark, sf_dir):
        """Scatter/gather with per-partition error isolation
        (reference test_cluster.py:127-156: per-shard errors are gathered,
        not raised)."""

        def setup(lib):
            def count_rows(it):
                return sum(1 for _ in it)

            def fail_sometimes(it, threshold):
                n = sum(1 for _ in it)
                if n > int(threshold):
                    raise ValueError(f"partition too big: {n}")
                return n

            lib.register_cluster_function("count_rows", count_rows)
            lib.register_cluster_function("fail_big", fail_sometimes)

        engine.load_library(setup, name="clib")
        df = engine.spark.range(0, 1000, 1, 8)
        results = engine.run_on_shards("clib", "count_rows", df)
        assert len(results) == 8
        assert sum(r["ok"] for r in results) == 1000

        mixed = engine.run_on_shards("clib", "fail_big", df, 10**9)
        assert all("ok" in r for r in mixed)
        failed = engine.run_on_shards("clib", "fail_big", df, 0)
        assert all("error" in r for r in failed)
        assert "partition too big" in failed[0]["error"]

    def test_run_on_key(self, engine):
        """runOnKey analog (v8_native_functions.rs:316-378): task runs
        against the rows owned by the key; missing key → None; in-task
        errors raise (single-target semantics, unlike gather)."""

        def setup(lib):
            def get_name(rows, suffix):
                row = next(rows)
                return row["c_name"] + suffix

            def boom(rows):
                raise RuntimeError("task failed")

            lib.register_cluster_function("get_name", get_name)
            lib.register_cluster_function("boom", boom)

        engine.load_library(setup, name="keylib")
        name = engine.run_on_key("keylib", "get_name", "customer", 42, "!")
        assert name.endswith("!") and "42" in name
        assert engine.run_on_key("keylib", "get_name", "customer", 10**9) is None
        with pytest.raises(GearsError, match="task failed"):
            engine.run_on_key("keylib", "boom", "customer", 42)


class TestWithCode:
    def test_listing_includes_source(self, engine):
        """WITHCODE option (function_list_command.rs:302-333): the listing
        carries the library's setup source when recoverable."""

        def my_setup(lib):
            lib.register_function("f", lambda client: 1)

        engine.load_library(my_setup, name="srclib")
        listing = engine.list_libraries(with_code=True)
        row = next(e for e in listing if e["name"] == "srclib")
        assert "def my_setup(lib):" in (row["code"] or "")
        # default listing omits code entirely
        plain = next(
            e for e in engine.list_libraries() if e["name"] == "srclib"
        )
        assert "code" not in plain


class TestBackgroundResolution:
    """call()/call_async() on a body that hands back executeAsync must
    resolve the continuation, not leak the marker — the reference's TFCALL
    resolves the promise when blocking is allowed (lib.rs:1363-1366 only
    rejects when it is not)."""

    def _setup(self, lib):
        def fn(client, x):
            return client.execute_async(lambda c2: f"resolved:{x}")

        lib.register_function("bg", fn)
        lib.register_function(
            "bg_fail", lambda c: c.execute_async(lambda c2: 1 / 0)
        )

    def test_call_resolves_background_inline(self, engine):
        engine.load_library(self._setup, name="bgres")
        assert engine.call("bgres", "bg", "v") == "resolved:v"

    def test_call_async_resolves_background(self, engine):
        engine.load_library(self._setup, name="bgres2")
        fut = engine.call_async("bgres2", "bg", "w")
        assert fut.result(timeout=30) == "resolved:w"

    def test_stats_count_once_per_call(self, engine):
        """A Background call is ONE call: success and failure are counted
        exactly once, in the continuation's outcome — never both."""
        engine.load_library(self._setup, name="bgres3")
        engine.call("bgres3", "bg", "v")
        fut = engine.execute_async("bgres3", "bg", "v")
        fut.result(timeout=30)
        bad = engine.execute_async("bgres3", "bg_fail")
        with pytest.raises(ZeroDivisionError):
            bad.result(timeout=30)
        stats = {
            f["name"]: f["stats"]
            for f in engine.list_libraries(verbose=2)[0]["functions"]
        }
        assert stats["bg"]["n_calls"] == 2
        assert stats["bg"]["n_success"] == 2
        assert stats["bg"]["n_failed"] == 0
        assert stats["bg_fail"]["n_calls"] == 1
        assert stats["bg_fail"]["n_success"] == 0
        assert stats["bg_fail"]["n_failed"] == 1


class TestLibraryUnloadStopsTriggers:
    """Unloading a library (DELETE or fatal Kill) must stop its running
    trigger queries — the reference drops stream consumers with the
    GearsLibraryCtx; a 'killed' library must not keep firing."""

    class _FakeRuntime:
        def __init__(self):
            self.stopped = []
            self.stats = {}

        def stop_library(self, name):
            self.stopped.append(name)

    def test_delete_stops_owned_queries(self, engine):
        rt = self._FakeRuntime()
        engine.register_trigger_runtime(rt)
        engine.load_library(_basic_setup, name="dlib")
        engine.delete_library("dlib")
        assert rt.stopped == ["dlib"]

    def test_kill_policy_stops_owned_queries(self, spark, sf_dir):
        import time as _time

        kill_engine = GearsEngine(spark, sf_dir, fatal_failure_policy="kill")
        rt = self._FakeRuntime()
        kill_engine.register_trigger_runtime(rt)
        kill_engine.load_library(
            lambda lib: lib.register_function(
                "slow", lambda c: _time.sleep(10)
            ),
            name="klib2",
        )
        with pytest.raises(GearsError, match="aborted"):
            kill_engine.call("klib2", "slow", timeout=0.5)
        assert rt.stopped == ["klib2"]


def test_list_libraries_library_filter(spark, sf_dir):
    """TFUNCTION LIST LIBRARY <name> parity: restrict to one library;
    unknown names list empty."""
    engine = GearsEngine(spark, sf_dir)
    engine.load_library(_basic_setup, name="liba")
    engine.load_library(_basic_setup, name="libb")
    assert [e["name"] for e in engine.list_libraries()] == ["liba", "libb"]
    assert [e["name"] for e in engine.list_libraries(library="libb")] == ["libb"]
    assert engine.list_libraries(library="nope") == []


def test_sql_surface_over_registered_views(spark, sf_dir):
    """The raw-SQL entry path a migrating user expects: register the
    fixture tables as views, run Spark SQL directly, and get the same
    rows as the DataFrame-form inventory query (q06's aggregate)."""
    from pyspark.sql import functions as F

    from redisgears_spark.operators import QUERIES
    from redisgears_spark.sources.keyspace import register_views

    register_views(spark, sf_dir)
    sql_rows = {
        (r["l_returnflag"], r["l_linestatus"]): (r["n"], r["sum_qty_c"])
        for r in spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   COUNT(*) AS n,
                   SUM(CAST(round(l_quantity * 100) AS BIGINT))
                     AS sum_qty_c
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            """
        ).collect()
    }
    df_rows = {
        (r["l_returnflag"], r["l_linestatus"]): (r["n"], r["sum_qty_c"])
        for r in QUERIES["q06_agg_stats"](spark, sf_dir)
        .select("l_returnflag", "l_linestatus", "n", "sum_qty_c")
        .collect()
    }
    assert sql_rows == df_rows


def test_readme_counts_match_registry():
    """README's contract section quotes the registry size; this pin keeps
    the doc from drifting (it has gone stale twice — ADVICE r5/r6)."""
    import os
    import re

    import __spark_entry__ as entrymod

    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    text = open(os.path.join(here, "README.md")).read()
    m = re.search(r"`queries\(\)` \((\d+) operators\)", text)
    m2 = re.search(r"\((\d+) DuckDB-exact oracles", text)
    assert m and m2, "README contract section reworded — update this pin"
    assert int(m.group(1)) == len(entrymod.queries()), (
        f"README says {m.group(1)} queries, registry has "
        f"{len(entrymod.queries())}"
    )
    assert int(m2.group(1)) == len(entrymod.oracle_sql()), (
        f"README says {m2.group(1)} oracles, registry has "
        f"{len(entrymod.oracle_sql())}"
    )


def test_registry_operators_callable_via_tfcall(spark, sf_dir):
    """The migration story end-to-end: a library function (the TFCALL
    surface) can invoke any registered analytics operator and return a
    bounded reply — a reference user's `TFCALL mylib.top_risky_parts 5`
    maps 1:1 onto the operator inventory."""
    from redisgears_spark.operators import QUERIES

    engine = GearsEngine(spark, sf_dir)

    def setup(lib):
        def top_risky_parts(client, n):
            df = QUERIES["part_return_wilson"](client.spark, sf_dir)
            return [r.asDict() for r in df.limit(int(n)).collect()]

        lib.register_function("top_risky_parts", top_risky_parts)

    engine.load_library(setup, name="analytics_lib")
    got = engine.call("analytics_lib", "top_risky_parts", 3)
    assert len(got) == 3
    assert set(got[0]) == {"l_partkey", "n", "k", "wilson_low"}
    # ranked by the Wilson lower bound, descending
    assert got[0]["wilson_low"] >= got[1]["wilson_low"] >= got[2]["wilson_low"]
