"""The Python-worker import-cache patch (redisgears_spark.workerpatch):
installed once in the daemon that `get_spark` starts, so every forked
worker and every task it runs is patched; kept as a per-kernel fallback on
sessions built without `get_spark`."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pytest


_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_state(_):
    """What the worker that runs this task holds: the type behind
    worker_util.importlib, and the module the process was started as."""
    import sys

    import pyspark.worker_util as wu

    main_spec = getattr(sys.modules["__main__"], "__spec__", None)
    yield (type(wu.importlib).__name__, getattr(main_spec, "name", None))


def _run_child(script, cwd, pythonpath=None):
    """Run `script` in a fresh Python process (its own SparkContext) and
    return the JSON object on its last stdout line."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_plain_rdd_task_runs_in_a_patched_worker(spark):
    """No kernel is involved: the worker was forked from the workerpatch
    daemon and starts with the lazy invalidator in place."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "redisgears_spark.workerpatch"
    )
    got = set(sc.parallelize(range(4), 4).mapPartitions(_worker_state).collect())
    assert got == {("_LazyInvalidator", "redisgears_spark.workerpatch")}


def test_module_shipped_mid_session_imports_in_a_later_task(spark, tmp_path):
    """addPyFile of an archive adds a new sys.path entry on the worker, and
    the patch still invalidates the import caches for it."""
    sc = spark.sparkContext
    sc.parallelize([0], 1).mapPartitions(_worker_state).collect()
    name = f"shipped_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def load(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).mapPartitions(load).collect() == [42]


def test_kernel_installs_the_patch_on_a_bare_session(tmp_path):
    """A session built without get_spark's settings starts workers from the
    stock daemon; a kernel wrapped by arrow_kernel patches its worker."""
    got = _run_child(
        """
        import json
        from pyspark.sql import SparkSession
        from redisgears_spark.workerpatch import arrow_kernel

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")

        def plain(_):
            import pyspark.worker_util as wu
            yield type(wu.importlib).__name__

        def kernel(it):
            import pyspark.worker_util as wu
            for pdf in it:
                yield pdf.assign(t=type(wu.importlib).__name__)

        before = spark.sparkContext.parallelize([0], 1).mapPartitions(plain).collect()
        fn = arrow_kernel(kernel)
        after = spark.range(1, numPartitions=1).mapInPandas(fn, "id long, t string")
        print(json.dumps({"before": before[0], "after": after.first()["t"]}))
        spark.stop()
        """,
        cwd=str(tmp_path),
        pythonpath=_REPO_DIR,
    )
    assert got == {"before": "module", "after": "_LazyInvalidator"}


@pytest.fixture(scope="module")
def outside_checkout(tmp_path_factory):
    """A driver run from a directory outside the checkout, PYTHONPATH unset,
    the package found through sys.path only; it runs one Python task and
    exits without stopping its SparkContext."""
    return _run_child(
        f"""
        import json, sys
        sys.path.insert(0, {_REPO_DIR!r})
        from redisgears_spark.session import get_spark

        sc = get_spark("workerpatch-outside", cpus=1).sparkContext

        def state(_):
            import pyspark.worker_util as wu
            yield type(wu.importlib).__name__

        got = sc.parallelize([0], 1).mapPartitions(state).collect()
        sock = sc._accumulatorServer.server_address
        print(json.dumps({{"worker": got[0], "sock": sock}}))
        """,
        cwd=str(tmp_path_factory.mktemp("outside")),
    )


def test_daemon_imports_when_the_driver_runs_outside_the_checkout(outside_checkout):
    assert outside_checkout["worker"] == "_LazyInvalidator"


def test_exit_without_stop_leaves_no_accumulator_socket(outside_checkout):
    """pyspark removes the driver's accumulator socket only in stop()."""
    assert outside_checkout["sock"].endswith(".sock")
    assert not os.path.exists(outside_checkout["sock"])
