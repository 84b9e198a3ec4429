"""The Python-worker import-cache patch (redisgears_spark.workerpatch): it
is installed in one place, the import of the package. The daemon that
`get_spark` starts imports it, so every worker that daemon forks runs every
task patched, whatever the task kind. On a session built without
`get_spark`, a worker is patched once it unpickles one of the engine's
kernels: each is a module-level function or a `functools.partial` of one,
so the pickler writes it by reference and unpickling it imports the
package. `test_no_nested_kernel_is_shipped` keeps every kernel that way."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pandas as pd
import pytest
from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.streaming.state import GroupStateTimeout

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE_DIR = os.path.join(_REPO_DIR, "redisgears_spark")
_SHIP_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState"}
_STATE_SCHEMA = "wu_type string, main string"


def _state():
    """What the worker that runs this code holds: the type behind
    worker_util.importlib, and the module the process was started as."""
    import sys

    import pyspark.worker_util as wu

    main_spec = getattr(sys.modules["__main__"], "__spec__", None)
    return (type(wu.importlib).__name__, getattr(main_spec, "name", None))


def _worker_state(_):
    yield _state()


def _state_frame():
    return pd.DataFrame([_state()], columns=["wu_type", "main"])


def _group_probe(pdf):
    return _state_frame()


def _map_probe(batches):
    for _ in batches:
        yield _state_frame()


def _stateful_probe(key, pdfs, state):
    for _ in pdfs:
        pass
    yield _state_frame()


class _ProbeReader(DataSourceReader):
    def read(self, partition):
        yield _state()


class _ProbeSource(DataSource):
    @classmethod
    def name(cls):
        return "workerpatch_probe"

    def schema(self):
        return _STATE_SCHEMA

    def reader(self, schema):
        return _ProbeReader()


def _rdd_states(spark, tmp_path):
    return spark.sparkContext.parallelize(range(4), 4).mapPartitions(_worker_state).collect()


def _map_in_pandas_states(spark, tmp_path):
    return spark.range(4, numPartitions=4).mapInPandas(_map_probe, _STATE_SCHEMA).collect()


def _apply_in_pandas_states(spark, tmp_path):
    return spark.range(4).groupBy("id").applyInPandas(_group_probe, _STATE_SCHEMA).collect()


def _data_source_states(spark, tmp_path):
    spark.dataSource.register(_ProbeSource)
    return spark.read.format(_ProbeSource.name()).load().collect()


def _stateful_batch_states(spark, tmp_path):
    """One applyInPandasWithState micro-batch over a file stream."""
    src = str(tmp_path / "src")
    spark.range(4).write.parquet(src)
    name = f"workerpatch_{uuid.uuid4().hex}"
    query = (
        spark.readStream.schema("id long")
        .parquet(src)
        .groupBy("id")
        .applyInPandasWithState(
            _stateful_probe,
            _STATE_SCHEMA,
            "n long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name).collect()


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


@pytest.mark.parametrize(
    "run",
    [
        _rdd_states,
        _map_in_pandas_states,
        _apply_in_pandas_states,
        _data_source_states,
        _stateful_batch_states,
    ],
    ids=["rdd", "mapInPandas", "applyInPandas", "data_source", "applyInPandasWithState"],
)
def test_every_task_kind_runs_in_a_patched_worker(spark, tmp_path, run):
    """No probe kernel refers to the package: its worker was forked from
    the workerdaemon and starts with the lazy invalidator in place."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "redisgears_spark.workerdaemon"
    )
    got = {tuple(row) for row in run(spark, tmp_path)}
    assert got == {("_LazyInvalidator", "redisgears_spark.workerdaemon")}


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


def test_importing_the_package_installs_the_patch():
    """A worker that unpickles a kernel pickled by reference imports the
    package, and that import alone installs the patch."""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import pyspark.worker_util as wu\n"
            "before = type(wu.importlib).__name__\n"
            "import redisgears_spark.operators.dedup\n"
            "print(before, type(wu.importlib).__name__)",
        ],
        cwd=_REPO_DIR,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.split() == ["module", "_LazyInvalidator"]


def test_kernel_installs_the_patch_on_a_bare_session(tmp_path):
    """A session built without get_spark's settings starts workers from the
    stock daemon. A plain task leaves its worker stock; the worker that
    unpickles one of the engine's module-level kernels (pipeline's word
    5-gram kernel, shipped unwrapped) is patched from its next task on, and
    another shipped kernel gives its usual result there."""
    got = _run_child(
        """
        import json
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")

        def plain(_):
            import pyspark.worker_util as wu
            yield type(wu.importlib).__name__

        def probe(batches):
            import pyspark.worker_util as wu
            for pdf in batches:
                yield pdf.assign(t=type(wu.importlib).__name__)

        before = spark.sparkContext.parallelize([0], 1).mapPartitions(plain).collect()
        from redisgears_spark.operators.dedup import _shingles_py, shingle_pass
        from redisgears_spark.operators.pipeline import _grams_kernel

        text = "the quick brown fox jumps over the lazy dog"
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        grams = docs.mapInPandas(_grams_kernel, "doc_id long, g string").collect()
        after = spark.range(1, numPartitions=1).mapInPandas(probe, "id long, t string")
        row = shingle_pass(docs).collect()[0]
        print(json.dumps({
            "before": before[0],
            "grams": [r["g"] for r in grams],
            "after": after.first()["t"],
            "exact": list(row["sh"]) == _shingles_py(text),
            "n": len(row["sh"]),
        }))
        spark.stop()
        """,
        cwd=str(tmp_path),
        pythonpath=_REPO_DIR,
    )
    assert got == {
        "before": "module",
        "grams": [
            "the quick brown fox jumps",
            "quick brown fox jumps over",
            "brown fox jumps over the",
            "fox jumps over the lazy",
            "jumps over the lazy dog",
        ],
        "after": "_LazyInvalidator",
        "exact": True,
        "n": 7,
    }


def _shipped_nested_kernels(path):
    """`file:line kernel` for each mapInPandas/mapInArrow/applyInPandas/
    applyInPandasWithState call in `path` whose kernel is a def nested in
    the calling function, a `partial` of one, or what a function call
    other than `partial` returns (a factory's closure or a wrapper): the
    pickler copies each of those by value, so unpickling it need not
    import the package."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    found = []

    def is_nested(arg, nested):
        if isinstance(arg, ast.Name):
            return arg.id in nested
        if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            if arg.func.id != "partial":
                return True
            return bool(arg.args) and is_nested(arg.args[0], nested)
        return False

    def visit(node, nested):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, funcs):
                inner = {n.name for n in ast.walk(child) if isinstance(n, funcs) and n is not child}
                visit(child, nested | inner)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in _SHIP_METHODS
                and child.args
                and is_nested(child.args[0], nested)
            ):
                rel = os.path.relpath(path, _REPO_DIR)
                found.append(f"{rel}:{child.lineno} {ast.unparse(child.args[0])}")
            visit(child, nested)

    visit(tree, frozenset())
    return found


def test_no_nested_kernel_is_shipped():
    """Every kernel the package hands to a Python stage is a module-level
    function, a `partial` of one, a function parameter or a method's
    result, so a bare session's worker imports the package, and installs
    the patch, when it unpickles the kernel."""
    found = []
    for root, _dirs, files in os.walk(_PACKAGE_DIR):
        for name in sorted(files):
            if name.endswith(".py"):
                found += _shipped_nested_kernels(os.path.join(root, name))
    assert found == []


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
