"""The fixed cost of a live stream-trigger batch: Python workers over a Unix
socket, checkpoint logs without .crc sidecars, no shuffle for a batch
sized to one partition, and the width estimate read from the file-source
log (compacted every 10th batch)."""

from __future__ import annotations

import json
import os
import uuid

from redisgears_spark.engine import GearsEngine
from redisgears_spark.session import SOCKET_DIR
from redisgears_spark.streaming import StreamTriggerRuntime, events_to_stream
from tests.test_streaming import upper_type, write_slice

# AF_UNIX's sun_path holds 108 bytes, one of them the terminating NUL
_UNIX_PATH_MAX = 107
# the stock checksummed local FileContext, as Spark uses it by default
_STOCK_FS = "org.apache.hadoop.fs.local.LocalFs"


def _double(it):
    for pdf in it:
        yield pdf.assign(id=pdf["id"] * 2)


def test_python_workers_use_a_unix_socket_that_fits(spark):
    """Every Python task reaches its worker over a Unix socket bound at
    <dir>/.<uuid>.sock; a path past AF_UNIX's limit would fail every UDF."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert sock_dir == SOCKET_DIR
    path = os.path.join(sock_dir, f".{uuid.uuid4()}.sock")
    assert len(path.encode()) <= _UNIX_PATH_MAX
    got = spark.range(250).mapInPandas(_double, "id long").toPandas()
    assert sorted(got["id"]) == [2 * i for i in range(250)]


def _runtime(spark, sf_dir, tmp_path):
    engine = GearsEngine(spark, sf_dir)
    lib = engine.load_library(
        lambda l: l.register_stream_trigger(
            "cost", prefix="user:", fn=upper_type, window=10**9
        ),
        name="costlib",
        replace=True,
    )
    work = str(tmp_path / "work")
    rt = StreamTriggerRuntime(
        engine, str(tmp_path / "spool"), work, source_adapter=events_to_stream
    )
    return rt, lib, work


def _file_log(path, entries):
    """A file-source log as Spark writes it: a version line, then one JSON
    entry per file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("v1\n")
        for f, bid in entries:
            fh.write(json.dumps({"path": f"file://{f}", "timestamp": 0, "batchId": bid}))
            fh.write("\n")


def test_width_estimate_reads_the_compacted_log(spark, sf_dir, tmp_path):
    """Batch 9's log is compacted into sources/0/9.compact, which lists
    every file since batch 0. Only batch 9's files count, and files of
    earlier batches that retention removed must not raise."""
    rt, _, _ = _runtime(spark, sf_dir, tmp_path)
    data = tmp_path / "data"
    data.mkdir()
    entries = []
    for bid in range(10):
        size = 40_000 if bid == 9 else 200_000
        for k in range(2):
            f = data / f"b{bid}-{k}.parquet"
            if bid >= 5:  # batches 0-4 were removed by retention
                f.write_bytes(b"\0" * size)
            entries.append((str(f), bid))
    plain, compact = tmp_path / "plain", tmp_path / "compact"
    _file_log(str(plain / "sources" / "0" / "9"), [e for e in entries if e[1] == 9])
    _file_log(str(compact / "sources" / "0" / "9.compact"), entries)
    want = rt._python_stage_partitions(str(plain), 9)
    assert want == 2 != spark.sparkContext.defaultParallelism
    assert rt._python_stage_partitions(str(compact), 9) == want


def _batch_stages(spark, query):
    """job id -> (stage id -> task count) for the jobs of one streaming run."""
    tracker = spark.sparkContext.statusTracker()
    return {
        jid: {s: tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(jid).stageIds}
        for jid in tracker.getJobIdsForGroup(str(query.runId))
    }


def test_one_partition_batch_runs_its_processor_as_one_stage(
    spark, sf_dir, tmp_path
):
    """A small batch is estimated at one Python task and must run with
    no shuffle: one job of one stage. A batch estimated wider still
    shuffles by stream_key into that many tasks, and both keep per-key id
    order."""
    rt, lib, work = _runtime(spark, sf_dir, tmp_path)
    write_slice(spark, sf_dir, rt.spool_dir, 0, 100)
    (query,) = rt.start_library(lib)
    try:
        rt.process_available()
        stages = _batch_stages(spark, query)
    finally:
        rt.stop_all()
    assert [len(s) for s in stages.values()] == [1], stages

    rt, lib, work = _runtime(spark, sf_dir, tmp_path / "wide")
    rt._python_stage_partitions = lambda ckpt_dir, epoch_id: 3
    write_slice(spark, sf_dir, rt.spool_dir, 0, 100)
    (query,) = rt.start_library(lib)
    try:
        rt.process_available()
        stages = _batch_stages(spark, query)
        stats = rt.stats["costlib.cost"]
    finally:
        rt.stop_all()
    tasks = [n for s in stages.values() for n in s.values()]
    assert max(len(s) for s in stages.values()) == 2, stages  # a shuffle
    assert 3 in tasks, stages
    assert stats.n_records == 100 and stats.n_failed == 0
    sink = spark.read.parquet(os.path.join(work, "sink", "costlib", "cost")).toPandas()
    assert sorted(sink["id"]) == list(range(100))
    frontier = sink.groupby("stream_key")["id"].max().to_dict()
    assert stats.frontier == frontier


def _crc_files(root):
    return {
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".crc")
    }


def test_checkpoint_resumes_across_the_crc_switch(spark, sf_dir, tmp_path):
    """A checkpoint written by the stock checksummed LocalFs (with .crc
    sidecars) resumes under the session's RawLocalFs: no record is lost
    or repeated, the file-source compaction at batch 19 reads the
    checksummed batch-9 compact log, and new batches add no .crc file."""
    rt, lib, work = _runtime(spark, sf_dir, tmp_path)
    ckpt = os.path.join(work, "checkpoints")
    spark.conf.set("fs.AbstractFileSystem.file.impl", _STOCK_FS)
    try:
        for b in range(10):
            write_slice(spark, sf_dir, rt.spool_dir, 10 * b, 10 * b + 10)
            if b == 0:
                rt.start_library(lib)
            rt.process_available()
        rt.stop_all()
    finally:
        spark.conf.unset("fs.AbstractFileSystem.file.impl")
    stock = _crc_files(ckpt)
    assert any(p.endswith(".9.compact.crc") for p in stock), sorted(stock)

    rt, lib, work = _runtime(spark, sf_dir, tmp_path)
    rt.start_library(lib)
    try:
        for b in range(10, 20):
            write_slice(spark, sf_dir, rt.spool_dir, 10 * b, 10 * b + 10)
            rt.process_available()
        assert rt.stats["costlib.cost"].n_records == 100  # only the new slices
    finally:
        rt.stop_all()
    assert _crc_files(ckpt) == stock
    assert os.path.isfile(os.path.join(ckpt, "costlib", "cost", "sources", "0", "19.compact"))
    ids = spark.read.parquet(os.path.join(work, "sink", "costlib", "cost")).toPandas()["id"]
    assert sorted(ids) == list(range(200))
