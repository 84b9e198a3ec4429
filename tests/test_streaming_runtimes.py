"""The stateful-runtime skeleton shared by all 13 state runtimes: the
checkpoint/sink directory names a restart resumes from, the refusal of
the stats-only API by every other runtime, and sink reads that run no
schema-inference job."""

from __future__ import annotations

import os

import pytest

import redisgears_spark.streaming as streaming
from redisgears_spark.engine import GearsEngine, GearsError
from tests.test_sources import _jobs_run_by
from tests.test_streaming import _write_canonical

# class name -> directory stem of <work>/<stem>_ckpt and <stem>_sink
_STEMS = {
    "StatefulStatsRuntime": "stateful",
    "StreamingHeavyHittersRuntime": "hh",
    "StreamingSessionizeRuntime": "sess",
    "StreamingRateLimitRuntime": "rl",
    "StreamingCusumRuntime": "cusum",
    "StreamingDistinctRuntime": "hll",
    "StreamingKmvRuntime": "kmv",
    "StreamingQuantileRuntime": "hsq",
    "StreamingBloomDedupRuntime": "bloomdedup",
    "StreamingMinHashRuntime": "minhash",
    "StreamingWordFreqRuntime": "wf",
    "StreamingShingleIndexRuntime": "shidx",
    "StreamingAnnIvfRuntime": "ann",
}


def _construct(name, spark, sf_dir, tmp_path):
    cls = getattr(streaming, name)
    kw = {"centroids": [[1.0, 0.0], [0.0, 1.0]]} if name == "StreamingAnnIvfRuntime" else {}
    return cls(
        GearsEngine(spark, sf_dir), str(tmp_path / "spool"), str(tmp_path / "work"), **kw
    )


@pytest.mark.parametrize("name", sorted(_STEMS))
def test_directory_stems_are_stable(spark, sf_dir, tmp_path, name):
    """A renamed stem would make a restarted runtime open an empty
    checkpoint and sink, silently dropping its state."""
    rt = _construct(name, spark, sf_dir, tmp_path)
    work = str(tmp_path / "work")
    stem = _STEMS[name]
    assert rt._ckpt_dir == os.path.join(work, f"{stem}_ckpt")
    assert rt.sink_dir == os.path.join(work, f"{stem}_sink")


@pytest.mark.parametrize(
    "name", sorted(n for n in _STEMS if n != "StatefulStatsRuntime")
)
def test_stats_api_refused_off_the_stats_runtime(spark, sf_dir, tmp_path, name):
    """Only the stats runtime's sink is a per-key stats snapshot; every
    other runtime refuses latest()/expire_idle() instead of reading its
    own sink as if it were one."""
    rt = _construct(name, spark, sf_dir, tmp_path)
    with pytest.raises(GearsError, match="snapshot"):
        rt.latest()
    with pytest.raises(GearsError, match="not supported"):
        rt.expire_idle(0.0)


_ROWS = [
    (f"k:{i % 3}", i, {"value": f"{i}.5", "doc_id": str(i), "text": f"w{i % 4} w{i % 5} x"})
    for i in range(1, 13)
]


@pytest.mark.parametrize(
    "name",
    ["StatefulStatsRuntime", "StreamingRateLimitRuntime", "StreamingWordFreqRuntime"],
)
def test_sink_read_runs_no_job_and_matches_inference(spark, sf_dir, tmp_path, name):
    """The sink is read with the schema it was written with (the output
    schema plus the int `epoch` stamp): building the read starts no
    Spark job, and the schema is the one Spark would infer."""
    rt = _construct(name, spark, sf_dir, tmp_path)
    spool = str(tmp_path / "spool")
    _write_canonical(spark, spool, _ROWS[:6])
    rt.start()
    try:
        rt.process_available()
        _write_canonical(spark, spool, _ROWS[6:])  # a second epoch
        rt.process_available()
    finally:
        rt.stop()
    assert _jobs_run_by(spark, rt._sink_df) == []
    df = rt._sink_df()
    assert df.schema == spark.read.parquet(rt.sink_dir).schema
    assert df.count() > 0
