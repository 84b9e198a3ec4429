"""Streaming word-frequency runtime — bit-parity with the batch BPE
state.

The contract under test (streaming/vocab.py): a document slice ingested
through the bucketed per-document stateful stream yields EXACTLY the
word-frequency table the batch `_word_freq_of` scan produces — whatever
the chunking, with re-delivered documents (counts must not
double-count), after deletions — and therefore the registered twin
`pipeline_bpe_extend_streamed` is bit-identical to batch
`pipeline_bpe_extend`.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from redisgears_spark.engine import GearsEngine
from redisgears_spark.sources.keyspace import load_table
from redisgears_spark.streaming import StreamingWordFreqRuntime

_INCR = ("src18", "src19")


def _write_spool(spark, sf_dir, spool, only_ids=None, exclude_ids=None):
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(_INCR))
    )
    if only_ids is not None:
        docs = docs.filter(F.col("doc_id").isin(list(only_ids)))
    if exclude_ids is not None:
        docs = docs.filter(~F.col("doc_id").isin(list(exclude_ids)))
    docs.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
            "stream_key"
        ),
        F.col("doc_id").cast("long").alias("id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("id_ts"),
        F.create_map(
            F.lit("doc_id"),
            F.col("doc_id").cast("string"),
            F.lit("text"),
            F.col("text"),
        ).alias("fields"),
        F.lit(None)
        .cast("array<struct<field:string,value:string>>")
        .alias("record"),
    ).write.mode("append").parquet(spool)


def _batch_freq(spark, sf_dir, exclude_ids=None):
    from redisgears_spark.operators.pipeline import _word_freq_of

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(_INCR))
    )
    if exclude_ids is not None:
        docs = docs.filter(~F.col("doc_id").isin(list(exclude_ids)))
    return {
        r["word"]: r["freq"]
        for r in _word_freq_of(docs).select("word", "freq").collect()
    }


def _stream_freq(rt):
    return {
        r["word"]: r["freq"]
        for r in rt.word_freq().select("word", "freq").collect()
    }


def _runtime(spark, sf_dir, tmp_path):
    return StreamingWordFreqRuntime(
        GearsEngine(spark, sf_dir=sf_dir),
        str(tmp_path / "spool"),
        str(tmp_path / "work"),
    )


def test_streamed_freq_equals_batch_scan(spark, sf_dir, tmp_path):
    """One-shot ingest of the increment slice → word_freq() equals the
    batch _word_freq_of scan, word for word, count for count."""
    _write_spool(spark, sf_dir, str(tmp_path / "spool"))
    rt = _runtime(spark, sf_dir, tmp_path)
    rt.start()
    rt.process_available()
    rt.stop()
    got = _stream_freq(rt)
    want = _batch_freq(spark, sf_dir)
    assert got == want
    assert len(got) > 0


def test_chunked_and_redelivered_ingest(spark, sf_dir, tmp_path):
    """Two-chunk ingest reaches the same table as one-shot, and a full
    RE-DELIVERY of the slice leaves counts unchanged (the per-doc state
    layer replaces rather than accumulates — the counts analog of the
    shingle index's set semantics)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(_INCR))
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    first = set(ids[: len(ids) // 2])
    spool = str(tmp_path / "spool")
    rt = _runtime(spark, sf_dir, tmp_path)
    _write_spool(spark, sf_dir, spool, only_ids=first)
    rt.start()
    rt.process_available()
    _write_spool(spark, sf_dir, spool, exclude_ids=first)
    rt.process_available()
    want = _batch_freq(spark, sf_dir)
    assert _stream_freq(rt) == want
    _write_spool(spark, sf_dir, spool)  # full re-delivery
    rt.process_available()
    rt.stop()
    assert _stream_freq(rt) == want  # no double counting


def test_delete_tombstone_removes_document_counts(spark, sf_dir, tmp_path):
    """A `del` tombstone (id-only, no payload) removes exactly the
    document's contribution: the table thereafter equals the batch scan
    over slice-minus-doc."""
    from redisgears_spark.streaming.stateful import _CTL_DELETE, _CTL_FIELD
    from redisgears_spark.streaming.triggers import STREAM_SCHEMA

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(_INCR))
    )
    victim = min(r["doc_id"] for r in docs.select("doc_id").collect())
    spool = str(tmp_path / "spool")
    _write_spool(spark, sf_dir, spool)
    rt = _runtime(spark, sf_dir, tmp_path)
    rt.start()
    rt.process_available()
    spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "stream_key": f"doc:{victim}",
                    "id": 10**9,
                    "id_ts": pd.Timestamp("2024-01-02"),
                    "fields": {
                        _CTL_FIELD: _CTL_DELETE,
                        "doc_id": str(victim),
                    },
                    "record": None,
                }
            ]
        ),
        STREAM_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(spool)
    rt.process_available()
    rt.stop()
    assert _stream_freq(rt) == _batch_freq(
        spark, sf_dir, exclude_ids={victim}
    )


def test_random_corpus_counter_pin(spark, tmp_path):
    """Constructed-corpus pin independent of the parquet fixtures: a
    seeded random corpus streamed in must match a pure-Python Counter
    reference exactly (ties the whole path — tokenize, route, state
    fold, partial re-aggregation — to first principles)."""
    from collections import Counter

    from redisgears_spark.streaming.triggers import STREAM_SCHEMA
    from redisgears_spark.operators.text import _tokens_py

    rng = random.Random(0xB0CA)
    vocab = [f"t{i}" for i in range(25)]
    docs = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
        for i in range(50)
    }
    spool = str(tmp_path / "spool")
    spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "stream_key": f"doc:{i}",
                    "id": i,
                    "id_ts": pd.Timestamp("2024-01-01"),
                    "fields": {"doc_id": str(i), "text": t},
                    "record": None,
                }
                for i, t in docs.items()
            ]
        ),
        STREAM_SCHEMA,
    ).write.parquet(spool)
    rt = StreamingWordFreqRuntime(
        GearsEngine(spark, sf_dir="/root/testdata/sf0.001"),
        spool,
        str(tmp_path / "work"),
        n_buckets=5,  # tiny: many docs per bucket
    )
    rt.start()
    rt.process_available()
    rt.stop()
    want = Counter()
    for t in docs.values():
        want.update(_tokens_py(t))
    assert _stream_freq(rt) == dict(want)


def test_bpe_extend_streamed_bit_equals_batch(spark, sf_dir):
    """The registered twin: pipeline_bpe_extend_streamed (extend fed
    from the runtime's live table) is row-identical to batch
    pipeline_bpe_extend — same merges, same rounds, same pair counts,
    same phases."""
    from redisgears_spark.operators.pipeline import (
        pipeline_bpe_extend,
        pipeline_bpe_extend_streamed,
    )

    want = sorted(map(tuple, pipeline_bpe_extend(spark, sf_dir).collect()))
    got = sorted(
        map(tuple, pipeline_bpe_extend_streamed(spark, sf_dir).collect())
    )
    assert got == want
    assert len(got) > 0


def test_degenerate_documents_word_freq(spark, tmp_path):
    """Edge pin: empty and whitespace-only documents contribute zero
    counts (but are retained as documents for tombstone symmetry), and
    the table equals a Counter over the non-degenerate text."""
    from collections import Counter

    from redisgears_spark.streaming.triggers import STREAM_SCHEMA
    from redisgears_spark.operators.text import _tokens_py

    docs = {0: "", 1: "   ", 2: "a b a", 3: "b"}
    spool = str(tmp_path / "spool")
    spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "stream_key": f"doc:{i}",
                    "id": i,
                    "id_ts": pd.Timestamp("2024-01-01"),
                    "fields": {"doc_id": str(i), "text": t},
                    "record": None,
                }
                for i, t in docs.items()
            ]
        ),
        STREAM_SCHEMA,
    ).write.parquet(spool)
    rt = StreamingWordFreqRuntime(
        GearsEngine(spark, sf_dir="/root/testdata/sf0.001"),
        spool,
        str(tmp_path / "work"),
        n_buckets=2,
    )
    rt.start()
    rt.process_available()
    rt.stop()
    want = Counter()
    for t in docs.values():
        want.update(_tokens_py(t))
    assert _stream_freq(rt) == dict(want) == {"a": 2, "b": 2}


def test_compact_sink_preserves_table_and_survives_restart(
    spark, sf_dir, tmp_path
):
    """compact_sink() rewrites the sink to the latest epoch per bucket:
    reads are unchanged, the row count drops to one per touched bucket,
    and a restarted query (same checkpoint) appends rows that supersede
    the compacted snapshot — the trim/maintain() discipline applied to
    the state sink."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(_INCR))
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    first = set(ids[: len(ids) // 3])
    second = set(ids[len(ids) // 3 : 2 * len(ids) // 3])
    spool = str(tmp_path / "spool")
    rt = _runtime(spark, sf_dir, tmp_path)
    _write_spool(spark, sf_dir, spool, only_ids=first)
    rt.start()
    rt.process_available()
    _write_spool(spark, sf_dir, spool, only_ids=second)
    rt.process_available()
    rt.stop()
    before = spark.read.parquet(rt.sink_dir).count()
    snapshot = _stream_freq(rt)
    after = rt.compact_sink()
    assert after < before  # superseded epochs dropped
    assert _stream_freq(rt) == snapshot  # reads unchanged
    # restart from the checkpoint and ingest the remainder
    rt.start()
    _write_spool(
        spark, sf_dir, spool, exclude_ids=first | second
    )
    rt.process_available()
    rt.stop()
    assert _stream_freq(rt) == _batch_freq(spark, sf_dir)


def test_compact_sink_refuses_running_query(spark, sf_dir, tmp_path):
    from redisgears_spark.engine import GearsError

    _write_spool(spark, sf_dir, str(tmp_path / "spool"))
    rt = _runtime(spark, sf_dir, tmp_path)
    rt.start()
    rt.process_available()
    try:
        with pytest.raises(GearsError, match="stopped"):
            rt.compact_sink()
    finally:
        rt.stop()
