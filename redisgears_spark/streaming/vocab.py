"""Streaming word-frequency runtime — the live vocabulary state of the
incremental-tokenizer story (operators/pipeline.pipeline_bpe_extend is
the batch consumer of exactly this table).

Reference analog: per-consumer state surviving restarts
(redisgears_core/src/stream_reader.rs:112-150); here the state is the
word-frequency table — BPE training's additive unit (frequency tables
of disjoint document slices ADD, the algebra `_bpe_extend` builds on).

Design:

  * **Bucketed per-document state.** The stateful operator groups by
    `bucket` = doc_id % n_buckets; each bucket's state is
    {doc_id → {word → count}} for its slice of documents. Keying the
    inner dict by doc_id is what buys idempotence for COUNTS — a
    re-delivered document REPLACES its own counter instead of
    double-counting (sets gave the shingle index this for free; counts
    need the per-doc layer). A `del` tombstone drops the document's
    counter by id — no payload needed.
  * **State size is corpus-token-scale** (each doc's distinct-word
    counter is retained). That is the honest cost of at-least-once
    idempotence at fixture scale; at 100 TB the documented swap is
    per-epoch frequency PARTIALS folded associatively with a doc-id
    high-water mark per source (dedup by frontier, not by retained
    counters) — the same state algebra, O(vocab) instead of O(corpus).
  * **Tokenization is the engine's one split.** The router tokenizes
    with `operators/text._tokens_py`, the Python twin of
    `filter(split(lower(text), '\\s+'), x != '')` that `_shingles_py`
    (and every token oracle) uses, so a streamed-in document
    contributes exactly the counts the batch `_word_freq_of` scan would
    produce.
  * **Exactness contract (pinned in tests/test_streaming_vocab.py):**
    `word_freq()` over a streamed-in document slice is row-identical to
    the batch `_word_freq_of` over the same slice — whatever the
    chunking, with replays, after deletions — and therefore
    `pipeline_bpe_extend_streamed` (the registered twin that feeds the
    extend machinery from this runtime's state) is BIT-IDENTICAL to
    batch `pipeline_bpe_extend`.
"""

from __future__ import annotations

import json as _json
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from redisgears_spark.engine import GearsEngine, GearsError
from redisgears_spark.streaming.stateful import _StatefulRuntime


def _make_router(text_field: str, id_field: str, n_buckets: int):
    """mapInPandas kernel: tokenize each document with
    operators/text._tokens_py and emit one (bucket, doc_id, word-count
    json) row; a `del` tombstone emits the removal row (no payload
    needed — state keys by doc_id)."""

    def route(batches):
        from collections import Counter

        from redisgears_spark.operators.text import _tokens_py
        from redisgears_spark.streaming.stateful import (
            _CTL_DELETE,
            _CTL_FIELD,
        )
        for pdf in batches:
            rows = []
            for fields, rec_id in zip(pdf["fields"], pdf["id"]):
                f = dict(fields) if fields is not None else {}
                did = f.get(id_field)
                if did is None:
                    continue
                did = int(did)
                if f.get(_CTL_FIELD) == _CTL_DELETE:
                    rows.append(
                        {
                            "bucket": did % n_buckets,
                            "doc_id": did,
                            "counts": "",
                            "op": "del",
                            "id": int(rec_id),
                        }
                    )
                    continue
                text = f.get(text_field)
                if text is None:
                    continue
                counts = Counter(_tokens_py(text))
                rows.append(
                    {
                        "bucket": did % n_buckets,
                        "doc_id": did,
                        "counts": _json.dumps(dict(counts)),
                        "op": "put",
                        "id": int(rec_id),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["bucket", "doc_id", "counts", "op", "id"]
            )

    return route


def _make_bucket_reducer():
    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from collections import Counter

        from redisgears_spark.streaming.stateful import _ordered_frame

        (bucket,) = key
        if state.exists:
            (wf_json,) = state.get
            docs: dict[str, dict[str, int]] = _json.loads(wf_json)
        else:
            docs = {}
        frame = _ordered_frame(pdfs)
        if len(frame):
            for doc_id, counts, op in zip(
                frame["doc_id"], frame["counts"], frame["op"]
            ):
                k = str(int(doc_id))
                if op == "del":
                    docs.pop(k, None)
                else:  # put REPLACES — idempotent under re-delivery
                    docs[k] = _json.loads(counts)
        state.update((_json.dumps(docs),))
        agg: Counter = Counter()
        for c in docs.values():
            agg.update(c)
        words = sorted(agg)
        yield pd.DataFrame(
            [
                {
                    "bucket": int(bucket),
                    "n_docs": len(docs),
                    "words": words,
                    "freqs": [int(agg[w]) for w in words],
                }
            ]
        )

    return reducer


class StreamingWordFreqRuntime(_StatefulRuntime):
    """Continuously-maintained word-frequency table over a document
    stream — the live vocabulary state pipeline_bpe_extend consumes.

    Records carry the document text in ``fields[text_field]`` and its id
    in ``fields[id_field]``. See the module docstring for the contract.
    """

    _STEM = "wf"
    _QUERY_NAME = "streaming_word_freq"
    _OUTPUT_SCHEMA = (
        "bucket long, n_docs bigint, words array<string>, freqs array<bigint>"
    )
    _STATE_SCHEMA = "wf string"
    _ROUTED_SCHEMA = "bucket long, doc_id long, counts string, op string, id bigint"
    _GROUP = "bucket"  # sink snapshots key on the bucket space
    _NO_LATEST = (
        "StreamingWordFreqRuntime has no per-key stats snapshot — "
        "use word_freq()"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming word-freq "
        "runtime (state is a frequency table, not per-key stats); "
        "emit `del` tombstones to remove documents, stop()/flush() "
        "to clear"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        text_field: str = "text",
        id_field: str = "doc_id",
        n_buckets: int = 32,
        files_per_trigger: int | None = None,
    ):
        super().__init__(engine, spool_dir, work_dir, source_adapter,
                         files_per_trigger=files_per_trigger)
        self.text_field = text_field
        self.id_field = id_field
        self.n_buckets = n_buckets
        self._state_key_cap = n_buckets  # bounded key space (buckets)

    def _reducer(self) -> Callable:
        return _make_bucket_reducer()

    def _router(self) -> Callable:
        return _make_router(self.text_field, self.id_field, self.n_buckets)

    def word_freq(self) -> DataFrame:
        """The live frequency table as (word, freq) rows — the exact
        shape operators/pipeline._word_freq_of produces, so the
        BPE machinery consumes either source interchangeably. Buckets
        partition DOCUMENTS, so a word's total is the sum of its
        per-bucket partials (one word-keyed aggregate, JVM-side)."""
        df = self._sink_df()
        if df is None:
            raise GearsError(
                "streaming word-freq state is empty — ingest documents "
                "and process_available() first"
            )
        latest = (
            df.groupBy("bucket")
            .agg(
                F.max_by(
                    F.struct("n_docs", "words", "freqs"), F.col("epoch")
                ).alias("s")
            )
            .select("bucket", "s.*")
        )
        return (
            latest.select(
                F.explode(F.arrays_zip("words", "freqs")).alias("z")
            )
            .select(
                F.col("z.words").alias("word"),
                F.col("z.freqs").alias("freq"),
            )
            .groupBy("word")
            .agg(F.sum("freq").alias("freq"))
        )
