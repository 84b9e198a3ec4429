"""Streaming dedup shingle index — the live half of the incremental
dedup story (operators/dedup.dedup_incremental_batch is the batch half),
on the stateful runtime pattern.

Reference analog: the reference's stream consumers maintain queryable
per-consumer state that survives restarts
(redisgears_core/src/stream_reader.rs:112-150 frontier/state
discipline); here the state is the corpus's inverted shingle index —
the saved artifact dedup_incremental_batch's docstring names as "the
corpus's shingle index is saved state" — maintained by Structured
Streaming's state store instead of rebuilt per batch.

Design:

  * **Bucketed state, not per-shingle keys.** The stateful operator
    groups by `bucket` = crc32(shingle) % n_buckets (size rows route on
    doc_id % n_buckets), so the state store holds a BOUNDED number of
    keys regardless of vocabulary size; each bucket's state is its
    slice of the inverted index {shingle → sorted posting list} plus
    its slice of the doc-size table {doc_id → n_shingles}. This is the
    StreamingAnnIvfRuntime cell design applied to text: at 100 TB you
    scale n_buckets with the corpus and the state store hash-partitions
    buckets across executors; per-bucket state is
    O(corpus_shingles / n_buckets).
  * **Set semantics make ingest idempotent.** A posting list is a set
    of doc_ids and the size table a dict — re-ingesting a document
    under exactly-once replays, or ingesting the corpus in any chunking,
    reaches the same state (pinned in tests/test_streaming_dedup.py).
    A `del` tombstone carries the document text so its shingles route
    to the same buckets the insert landed in; each one removes the
    doc_id from that shingle's posting list (dropping emptied lists)
    and drops the size entry.
  * **Shingling is the batch family's own kernel.** The router calls
    operators/dedup._shingles_py — the ONE word-3-gram definition
    shared by the batch shingle stage, the MinHash sketches, and the
    DuckDB oracles — so a streamed-in document contributes exactly the
    (shingle, doc_id) postings the batch index build would produce.
  * **Exactness contract (pinned in tests/test_streaming_dedup.py):**
    `screen(new_docs)` over a streamed-in corpus returns BIT-IDENTICAL
    rows to batch dedup_incremental_batch over the same corpus — same
    pairs, same exact integer intersections/sizes, same IEEE jaccard
    and containment divisions — whether the corpus arrived in one
    batch, in increments, or with replays. The registered twin
    `dedup_incremental_streamed` runs the full lifecycle under the
    driver's hash-exact DuckDB oracle (the SAME oracle SQL as the batch
    operator).
  * **Screen = one Spark join, linear in the increment.** The new
    batch is shingled batch-side (Arrow kernel), exploded, and
    equi-joined against the exploded latest postings; candidate cost is
    increment_shingles × per-shingle document frequency — never
    quadratic in the corpus. Sizes for the base side come from the
    index state; only the increment is scanned.
"""

from __future__ import annotations

import json as _json
import zlib
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from redisgears_spark.engine import GearsEngine, GearsError
from redisgears_spark.streaming.stateful import _StatefulRuntime


def shingle_bucket(s: str, n_buckets: int) -> int:
    """Deterministic shingle → bucket routing (crc32 of the UTF-8
    bytes) — stable across processes, partitions, and replays."""
    return zlib.crc32(s.encode("utf-8")) % n_buckets


def _make_router(text_field: str, id_field: str, n_buckets: int):
    """mapInPandas kernel: shingle each document with the batch family's
    _shingles_py and scatter (bucket, shingle, doc_id) posting rows plus
    one doc-size row. A `del` tombstone (which carries the text) emits
    the removal twins instead. Runs executor-side over Arrow batches."""

    def route(batches):
        from zlib import crc32

        from redisgears_spark.operators.dedup import _shingles_py
        from redisgears_spark.streaming.stateful import (
            _CTL_DELETE,
            _CTL_FIELD,
        )

        for pdf in batches:
            # columnar buffers, not per-row dicts: a corpus batch
            # scatters |shingles| posting rows — list-of-dicts →
            # DataFrame measured ~4x slower than column lists at this
            # volume (guide §4.2: keep the Python row path out of bulk
            # construction)
            c_bucket: list[int] = []
            c_doc: list[int] = []
            c_sh: list[str | None] = []
            c_n: list[int] = []
            c_op: list[str] = []
            c_id: list[int] = []
            for fields, rec_id in zip(pdf["fields"], pdf["id"]):
                f = dict(fields) if fields is not None else {}
                text = f.get(text_field)
                did = f.get(id_field)
                if text is None or did is None:
                    continue
                did = int(did)
                rid = int(rec_id)
                delete = f.get(_CTL_FIELD) == _CTL_DELETE
                sh = _shingles_py(text)
                post_op = "del" if delete else "post"
                k = len(sh)
                c_bucket.extend(
                    crc32(s.encode("utf-8")) % n_buckets for s in sh
                )
                c_doc.extend([did] * k)
                c_sh.extend(sh)
                c_n.extend([-1] * k)
                c_op.extend([post_op] * k)
                c_id.extend([rid] * k)
                c_bucket.append(did % n_buckets)
                c_doc.append(did)
                c_sh.append(None)
                c_n.append(k)
                c_op.append("delsize" if delete else "size")
                c_id.append(rid)
            yield pd.DataFrame(
                {
                    "bucket": pd.Series(c_bucket, dtype="int64"),
                    "doc_id": pd.Series(c_doc, dtype="int64"),
                    "sh": pd.Series(c_sh, dtype="object"),
                    "n": pd.Series(c_n, dtype="int64"),
                    "op": pd.Series(c_op, dtype="object"),
                    "id": pd.Series(c_id, dtype="int64"),
                }
            )

    return route


def _make_bucket_reducer():
    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from redisgears_spark.streaming.stateful import _ordered_frame

        (bucket,) = key
        if state.exists:
            (idx_json,) = state.get
            st = _json.loads(idx_json)
            post: dict[str, list[int]] = st["post"]
            size: dict[str, int] = st["size"]
        else:
            post, size = {}, {}
        frame = _ordered_frame(pdfs)
        if len(frame):
            ops = frame["op"].to_numpy()
            if not ((ops == "del") | (ops == "delsize")).any():
                # insert-only fast path (the corpus-replay shape): posting
                # lists are SETS, so pure inserts are order-independent —
                # union per shingle via a C-grouped pandas groupby and
                # sort ONCE at the end, instead of the per-row
                # membership-scan + re-sort (quadratic on hot shingles).
                # End state is bit-identical to the ordered loop.
                posts = frame[ops == "post"]
                if len(posts):
                    for s, grp in posts.groupby("sh", sort=False)["doc_id"]:
                        prev = post.get(s)
                        merged = set(
                            grp.to_numpy(dtype="int64").tolist()
                        )
                        if prev is not None:
                            merged.update(prev)
                        post[s] = sorted(merged)
                sizes = frame[ops == "size"]
                if len(sizes):
                    # last write (highest id) wins per doc — frame is
                    # already id-ordered
                    last = sizes.drop_duplicates("doc_id", keep="last")
                    for did, n in zip(last["doc_id"], last["n"]):
                        size[str(int(did))] = int(n)
            else:
                for doc_id, s, n, op in zip(
                    frame["doc_id"], frame["sh"], frame["n"], frame["op"]
                ):
                    did = int(doc_id)
                    if op == "post":
                        ids = post.setdefault(s, [])
                        if did not in ids:
                            ids.append(did)
                            ids.sort()
                    elif op == "del":
                        ids = post.get(s)
                        if ids is not None:
                            try:
                                ids.remove(did)
                            except ValueError:
                                pass
                            if not ids:
                                post.pop(s)
                    elif op == "size":
                        size[str(did)] = int(n)
                    elif op == "delsize":
                        size.pop(str(did), None)
        state.update((_json.dumps({"post": post, "size": size}),))
        shingles = sorted(post)
        size_ids = sorted(int(k) for k in size)
        yield pd.DataFrame(
            [
                {
                    "bucket": int(bucket),
                    "n_shingles": len(shingles),
                    "n_docs": len(size_ids),
                    "shingles": shingles,
                    "postings": [post[s] for s in shingles],
                    "size_ids": size_ids,
                    "sizes": [size[str(i)] for i in size_ids],
                }
            ]
        )

    return reducer


class StreamingShingleIndexRuntime(_StatefulRuntime):
    """Continuously-maintained corpus shingle index over a document
    stream, queryable for incremental batch-vs-corpus dedup.

    Records carry the document text in ``fields[text_field]`` and its id
    in ``fields[id_field]``. See the module docstring for the
    routing/state/exactness contract.
    """

    _STEM = "shidx"
    _QUERY_NAME = "streaming_shingle_index"
    _OUTPUT_SCHEMA = (
        "bucket long, n_shingles bigint, n_docs bigint, "
        "shingles array<string>, postings array<array<bigint>>, "
        "size_ids array<bigint>, sizes array<bigint>"
    )
    _STATE_SCHEMA = "idx string"
    # op: 'post' adds doc_id to a shingle's posting list, 'del' removes it;
    # 'size'/'delsize' maintain the doc-size slice (sh is NULL, n carries
    # the document's distinct-shingle count)
    _ROUTED_SCHEMA = "bucket long, doc_id long, sh string, n long, op string, id bigint"
    _GROUP = "bucket"  # sink snapshots key on the bucket space
    _NO_LATEST = (
        "StreamingShingleIndexRuntime has no per-key stats snapshot — "
        "use postings() / doc_sizes() / screen()"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming shingle index "
        "(state is an index, not per-key stats); emit `del` "
        "tombstones to remove documents, stop()/flush() to clear"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        source_adapter=None,
        text_field: str = "text",
        id_field: str = "doc_id",
        n_buckets: int = 64,
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

    def _latest(self) -> DataFrame | None:
        """Latest committed slice per bucket (highest epoch wins —
        update mode re-emits a bucket's full slice whenever it changes),
        or None before the first commit."""
        df = self._sink_df()
        if df is None:
            return None
        return (
            df.groupBy("bucket")
            .agg(
                F.max_by(
                    F.struct(
                        "n_shingles",
                        "n_docs",
                        "shingles",
                        "postings",
                        "size_ids",
                        "sizes",
                    ),
                    F.col("epoch"),
                ).alias("s")
            )
            .select("bucket", "s.*")
        )

    def postings(self) -> DataFrame:
        """The live inverted index as (s, base_id) rows — the exploded
        equi-join side `screen` consumes (JVM-side explode; the index
        never touches the driver)."""
        idx = self._latest()
        if idx is None:
            raise GearsError(
                "streaming shingle index is empty — ingest documents and "
                "process_available() first"
            )
        return (
            idx.select(
                F.explode(F.arrays_zip("shingles", "postings")).alias("z")
            )
            .select(
                F.col("z.shingles").alias("s"),
                F.explode(F.col("z.postings")).alias("base_id"),
            )
        )

    def doc_sizes(self) -> DataFrame:
        """The live doc-size table as (doc_id, n) rows."""
        idx = self._latest()
        if idx is None:
            raise GearsError(
                "streaming shingle index is empty — ingest documents and "
                "process_available() first"
            )
        return (
            idx.select(
                F.explode(F.arrays_zip("size_ids", "sizes")).alias("z")
            )
            .select(
                F.col("z.size_ids").alias("doc_id"),
                F.col("z.sizes").alias("n"),
            )
        )

    def screen(
        self, new_docs: DataFrame, min_jaccard: float = 0.2
    ) -> DataFrame:
        """Screen a NEW batch of (doc_id, text) documents against the
        live corpus index — bit-identical to
        operators/dedup.dedup_incremental_batch over the same corpus:
        every (new, base) pair sharing ≥1 word-3-gram shingle, exact
        integer intersection/union, IEEE jaccard (≥ min_jaccard) and
        containment. Candidate cost is linear in the increment; the
        corpus contributes only its (shingle → posting) index state."""
        from redisgears_spark.operators.dedup import _shingle_kernel

        sh_new = new_docs.select("doc_id", "text").mapInPandas(
            _shingle_kernel, "doc_id long, sh array<string>"
        )
        ex_new = sh_new.select(
            F.col("doc_id").alias("new_id"), F.explode("sh").alias("s")
        )
        pairs = (
            ex_new.join(self.postings(), "s")
            .groupBy("new_id", "base_id")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sa = sh_new.select(
            F.col("doc_id").alias("new_id"),
            F.size("sh").cast("long").alias("n_a"),
        )
        sb = self.doc_sizes().select(
            F.col("doc_id").alias("base_id"), F.col("n").alias("n_b")
        )
        jac = F.col("inter").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("inter")
        )
        return (
            pairs.join(sa, "new_id")
            .join(sb, "base_id")
            .select(
                "new_id",
                "base_id",
                "inter",
                (F.col("n_a") + F.col("n_b") - F.col("inter")).alias(
                    "union_n"
                ),
                jac.alias("jaccard"),
                (
                    F.col("inter").cast("double") / F.least("n_a", "n_b")
                ).alias("containment"),
            )
            .filter(F.col("jaccard") >= min_jaccard)
        )
