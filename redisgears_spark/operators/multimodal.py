"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched Pandas UDFs over
mapInPandas.

The container has no image/audio libraries, so the *decode* step is a
clearly-marked stub (deterministic fake behind an import-try for PIL), but
the Spark-side plumbing — binary columns, metadata structs, UDF signatures,
batch iteration, partitioning — is real and tested. This mirrors the
reference's binary-safety discipline (every value has a raw ArrayBuffer
twin — redisgears_v8_plugin/src/v8_stream_ctx.rs:71-101): payloads stay
``binary`` end-to-end, string views are derived and nullable.

Scale: mapInPandas streams Arrow batches through the Python worker — memory
is bounded by batch size, not partition size; payload columns are pruned
until the decode stage so upstream exchanges never carry blobs.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redisgears_spark.operators.registry import query
from redisgears_spark.sources.keyspace import load_table

FEATURE_SCHEMA = (
    "doc_id long, payload_len long, checksum long, "
    "width int, height int, format string"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize an opaque-binary media table from documents: payload is the
    utf-8 encoded text (stand-in for image/audio bytes), metadata is a typed
    struct — the schema a real ingest would produce."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("n_chars").cast("long").alias("declared_size"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def _decode_image(payload: bytes) -> tuple[int, int, str]:
    """Decode step — STUBBED. Real implementation would use PIL/libvips.

    Falls back to a deterministic fake (dimensions derived from payload
    bytes) so the pipeline shape is exercised end-to-end without the libs.
    """
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image  # type: ignore

        img = Image.open(io.BytesIO(payload))
        return img.width, img.height, img.format or "unknown"
    except Exception:
        # deterministic fake: fold payload length into a plausible geometry
        n = len(payload)
        return (n % 640) + 1, (n % 480) + 1, "fake"


def _feature_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import zlib

    for pdf in it:
        payloads = pdf["payload"]
        decoded = [_decode_image(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload_len": payloads.map(len).astype("int64"),
                "checksum": payloads.map(
                    lambda p: zlib.crc32(p) & 0x7FFFFFFF
                ).astype("int64"),
                "width": [d[0] for d in decoded],
                "height": [d[1] for d in decoded],
                "format": [d[2] for d in decoded],
            }
        )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads."""
    return df.select("doc_id", "payload").mapInPandas(_feature_kernel, FEATURE_SCHEMA)


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
           CAST((octet_length(encode(text)) % 640) + 1 AS INT) AS width,
           CAST((octet_length(encode(text)) % 480) + 1 AS INT) AS height,
           'fake' AS format
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → features via mapInPandas (decode stubbed, plumbing
    real). Columns pruned to (doc_id, payload) before the Python stage.

    The oracle pins the deterministic-fake decode contract (dims derived
    from payload length) — which exactly checks the *plumbing*: per-row
    doc_id↔payload alignment through Arrow batches, byte-length fidelity
    of the binary column, and output dtypes. The crc32 checksum column is
    excluded here (DuckDB has no crc32) and pinned by a unit test instead,
    like multimodal_frame_sample's frame_crc."""
    return extract_features(media_table(spark, sf_dir)).select(
        "doc_id", "payload_len", "width", "height", "format"
    )


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, out_width int, out_height int, "
    "resized binary"
)


def _resize_image(payload: bytes, max_side: int) -> tuple[int, int, int, int, bytes]:
    """Resize step — STUBBED (PIL absent). Real implementation:
    Image.thumbnail((max_side, max_side)) + re-encode. The deterministic
    fake preserves the contract: aspect-ratio-preserving dims and an
    output payload derived from the input (here: truncated proportionally
    to the area ratio), so downstream size accounting is exercised."""
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image  # type: ignore

        img = Image.open(io.BytesIO(payload))
        w, h = img.width, img.height
        img.thumbnail((max_side, max_side))
        buf = io.BytesIO()
        img.save(buf, format=img.format or "PNG")
        return w, h, img.width, img.height, buf.getvalue()
    except Exception:
        w, h, _fmt = _decode_image(payload)
        scale = min(1.0, max_side / max(w, h))
        ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
        keep = max(1, int(len(payload) * (ow * oh) / (w * h)))
        return w, h, ow, oh, payload[:keep]


def _resize_kernel(it: Iterator[pd.DataFrame], max_side: int) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = [
            (doc_id, *_resize_image(bytes(p), max_side))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "out_width", "out_height",
                "resized",
            ],
        )


def resize_images(df: DataFrame, max_side: int = 64) -> DataFrame:
    """Arrow-batched resize over binary payloads: (doc_id, payload) →
    original + output geometry + resized payload. Scale: batch-bounded
    memory; the blob column is pruned to exactly this stage's input."""
    return df.select("doc_id", "payload").mapInPandas(
        partial(_resize_kernel, max_side=max_side), RESIZED_SCHEMA
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_offset long, frame_crc long"

_FRAME_SIZE = 256  # fake fixed-size frames carved from the payload
_FRAME_STRIDE = 4  # sample every 4th frame


def _frame_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import zlib

    for pdf in it:
        out = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            p = bytes(p)
            n_frames = max(1, len(p) // _FRAME_SIZE)
            for idx in range(0, n_frames, _FRAME_STRIDE):
                off = idx * _FRAME_SIZE
                frame = p[off : off + _FRAME_SIZE]
                out.append(
                    (doc_id, idx, off, zlib.crc32(frame) & 0x7FFFFFFF)
                )
        yield pd.DataFrame(
            out, columns=["doc_id", "frame_idx", "frame_offset", "frame_crc"]
        )


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling for video-like payloads: one input row fans out to
    its sampled frames (1:N mapInPandas — the shape a real decoder
    produces). STUBBED decode: frames are fixed-size byte windows; real
    implementation would use pyav/ffmpeg keyframe iteration.

    Scale: fan-out happens executor-side inside the Arrow batch; only
    fixed-width frame descriptors leave the stage, never frame payloads,
    so the downstream exchange is O(frames), not O(bytes)."""
    return df.select("doc_id", "payload").mapInPandas(_frame_kernel, FRAME_SCHEMA)


@query(
    "multimodal_resize",
    oracle="""
    WITH geo AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             (octet_length(encode(text)) % 640) + 1 AS w,
             (octet_length(encode(text)) % 480) + 1 AS h
      FROM documents
    ),
    o AS (
      SELECT doc_id, n, w, h,
             greatest(1, CAST(floor(
               w * least(1.0, 64.0 / greatest(w, h))) AS BIGINT)) AS ow,
             greatest(1, CAST(floor(
               h * least(1.0, 64.0 / greatest(w, h))) AS BIGINT)) AS oh
      FROM geo
    )
    SELECT doc_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(ow AS INT) AS out_width, CAST(oh AS INT) AS out_height,
           CAST(greatest(1, CAST(floor(n * ow * oh / (w * h)) AS BIGINT))
                AS BIGINT) AS resized_len
    FROM o
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline stage (decode stubbed, plumbing real): returns
    geometry accounting; the resized blob itself is dropped before any
    exchange (the 100 TB rule: blobs never shuffle).

    Oracle: the deterministic-fake resize is pure arithmetic over the
    payload byte length (aspect-preserving scale, floor-truncated output
    dims, proportional byte retention) — both engines execute the same
    IEEE double sequence, so the check is exact. What it really verifies:
    the Python stage's row alignment, the binary column's byte fidelity,
    and that resized_len accounting survives the Arrow round-trip."""
    resized = resize_images(media_table(spark, sf_dir))
    return resized.select(
        "doc_id",
        "width",
        "height",
        "out_width",
        "out_height",
        F.length("resized").cast("long").alias("resized_len"),
    )


@query(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * {_FRAME_SIZE} AS BIGINT) AS frame_offset
    FROM (
      SELECT doc_id,
             unnest(range(0,
               greatest(1, octet_length(encode(text)) // {_FRAME_SIZE}),
               {_FRAME_STRIDE})) AS frame_idx
      FROM documents
    )
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample stage: every 4th fixed-size frame per payload. The
    frame *positions* are oracle-checkable (pure arithmetic over payload
    length); the crc accounting column is covered by unit tests instead
    (DuckDB lacks crc32)."""
    return sample_frames(media_table(spark, sf_dir)).select(
        "doc_id", "frame_idx", "frame_offset"
    )


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS payload_len,
           source AS origin,
           CAST(n_chars AS BIGINT) AS declared_size,
           CAST(length(text) = n_chars AS BOOLEAN) AS size_consistent
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only path: validates typed metadata against actual payload
    bytes *without* decoding — JVM-side length on the binary column, no
    Python. The 100 TB pattern: metadata checks run on pruned columns;
    decode only what survives."""
    media = media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        F.length("payload").cast("long").alias("payload_len"),
        F.col("meta.origin").alias("origin"),
        F.col("meta.declared_size").alias("declared_size"),
        (F.length("payload").cast("long") == F.col("meta.declared_size")).alias(
            "size_consistent"
        ),
    )


@query(
    "multimodal_dedup_exact",
    oracle="""
    SELECT md5(text) AS payload_md5, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact media dedup: fingerprint the opaque binary payload and
    keep the lowest doc_id per fingerprint. Unlike the text `dedup_exact`
    there is deliberately NO normalization — two media blobs are duplicates
    iff their bytes match (a resized image is a different asset; near-dup
    media belongs to the embedding-cosine path).

    Scale: identical shape to dedup_exact — project to (md5, doc_id)
    map-side so the exchange carries 24 bytes/row no matter how large the
    payloads are; the payload column itself is pruned after the hash.
    """
    media = media_table(spark, sf_dir)
    return (
        media.select(F.md5("payload").alias("payload_md5"), "doc_id")
        .groupBy("payload_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_EMBED_DIM = 16


def _embed_payload(payload: bytes) -> list:
    """Embedding step — STUBBED. A real implementation would run a CLIP-ish
    encoder (torch/onnxruntime absent in this container); the fallback is a
    deterministic fake — unit-normalized values derived from two md5
    digests of the payload — so the pipeline shape (binary → array<float>,
    batch iteration, downstream dedup/ANN joins) is exercised end-to-end
    and identical payloads land on identical vectors.

    Construction (round 13, was blake2b): 32 digest bytes → 16 uint16 u;
    v_i = (2u_i - 65535) / sqrt(Σ(2u_j - 65535)²). The numerator and the
    radicand are EXACT integers (2u-65535 is odd, so the norm is never
    zero), leaving one sqrt + one division of IEEE doubles per element —
    the discipline that makes the vector bit-reproducible in DuckDB
    (md5_number_upper/_lower per digest half), i.e. the registered query
    is hash-exact oracle-able."""
    try:  # pragma: no cover - encoders absent in this container
        raise ImportError  # no public model runtime available here
    except ImportError:
        import math
        from hashlib import md5

        import numpy as np

        raw = md5(payload).digest() + md5(payload + b":1").digest()
        u = np.frombuffer(raw, dtype="<u2").astype("int64")
        w = 2 * u - 65535
        s = int((w * w).sum())
        root = math.sqrt(s)
        return [float(x) / root for x in w]


def _embed_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "embedding": [_embed_payload(p) for p in pdf["payload"]],
                "model": "fake-md5-16",
            }
        )


def embed_payloads(df: DataFrame) -> DataFrame:
    """Arrow-batched (doc_id, payload) → (doc_id, embedding, model)."""
    return df.select("doc_id", "payload").mapInPandas(
        _embed_kernel, "doc_id long, embedding array<double>, model string"
    )


@query(
    "multimodal_embed",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             md5_number_upper(text) AS a0, md5_number_lower(text) AS a1,
             md5_number_upper(text || ':1') AS b0,
             md5_number_lower(text || ':1') AS b1
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             (CAST((a0 >> 0) & 65535 AS BIGINT) * 2 - 65535) AS w0,
             (CAST((a0 >> 16) & 65535 AS BIGINT) * 2 - 65535) AS w1,
             (CAST((a0 >> 32) & 65535 AS BIGINT) * 2 - 65535) AS w2,
             (CAST((a0 >> 48) & 65535 AS BIGINT) * 2 - 65535) AS w3,
             (CAST((a1 >> 0) & 65535 AS BIGINT) * 2 - 65535) AS w4,
             (CAST((a1 >> 16) & 65535 AS BIGINT) * 2 - 65535) AS w5,
             (CAST((a1 >> 32) & 65535 AS BIGINT) * 2 - 65535) AS w6,
             (CAST((a1 >> 48) & 65535 AS BIGINT) * 2 - 65535) AS w7,
             (CAST((b0 >> 0) & 65535 AS BIGINT) * 2 - 65535) AS w8,
             (CAST((b0 >> 16) & 65535 AS BIGINT) * 2 - 65535) AS w9,
             (CAST((b0 >> 32) & 65535 AS BIGINT) * 2 - 65535) AS w10,
             (CAST((b0 >> 48) & 65535 AS BIGINT) * 2 - 65535) AS w11,
             (CAST((b1 >> 0) & 65535 AS BIGINT) * 2 - 65535) AS w12,
             (CAST((b1 >> 16) & 65535 AS BIGINT) * 2 - 65535) AS w13,
             (CAST((b1 >> 32) & 65535 AS BIGINT) * 2 - 65535) AS w14,
             (CAST((b1 >> 48) & 65535 AS BIGINT) * 2 - 65535) AS w15
      FROM m
    ),
    n AS (SELECT *, (w0 * w0 + w1 * w1 + w2 * w2 + w3 * w3 + w4 * w4 + w5 * w5 + w6 * w6 + w7 * w7 + w8 * w8 + w9 * w9 + w10 * w10 + w11 * w11 + w12 * w12 + w13 * w13 + w14 * w14 + w15 * w15) AS s FROM w),
    v AS (
      SELECT doc_id,
             CAST(w0 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v0,
             CAST(w1 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v1,
             CAST(w2 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v2,
             CAST(w3 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v3,
             CAST(w4 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v4,
             CAST(w5 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v5,
             CAST(w6 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v6,
             CAST(w7 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v7,
             CAST(w8 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v8,
             CAST(w9 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v9,
             CAST(w10 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v10,
             CAST(w11 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v11,
             CAST(w12 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v12,
             CAST(w13 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v13,
             CAST(w14 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v14,
             CAST(w15 AS DOUBLE) / sqrt(CAST(s AS DOUBLE)) AS v15
      FROM n
    )
    SELECT doc_id, 'fake-md5-16' AS model, 16 AS dim,
           md5(CAST(CAST(round(v0 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v1 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v2 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v3 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v4 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v5 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v6 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v7 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v8 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v9 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v10 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v11 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v12 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v13 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v14 * 1000000) AS BIGINT) AS VARCHAR) || ',' || CAST(CAST(round(v15 * 1000000) AS BIGINT) AS VARCHAR)) AS emb_md5,
           CAST(round(((((((((((((((((0.0 + v0 * v0) + v1 * v1) + v2 * v2) + v3 * v3) + v4 * v4) + v5 * v5) + v6 * v6) + v7 * v7) + v8 * v8) + v9 * v9) + v10 * v10) + v11 * v11) + v12 * v12) + v13 * v13) + v14 * v14) + v15 * v15) * 1000000) AS BIGINT) AS norm_sq_q6
    FROM v
    """,
)
def multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding extraction over binary media payloads — the bridge from
    the multimodal plumbing to the similarity/dedup stack:
    `embed_payloads()` (the internal API the similarity stack consumes
    unchanged) yields exactly the `embeddings` table shape.

    The REGISTERED query projects the array down to scalar columns —
    `(doc_id, model, dim, emb_md5, norm_sq_q6)` — because the driver's
    rows-only canonicalizer sorts every column through pandas and an
    `array<double>` cell is unhashable there. emb_md5 commits to the
    full vector (md5 of its JSON rendering), norm_sq_q6 is the squared
    L2 norm in micro units (integer — exact, no float-sum ambiguity),
    so the check still pins the embedding VALUES, not just row counts.

    Scale: one Arrow-batched pass; the payload column is pruned until
    this stage so no exchange ever carries blobs, and the output is a
    narrow scalar projection. The encoder itself is stubbed
    (deterministic blake2b fake — no model runtime in this container)
    with the same import-try discipline as the decode step.
    """
    emb = embed_payloads(media_table(spark, sf_dir))
    return emb.select(
        "doc_id",
        "model",
        F.size("embedding").alias("dim"),
        # commit to the vector through its micro-unit quantization (the
        # engine-portable rendering — to_json float formatting is not)
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    "embedding",
                    lambda x: F.round(x * F.lit(1_000_000))
                    .cast("long")
                    .cast("string"),
                ),
            )
        ).alias("emb_md5"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x * x
            )
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("norm_sq_q6"),
    )


@query(
    "multimodal_size_histogram",
    oracle="""
    WITH p AS (
      SELECT source AS origin,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT origin,
           CAST(length(ltrim(bin(n_bytes), '0')) AS BIGINT) AS size_bucket,
           CAST(1 << (length(ltrim(bin(n_bytes), '0')) - 1) AS BIGINT)
             AS bytes_lo,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
    FROM p WHERE n_bytes > 0
    GROUP BY origin, length(ltrim(bin(n_bytes), '0'))
    """,
)
def multimodal_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-size log2 histogram per origin: how many media blobs land
    in each power-of-two size band and the bytes they hold — the storage
    planner's view (shard sizing, small-file compaction, and decode-cost
    budgeting all read this table first).

    Exactness: the bucket is the integer bit-length of the byte count
    (the events_user_activity_log2 idiom — bin() + ltrim, no float log2
    anywhere); byte counts come from the BINARY payload length, never a
    decode.

    Scale: a JVM-side projection on the pruned (payload-length, origin)
    pair — the payload column's bytes never reach Python — followed by
    one map-side partial aggregate to |origins| x ~40 rows.
    """
    media = media_table(spark, sf_dir)
    n = F.length("payload").cast("long")
    p = media.select(
        F.col("meta.origin").alias("origin"), n.alias("n_bytes")
    ).filter(F.col("n_bytes") > 0)
    bucket = F.length(
        F.expr("TRIM(LEADING '0' FROM bin(n_bytes))")
    ).cast("long")
    return (
        p.groupBy("origin", bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_payloads"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
        .select(
            "origin",
            "size_bucket",
            F.expr("shiftleft(1L, cast(size_bucket as int) - 1)")
            .cast("long")
            .alias("bytes_lo"),
            "n_payloads",
            "total_bytes",
        )
    )


@query(
    "multimodal_size_mismatch_audit",
    oracle="""
    SELECT source AS origin,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(CASE WHEN octet_length(encode(text)) <> n_chars
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           CAST(SUM(CASE WHEN octet_length(encode(text)) <> n_chars
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS mismatch_rate
    FROM documents GROUP BY source
    """,
)
def multimodal_size_mismatch_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declared-vs-actual payload size audit per origin: the rollup of
    multimodal_metadata's per-row consistency flag — the ingest-health
    summary a pipeline gate reads (an origin with a nonzero mismatch
    rate is truncating blobs or mis-reporting metadata; at byte level,
    any multi-byte character makes declared char counts diverge from
    encoded bytes, which is exactly what this catches).

    Exactness: byte lengths are JVM-side BINARY lengths vs the typed
    metadata integer; counts integer, rate one division.

    Scale: pruned-column projection (payload length + metadata only —
    the blob bytes never reach Python), one map-side aggregate to
    |origins| rows.
    """
    media = media_table(spark, sf_dir)
    mism = F.sum(
        F.when(
            F.length("payload").cast("long") != F.col("declared_size"), 1
        ).otherwise(0)
    )
    return (
        media.select(
            F.col("meta.origin").alias("origin"),
            "payload",
            F.col("meta.declared_size").alias("declared_size"),
        )
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_payloads"),
            mism.cast("long").alias("n_mismatch"),
            (mism.cast("double") / F.count(F.lit(1))).alias("mismatch_rate"),
        )
    )


@query(
    "multimodal_dedup_incremental",
    oracle="""
    WITH base AS (
      SELECT md5(text) AS payload_md5, MIN(doc_id) AS base_doc_id,
             COUNT(*) AS base_copies
      FROM documents WHERE source NOT IN ('src18', 'src19')
      GROUP BY md5(text)
    )
    SELECT d.doc_id AS new_id, md5(d.text) AS payload_md5,
           (b.base_doc_id IS NOT NULL) AS is_dup,
           b.base_doc_id,
           CAST(COALESCE(b.base_copies, 0) AS BIGINT) AS base_copies
    FROM documents d
    LEFT JOIN base b ON md5(d.text) = b.payload_md5
    WHERE d.source IN ('src18', 'src19')
    """,
)
def multimodal_dedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental media dedup — the per-asset admit/reject screen for
    a NEW batch of media against the EXISTING corpus's content-hash
    index: every increment asset, flagged is_dup when its bytes already
    exist in the base corpus (byte-exact, the multimodal_dedup_exact
    contract — no normalization), with the canonical base asset and its
    copy count when they do. The saved state here is the
    (md5 → keep_doc_id, n_copies) fingerprint table — 24 B/asset
    regardless of payload size — and only the increment is hashed: this
    completes the round-12 incremental screen across all three near-dup
    modalities (lexical shingles, semantic embeddings, and byte-exact
    media), on the same src18/src19 increment scenario.

    Exactness: md5 equality, boolean flag, integer counts — full
    hash-exact DuckDB oracle.

    Scale: both sides project to (md5, doc_id) map-side before any
    exchange (payload pruned after the hash); the join is
    increment-fingerprints x corpus-fingerprint-table on the 16-byte
    hash. No broadcast hint — the fingerprint table is corpus-sized
    (the dedup_exact lesson); AQE broadcasts the increment side when
    small.
    """
    media = media_table(spark, sf_dir).join(
        load_table(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
    )
    is_new = F.col("source").isin("src18", "src19")
    base = (
        media.filter(~is_new)
        .select(F.md5("payload").alias("payload_md5"), "doc_id")
        .groupBy("payload_md5")
        .agg(
            F.min("doc_id").alias("base_doc_id"),
            F.count(F.lit(1)).alias("base_copies"),
        )
    )
    new = media.filter(is_new).select(
        F.col("doc_id").alias("new_id"),
        F.md5("payload").alias("payload_md5"),
    )
    return new.join(base, "payload_md5", "left").select(
        "new_id",
        "payload_md5",
        F.col("base_doc_id").isNotNull().alias("is_dup"),
        "base_doc_id",
        F.coalesce("base_copies", F.lit(0)).cast("long").alias(
            "base_copies"
        ),
    )
