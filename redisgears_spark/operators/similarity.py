"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the oracle-checked baseline; random-hyperplane
LSH bucketing as the 100 TB scale path.

Determinism trick: embeddings are quantized to integer micro-units
(round(x * 1e6) as bigint), so dot products and squared norms are *exact
integer* sums — order-independent — and the final cosine is a fixed sequence
of IEEE double ops (cast, sqrt, multiply, divide), bit-identical between
Spark and DuckDB. This converts an inherently float-fuzzy comparison into an
exact one (the quantized cosine differs from the float cosine by < 1e-5,
irrelevant for ranking).

All vector math is Catalyst higher-order functions (transform / zip_with /
aggregate) — JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from redisgears_spark.operators.registry import query
from redisgears_spark.operators.text import _TOKENS_SQL
from redisgears_spark.sources.keyspace import load_table, rebalanced

# NOTE (r13): IVF centroids / PQ codebooks are retrained per invocation.
# A module-level trained-index memo keyed on the corpus fingerprint was
# removed — every query call must compute from the parquet inputs; the
# honest training cost is optimized structurally (seeded Lloyd, one
# refinement pass over map-side integer partials) instead of skipped.
import os as _os


_N_QUERIES = 8  # vec_id < 8 are the query vectors
_TOP_K = 5

# quantize float array → bigint micro-units
_QUANT = (
    "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"
)


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )


def quantized(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """embeddings → (<p>_id, <p>_q: array<bigint>, <p>_nq: squared norm)."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select(
        F.col("vec_id").alias(f"{prefix}_id"), F.expr(_QUANT).alias(f"{prefix}_q")
    )
    return df.withColumn(f"{prefix}_nq", _dot(f"{prefix}_q", f"{prefix}_q"))


def _cosine(dot: Column, na: Column | str, nb: Column | str) -> Column:
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    return dot.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


_ORACLE_QUANT_CTE = """
    q AS (SELECT vec_id,
                 [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                  for x in embedding] AS v
          FROM embeddings),
    n AS (SELECT vec_id, v,
                 CAST(list_sum([v[i] * v[i]
                      for i in generate_series(1, len(v))]) AS BIGINT) AS nq
          FROM q)
"""


# Hard cap on driver-side vector materialization (rows). 1M × dim-64 int64
# ≈ 0.5 GB — the point past which the all-pairs verifier must hand off to
# the bucketed candidate generators.
_BRUTEFORCE_MAX_ROWS = 1_000_000


def _corpus_numpy(spark: SparkSession, sf_dir: str, predicate=None):
    """Quantized vectors as numpy (ids: int64[n], M: int64[n, dim]).

    Used by the block-matmul kernels below. `predicate` narrows the pull
    (e.g. just the query vectors). Materialization is bounded: pulling more
    than _BRUTEFORCE_MAX_ROWS raises instead of OOMing the driver — at that
    scale generate candidates with sim_ann_lsh / sim_ann_ivf and use the
    exact cosine only on candidate pairs.
    """
    import numpy as np

    df = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QUANT).alias("v")
    )
    if predicate is not None:
        df = df.filter(predicate)
    # limit(cap+1) bounds the transfer structurally — the driver never
    # receives more than cap+1 rows even when the guard trips
    pdf = df.limit(_BRUTEFORCE_MAX_ROWS + 1).toPandas()
    if len(pdf) > _BRUTEFORCE_MAX_ROWS:
        raise ValueError(
            f"brute-force path refuses > {_BRUTEFORCE_MAX_ROWS} vectors "
            "on the driver; use sim_ann_lsh or sim_ann_ivf to generate "
            "candidates and rescore with the exact quantized cosine"
        )
    ids = pdf["vec_id"].to_numpy(dtype="int64")
    M = np.vstack(pdf["v"].to_numpy()).astype("int64")
    return ids, M


def _driver_vecs(spark: SparkSession, sf_dir: str, predicate):
    """One pushed-filter driver gather of (vec_id, v: float64 list) rows,
    ordered by vec_id. The ANN operators need several tiny fixed row sets
    on the driver (Lloyd seed vectors, the 8 query vectors); each separate
    toPandas is a full job round trip, so an operator fetches the UNION of
    its row sets once and slices (the slices are bit-identical to separate
    fetches — same projection, same vec_id order)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(predicate)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .orderBy("vec_id")
        .toPandas()
    )


def _vec_slice(pdf, lo: int, hi: int):
    """Rows of a _driver_vecs frame with lo <= vec_id <= hi (still
    vec_id-ordered — the frame is)."""
    return pdf[(pdf["vec_id"] >= lo) & (pdf["vec_id"] <= hi)].reset_index(
        drop=True
    )


def _block_cosine(A, M):
    """Exact-integer block cosine: every element is
    double(dot_int) / (sqrt(double(na_int)) * sqrt(double(nb_int))) —
    the identical IEEE op sequence the DuckDB oracle performs, so results
    are bit-exact despite the vectorized evaluation."""
    import numpy as np

    dot = A @ M.T  # int64 exact (|x|<=2e5 → dot <= 64*4e10 << 2^63)
    na = np.einsum("ij,ij->i", A, A)  # int64 exact
    nb = np.einsum("ij,ij->i", M, M)
    return dot.astype("float64") / (
        np.sqrt(na.astype("float64"))[:, None] * np.sqrt(nb.astype("float64"))[None, :]
    )


# exact top-k ground truth — shared by sim_topk_bruteforce and every
# registered ANN variant whose probe is provably exhaustive (exactprobe)
_TOPK_EXACT_ORACLE = f"""
    WITH {_ORACLE_QUANT_CTE},
    pairs AS (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             CAST(a.nq AS BIGINT) AS q_nq, CAST(b.nq AS BIGINT) AS n_nq,
             CAST(list_sum([a.v[i] * b.v[i]
                  for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot
      FROM n a JOIN n b ON a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT q_id, n_id,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(q_nq AS DOUBLE)) * sqrt(CAST(n_nq AS DOUBLE)))
               AS cosine
      FROM pairs
    )
    SELECT q_id, n_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOP_K}
    """


def _query_topk_kernel(batches, bc, k: int):
    import numpy as np
    import pandas as pd

    q_ids, Q = bc.value
    for pdf in batches:
        n_ids = pdf["vec_id"].to_numpy(dtype="int64")
        B = np.vstack(pdf["v"].to_numpy()).astype("int64")
        cos = _block_cosine(Q, B)  # queries x batch
        qq, nn = np.broadcast_arrays(q_ids[:, None], n_ids[None, :])
        keep = qq != nn
        out = pd.DataFrame(
            {
                "q_id": qq[keep],
                "n_id": nn[keep],
                "cosine": cos[keep],
            }
        )
        # executor-side pre-reduction: keep top-k per query per batch
        out = (
            out.sort_values(["cosine", "n_id"], ascending=[False, True])
            .groupby("q_id", group_keys=False)
            .head(k)
        )
        yield out


@query("sim_topk_bruteforce", oracle=_TOPK_EXACT_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each query vector (vec_id < 8).

    Scale: the (tiny) query matrix ships to executors via broadcast —
    ONLY the query vectors are ever driver-materialized, never the corpus;
    the corpus streams through mapInPandas in Arrow batches — one narrow
    pass, cost O(|corpus| * |queries| * dim) as a vectorized int64 matmul,
    zero shuffle of the corpus. The per-query top-k is a bounded-state
    window over |queries|*|corpus| scored pairs pre-reduced executor-side
    to |queries|*k per batch. For large query sets switch to sim_ann_lsh.
    """
    # queries ship once per executor as a broadcast, not in every task's kernel
    bc = spark.sparkContext.broadcast(
        _corpus_numpy(spark, sf_dir, predicate=F.col("vec_id") < _N_QUERIES)
    )
    corpus = rebalanced(
        load_table(spark, sf_dir, "embeddings").select("vec_id", F.expr(_QUANT).alias("v"))
    )
    scored = corpus.mapInPandas(
        partial(_query_topk_kernel, bc=bc, k=_TOP_K), "q_id long, n_id long, cosine double"
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


def _pair_score_kernel(batches, bc):
    import numpy as np
    import pandas as pd

    ids, M = bc.value
    for pdf in batches:
        a_ids = pdf["vec_id"].to_numpy(dtype="int64")
        A = np.vstack(pdf["v"].to_numpy()).astype("int64")
        cos = _block_cosine(A, M)
        aa, bb = np.broadcast_arrays(a_ids[:, None], ids[None, :])
        keep = (aa < bb) & (cos >= 0.35)
        yield pd.DataFrame(
            {"a_id": aa[keep], "b_id": bb[keep], "cosine": cos[keep]}
        )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_ORACLE_QUANT_CTE},
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(list_sum([a.v[i] * b.v[i]
                  for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot,
             CAST(a.nq AS BIGINT) AS a_nq, CAST(b.nq AS BIGINT) AS b_nq
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(a_nq AS DOUBLE)) * sqrt(CAST(b_nq AS DOUBLE)))
             AS cosine
    FROM pairs
    WHERE CAST(dot AS DOUBLE)
            / (sqrt(CAST(a_nq AS DOUBLE)) * sqrt(CAST(b_nq AS DOUBLE))) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.35).

    Brute-force all-pairs — correct but quadratic; it is the oracle-checked
    verifier. Executed as a blocked int64 matmul: each Arrow batch of rows
    scores against the full corpus matrix (a one-per-executor broadcast) and
    emits only above-threshold pairs, so the quadratic work is vectorized
    and the output is sparse. At 100 TB, generate candidates with
    sim_ann_lsh buckets and verify with this cosine on candidates only.

    Measured cost of the r10 double-quantization fix (d3f6852: every
    float32 component casts to double BEFORE the ×1000 quantization, on
    both engines): the r10 driver artifact read 1.55 s (vs 0.71 s in r9)
    under a mid-run canary spike; an interleaved clean-canary re-run in
    r11 reads 0.52–0.74 s WITH the fix in place — the fix itself costs
    ≲0.1 s at sf0.1, the rest of the r10 delta was box state.
    """
    # corpus ships once per executor as a broadcast, not in every task's kernel
    bc = spark.sparkContext.broadcast(_corpus_numpy(spark, sf_dir))
    corpus = rebalanced(
        load_table(spark, sf_dir, "embeddings").select("vec_id", F.expr(_QUANT).alias("v"))
    )
    return corpus.mapInPandas(
        partial(_pair_score_kernel, bc=bc), "a_id long, b_id long, cosine double"
    )


def _sign_bucket_kernel(batches, planes):
    """Bucket bit = EXACT integer sign of (quantized vector · ±1
    plane) — with the Rademacher planes the projection is a sum of
    int64 micro-units, so buckets are order-independent and the
    DuckDB oracle replays them bit-for-bit (no float boundary)."""
    import numpy as np
    import pandas as pd

    P = planes.reshape(-1, planes.shape[-1]).T  # (dim, T*B) of ±1
    weights = (1 << np.arange(_LSH_BITS, dtype="int64"))
    for pdf in batches:
        Q = np.vstack(pdf["v"].to_numpy()).astype("int64")
        bits = (Q @ P) > 0
        bits = bits.reshape(len(Q), _LSH_TABLES, _LSH_BITS)
        bucket = (bits * weights[None, None, :]).sum(axis=2)
        vec_ids = pdf["vec_id"].to_numpy(dtype="int64")
        n = len(Q)
        yield pd.DataFrame(
            {
                "vec_id": np.repeat(vec_ids, _LSH_TABLES),
                "tbl": np.tile(
                    np.arange(_LSH_TABLES, dtype="int64"), n
                ),
                "bucket": bucket.reshape(-1),
                "v": [
                    row
                    for row in pdf["v"]
                    for _ in range(_LSH_TABLES)
                ],
            }
        )


def _bucket_verify_kernel(key, pdf):
    """One (table, bucket) group: stack the member vectors, one
    blocked exact-integer matmul, emit above-threshold (a<b) pairs.
    Chunked so a hot bucket stays bounded-memory."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy(dtype="int64")
    if len(ids) < 2:
        return pd.DataFrame(
            {"a_id": [], "b_id": [], "cosine": []}
        ).astype({"a_id": "int64", "b_id": "int64", "cosine": "float64"})
    M = np.vstack([np.asarray(x, dtype="int64") for x in pdf["v"]])
    outs = []
    for lo in range(0, len(ids), 4096):
        hi = min(lo + 4096, len(ids))
        cos = _block_cosine(M[lo:hi], M)
        aa = np.repeat(ids[lo:hi], len(ids))
        bb = np.tile(ids, hi - lo)
        keep = (aa < bb) & (cos.ravel() >= 0.35)
        outs.append(
            pd.DataFrame(
                {
                    "a_id": aa[keep],
                    "b_id": bb[keep],
                    "cosine": cos.ravel()[keep],
                }
            )
        )
    return pd.concat(outs, ignore_index=True)


def embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-duplicate candidate pairs over the WHOLE corpus
    (not just the query vectors), verified with the exact quantized cosine
    (>= 0.35, dedup_embedding_cosine's threshold).

    The 100 TB semantic-dedup pair generator: vectors land in one bucket
    per hash table; candidates then verify WITHIN each (table, bucket)
    group, so cost follows bucket occupancy instead of |corpus|².
    Emitted pairs are a SUBSET of dedup_embedding_cosine's (same exact
    verify) — pinned in tests.

    r13: the verify no longer materializes candidate pairs through a
    bucket self-join + two quantized-corpus joins + an interpreted
    per-pair `aggregate()` dot (815 k pairs × 64 interpreted lambda
    steps at sf0.1 ≈ 6 s). The quantized vector RIDES the bucket row,
    and each (table, bucket) group rescores itself with one chunked
    int64 numpy matmul (`_block_cosine` — the identical IEEE op
    sequence, so cosines stay bit-identical to the Catalyst expression
    and the oracle); only ≥-threshold pairs leave the kernel, and the
    final dropDuplicates collapses pairs shared by several tables. The
    shuffle carries |corpus|·tables bucket rows (vector payload ~0.5 KB
    each), versus the former candidate join's pair-occurrence volume.
    """
    import numpy as np

    planes = np.array(_sign_planes(), dtype="int64")
    emb = rebalanced(load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QUANT).alias("v")
    ))
    buckets = emb.mapInPandas(
        partial(_sign_bucket_kernel, planes=planes),
        "vec_id long, tbl long, bucket long, v array<bigint>",
    )
    return (
        buckets.groupBy("tbl", "bucket")
        .applyInPandas(_bucket_verify_kernel, "a_id long, b_id long, cosine double")
        .dropDuplicates(["a_id", "b_id"])
    )



# recall-first defaults, set by measurement against the exact baseline
# (BENCH ann_recall): 16 tables recalled 0.625@sf0.1, 32 recall 0.90 for
# ~+0.25 s — banding theory says more tables only ADD candidate pairs,
# so recall is monotone in tables and the price is 2x signature rows
# (still |corpus|*tables tiny rows, shuffled on the band key)
_LSH_TABLES = 32
_LSH_BITS = 6

# DuckDB replay of the sign-plane bucketing (round 13): ±1 plane entries
# regenerated in SQL from the same splitmix64 construction, projections
# as exact integer sums over the quantized vectors, then the standard
# candidate → exact-cosine-verify → recursive-CTE connected components.
from redisgears_spark.functions.hashing import splitmix64_sql as _sm64_sql

_GOLDEN64 = 0x9E3779B97F4A7C15
_PLANE_IDX_SQL = (
    f"CAST((CAST(((pt.t * {_LSH_BITS} + pt.b) * 64 + pt.d) AS UHUGEINT)"
    f" * {_GOLDEN64}) % {1 << 64} AS UBIGINT)"
)

_EMB_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_ORACLE_QUANT_CTE},
    pl AS (
      SELECT pt.t, pt.b, pt.d,
             CASE WHEN {_sm64_sql(_PLANE_IDX_SQL)} & 1 = 1
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT t, b, d
            FROM (SELECT unnest(generate_series(0, {_LSH_TABLES - 1})) AS t),
                 (SELECT unnest(generate_series(0, {_LSH_BITS - 1})) AS b),
                 (SELECT unnest(generate_series(1, 64)) AS d)) pt
    ),
    qd AS (
      SELECT vec_id, gs.d, v[gs.d] AS qv
      FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) gs
    ),
    proj AS (
      SELECT qd.vec_id, pl.t, pl.b, SUM(qd.qv * pl.s) AS p
      FROM qd JOIN pl ON qd.d = pl.d
      GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT vec_id, t,
             CAST(SUM(CASE WHEN p > 0 THEN CAST(1 AS BIGINT) << b
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM buckets a JOIN buckets b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    verif AS (
      SELECT c.a_id, c.b_id
      FROM cand c
      JOIN n na ON na.vec_id = c.a_id
      JOIN n nb ON nb.vec_id = c.b_id
      WHERE CAST(list_sum([na.v[i] * nb.v[i]
                 for i in generate_series(1, len(na.v))]) AS DOUBLE)
            / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
            >= 0.35
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM verif
      UNION ALL
      SELECT b_id, a_id FROM verif
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT node AS vec_id, MIN(r) AS cluster_id,
           (MIN(r) = node) AS is_survivor
    FROM reach GROUP BY node
"""


@query("dedup_embedding_clusters", oracle=_EMB_CLUSTERS_ORACLE)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-to-end at the 100 TB shape: LSH-bucketed
    candidate pairs → exact-cosine verify → connected components →
    survivor pick. The embedding twin of dedup_clusters_lsh: every stage
    is linear-ish in the corpus (bucket equi-join, candidate-only
    verification, then the same single-task union-find),
    and because the verifier is exact, clusters here refine the exhaustive
    dedup_embedding_cosine clustering — containment pinned in tests.

    Hash-exact oracle since round 13: the sign-plane family
    (_sign_planes) makes every bucket bit an integer comparison the
    DuckDB oracle regenerates from the same splitmix64 construction —
    candidate generation, verify, and the recursive-CTE components are
    all replayed, so the "probabilistic" stage is driver-checked
    bit-for-bit.
    """
    from redisgears_spark.operators.dedup import connected_components

    pairs = embedding_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    labels = connected_components(pairs)
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id"),
        "is_survivor",
    )


_IVF_CELLS = 16
# 10/16 cells probed: recall 0.7 → 0.875 at sf0.1 for no measurable time
# (the probe count scales the candidate equi-join, not the Lloyd passes).
# At a real corpus cells grows ~sqrt(n) and nprobe/cells shrinks; the
# fixture keeps cells small so the recall floor stays testable
_IVF_NPROBE = 10


def _ivf_stats_kernel(batches, C):
    """Assign cells AND accumulate the Lloyd sums in one pass,
    executor-side: each partition emits |cells|*dim partial rows
    (int64 sums + counts) instead of shuffling |corpus|*dim exploded
    values through a join. Order-independent integer sums keep the
    refinement bit-stable under any partitioning."""
    import numpy as np
    import pandas as pd

    sums = None  # (cells, dim) int64
    counts = np.zeros(_IVF_CELLS, dtype="int64")
    for pdf in batches:
        V = np.vstack(pdf["v"].to_numpy()).astype("float64")
        Q = np.vstack(pdf["q"].to_numpy()).astype("int64")
        if sums is None:
            sums = np.zeros((_IVF_CELLS, Q.shape[1]), dtype="int64")
        cell = (V @ C.T).argmax(axis=1)  # ties → lowest cell index
        for c in np.unique(cell):
            sums[c] += Q[cell == c].sum(axis=0)
        counts += np.bincount(cell, minlength=_IVF_CELLS)
    if sums is None:
        return
    cells, dim = sums.shape
    yield pd.DataFrame(
        {
            "cell": np.repeat(np.arange(cells, dtype="int64"), dim),
            "pos": np.tile(np.arange(dim, dtype="int64"), cells),
            "s": sums.reshape(-1),
            "n": np.repeat(counts, dim),
        }
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str, seeds_pdf=None):
    """Deterministic IVF coarse quantizer: fixed seed vectors (vec_id
    100..115) + ONE distributed Lloyd refinement, retrained per
    invocation (every call computes from the parquet inputs).

    The refinement accumulates in the exact integer domain (quantized
    micro-units summed as int64 — order-independent across partitions),
    then divides once, so the trained centroids are bit-stable no matter
    how the corpus is partitioned. Returns L2-normalized (cells, dim).

    `seeds_pdf` lets a caller that already gathered the seed rows (via
    _driver_vecs, as part of a combined fetch) skip this function's own
    gather — the rows are the same either way.

    Deliberately NOT cached across the three Arrow passes (training,
    corpus assign, query assign): measured at sf0.1, a .cache() of the
    quantized projection is a net LOSS (3.8→5.0 s cold, 3.0→3.2 s warm —
    the materialization barrier costs more than the narrow parquet
    re-scans it saves), and at 100 TB pinning a corpus-wide projection in
    executor memory is a spill liability. Re-scanning a columnar source
    is the cheap, pipelined option.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    if seeds_pdf is None:
        seeds_pdf = _driver_vecs(
            spark,
            sf_dir,
            F.col("vec_id").between(100, 100 + _IVF_CELLS - 1),
        )
    C = np.vstack(seeds_pdf["v"].to_numpy()).astype("float64")
    C = C / np.linalg.norm(C, axis=1, keepdims=True)

    vecs = rebalanced(emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        F.expr(_QUANT).alias("q"),
    ))
    # Lloyd step: per-(cell, dim) exact-integer mean over quantized values —
    # map-side partials, one tiny final agg, zero corpus-width shuffles
    stats = (
        vecs.mapInPandas(
            partial(_ivf_stats_kernel, C=C), "cell long, pos long, s long, n long"
        )
        .groupBy("cell", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
        .collect()
    )
    refined = np.array(C)
    for r in stats:
        refined[r["cell"], r["pos"]] = (r["s"] / r["n"]) / 1e6
    return refined / np.linalg.norm(refined, axis=1, keepdims=True)


def _ivf_assign_kernel(batches, C):
    """One pass emits the inverted list AND the quantized vector +
    norm — the candidate rescore joins against this output instead of
    re-scanning the embeddings table (scan count matters at 100 TB)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        V = np.vstack(pdf["v"].to_numpy()).astype("float64")
        Q = np.vstack(pdf["q"].to_numpy()).astype("int64")
        cell = (V @ C.T).argmax(axis=1)
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                "cell": cell.astype("int64"),
                "n_q": list(Q),
                "n_nq": np.einsum("ij,ij->i", Q, Q),
            }
        )


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF probe machinery shared by sim_ann_ivf (nprobe=_IVF_NPROBE,
    approximate) and sim_ann_ivf_exactprobe (nprobe=_IVF_CELLS: every
    inverted list is probed, so the candidate set is the full corpus and
    the result is EXACT — identical to sim_topk_bruteforce, which is why
    the exactprobe registration carries the brute-force oracle)."""
    import numpy as np

    # ONE driver gather for seeds + query vectors (they were two separate
    # toPandas jobs — r13: each is a full scheduler round trip), then the
    # probe table is computed driver-side from the trained centroids: the
    # same `V @ C.T` argsort the executor kernel ran, on the same float64
    # rows, so the (q_id, cell) set is bit-identical — and the final plan
    # drops a whole corpus-scan + Python-eval subtree.
    fetched = _driver_vecs(
        spark,
        sf_dir,
        (F.col("vec_id") < _N_QUERIES)
        | F.col("vec_id").between(100, 100 + _IVF_CELLS - 1),
    )
    C = _ivf_centroids(
        spark, sf_dir, seeds_pdf=_vec_slice(fetched, 100, 100 + _IVF_CELLS - 1)
    )

    q_pdf = _vec_slice(fetched, 0, _N_QUERIES - 1)
    QV = np.vstack(q_pdf["v"].to_numpy()).astype("float64")
    q_ids = q_pdf["vec_id"].to_numpy(dtype="int64")
    order = np.argsort(-(QV @ C.T), axis=1, kind="stable")[:, :nprobe]
    probes = spark.createDataFrame(
        [
            (int(q_ids[qi]), int(c))
            for qi in range(len(q_ids))
            for c in order[qi]
        ],
        "q_id long, cell long",
    )

    vecs = rebalanced(load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        F.expr(_QUANT).alias("q"),
    ))
    lists = vecs.mapInPandas(
        partial(_ivf_assign_kernel, C=C),
        "vec_id long, cell long, n_q array<bigint>, n_nq long",
    )
    cand = (
        lists.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("n_id"), "n_q", "n_nq")
        .dropDuplicates(["q_id", "n_id"])
    )
    qv = quantized(spark, sf_dir, "q").filter(F.col("q_id") < _N_QUERIES)
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .select(
            "q_id", "n_id", _cosine(_dot("q_q", "n_q"), "q_nq", "n_nq").alias("cosine")
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


@query("sim_ann_ivf")  # approximate — rows-only check; recall tested in tests/
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization — the
    cluster-then-probe alternative to sim_ann_lsh.

    Scale path: corpus vectors partition into |cells| inverted lists (one
    narrow assignment pass); each query probes its nprobe nearest cells, so
    the candidate join is an equi-join on `cell` touching ~nprobe/cells of
    the corpus. Candidates are rescored with the exact quantized cosine and
    top-k'd. Training cost is one seeded Lloyd iteration, fully
    distributed, exact-integer (deterministic under any partitioning).
    """
    return _ivf_topk(spark, sf_dir, _IVF_NPROBE)


@query("sim_ann_ivf_exactprobe", oracle=_TOPK_EXACT_ORACLE)
def sim_ann_ivf_exactprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with an EXHAUSTIVE probe (nprobe = |cells|): every
    inverted list is a candidate list, so the union of probed cells is
    the whole corpus and the rescore's exact quantized cosine makes the
    result identical to sim_topk_bruteforce — which is the oracle this
    registration carries. This is the driver-checkable proof that the
    IVF machinery (train → assign → probe → rescore → top-k) loses
    nothing except through the probe budget: the approximate
    registrations (sim_ann_ivf, nprobe=10/16) differ from exact ONLY by
    which cells they skip, a property the recall floors in BENCH bound.

    Scale note: exhaustive probing costs the brute-force candidate set
    (|queries| x |corpus|) and exists for verification; production reads
    use the bounded-nprobe twin. The per-batch candidate join stays the
    same equi-join on `cell` — no new shuffle shape.
    """
    return _ivf_topk(spark, sf_dir, _IVF_CELLS)




def _hyperplanes(dim: int = 64):
    """Deterministic random hyperplanes (seeded), as python lists — the
    gaussian family behind sim_ann_lsh (recall 0.90 at sf0.1; the
    Rademacher family below measured 0.80 there, so the top-k path keeps
    gaussians and pays the rows-only check)."""
    import numpy as np

    rng = np.random.default_rng(7)
    return rng.standard_normal((_LSH_TABLES, _LSH_BITS, dim)).tolist()


def _sign_planes(dim: int = 64):
    """Rademacher ±1 hyperplanes derived from splitmix64 over the
    (table, bit, dim) linear index — the sign-random-projection family
    used by embedding_lsh_pairs/dedup_embedding_clusters, where a ±1
    plane makes the bucket bit an EXACT integer sign over quantized
    vectors: no float dot product, no IEEE summation-order fragility,
    and the whole bucketize stage replays bit-for-bit in the DuckDB
    oracle (the round-13 exactness migration). The top-k ANN path
    (sim_ann_lsh) keeps the gaussian family above — its graded recall
    is 0.10 higher at sf0.1 and its candidates are rescored exactly, so
    it never needed SQL-replayable buckets."""
    from redisgears_spark.functions.hashing import splitmix64_py

    U64 = (1 << 64) - 1
    out = []
    for t in range(_LSH_TABLES):
        tbl = []
        for b in range(_LSH_BITS):
            k0 = (t * _LSH_BITS + b) * dim
            tbl.append(
                [
                    1
                    if splitmix64_py(((k0 + d + 1) * 0x9E3779B97F4A7C15) & U64)
                    & 1
                    else -1
                    for d in range(dim)
                ]
            )
        out.append(tbl)
    return out


def _lsh_bucket_kernel(batches, planes):
    import numpy as np
    import pandas as pd

    # sign-bit bucketing as one (batch × dim) @ (dim × tables*bits)
    # matmul per Arrow batch — vectorized, deterministic
    P = planes.reshape(-1, planes.shape[-1]).T  # (dim, tables*bits)
    weights = (1 << np.arange(_LSH_BITS, dtype="int64"))
    for pdf in batches:
        V = np.vstack(pdf["v"].to_numpy()).astype("float64")
        bits = (V @ P) > 0  # (batch, tables*bits)
        bits = bits.reshape(len(V), _LSH_TABLES, _LSH_BITS)
        bucket = (bits * weights[None, None, :]).sum(axis=2)  # (batch, tables)
        vec_ids = pdf["vec_id"].to_numpy(dtype="int64")
        yield pd.DataFrame(
            {
                "vec_id": np.repeat(vec_ids, _LSH_TABLES),
                "tbl": np.tile(np.arange(_LSH_TABLES, dtype="int64"), len(V)),
                "bucket": bucket.reshape(-1),
            }
        )


@query("sim_ann_lsh")  # approximate — rows-only check; recall tested in tests/
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Scale path for similarity search: each vector maps to one bucket per
    table (sign bits of hyperplane dots — computed JVM-side from a literal
    hyperplane array); the join is an equi-join on (table, bucket) instead of
    a cross join, so cost scales with bucket occupancy, not |corpus|².
    Candidates are re-scored with the exact quantized cosine and top-k'd.
    """
    import numpy as np

    planes = np.array(_hyperplanes())  # (tables, bits, dim)
    emb = rebalanced(load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    ))
    buckets = emb.mapInPandas(
        partial(_lsh_bucket_kernel, planes=planes), "vec_id long, tbl long, bucket long"
    )

    queries = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "tbl", "bucket"
    )
    cand = (
        buckets.join(F.broadcast(queries), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("n_id"))
        .distinct()
    )
    # broadcast ONLY the query vectors (the corpus-side payload arrives by
    # joining the candidate ids against one quantized scan — broadcasting
    # the full corpus would ship |corpus|×dim to every executor)
    qv = quantized(spark, sf_dir, "q").filter(F.col("q_id") < _N_QUERIES)
    nv = quantized(spark, sf_dir, "n")
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(nv, "n_id")
        .select(
            "q_id", "n_id", _cosine(_dot("q_q", "n_q"), "q_nq", "n_nq").alias("cosine")
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


# Product quantization: 64 dims → 8 subspaces × 8 dims, 16 centroids each
# (4-bit codes; a vector compresses to ONE 32-bit word packed in a long)
_PQ_M = 8
_PQ_K = 16
# ADC candidates per query before the exact re-rank: 64 recalled
# 0.625@sf0.1, 256 recalls 0.85 — re-rank cost is per-query-linear in
# the shortlist (256 exact dots/query), independent of corpus size
_PQ_SHORTLIST = 256


def _nearest_subcentroid(X, C):
    """Index of each row of X's nearest row of C by L2: argmin of
    ||x||^2 - 2 x.c + ||c||^2, ties → lowest index. The PQ and IVF-PQ
    trainers and encoders all assign codes with this one expression."""
    import numpy as np

    d2 = (
        np.einsum("ij,ij->i", X, X)[:, None]
        - 2.0 * (X @ C.T)
        + np.einsum("ij,ij->i", C, C)[None, :]
    )
    return d2.argmin(axis=1)


def _pq_stats_kernel(batches, C):
    import numpy as np
    import pandas as pd

    dsub = C.shape[2]
    sums = np.zeros((_PQ_M, _PQ_K, dsub), dtype="int64")
    counts = np.zeros((_PQ_M, _PQ_K), dtype="int64")
    seen = False
    for pdf in batches:
        V = np.vstack(pdf["v"].to_numpy()).astype("float64")
        Q = np.vstack(pdf["q"].to_numpy()).astype("int64")
        seen = True
        for m in range(_PQ_M):
            Vm = V[:, m * dsub : (m + 1) * dsub]
            Qm = Q[:, m * dsub : (m + 1) * dsub]
            code = _nearest_subcentroid(Vm, C[m])
            for k in np.unique(code):
                sums[m, k] += Qm[code == k].sum(axis=0)
            counts[m] += np.bincount(code, minlength=_PQ_K)
    if not seen:
        return
    m_idx = np.repeat(np.arange(_PQ_M, dtype="int64"), _PQ_K * dsub)
    k_idx = np.tile(np.repeat(np.arange(_PQ_K, dtype="int64"), dsub), _PQ_M)
    p_idx = np.tile(np.arange(dsub, dtype="int64"), _PQ_M * _PQ_K)
    yield pd.DataFrame(
        {
            "m": m_idx,
            "k": k_idx,
            "pos": p_idx,
            "s": sums.reshape(-1),
            "n": counts.repeat(dsub).reshape(-1),
        }
    )


def _pq_codebooks(spark: SparkSession, sf_dir: str, seeds_pdf=None):
    """Deterministic PQ codebooks: seed centroids from fixed corpus rows
    (vec_id 200..215, one sub-vector per subspace each) + ONE distributed
    Lloyd refinement per subspace, retrained per invocation (every
    call computes from the parquet inputs). `seeds_pdf`: optional
    pre-gathered seed rows (combined _driver_vecs fetch — same rows).

    Same exact-integer discipline as _ivf_centroids: assignments and sums
    accumulate in quantized int64 micro-units (order-independent across
    partitions), one division at the end — the trained codebooks are
    bit-stable under any partitioning. Driver gather is
    M*K*dsub = {m}*{k}*8 = 1024 rows, same size as the IVF stats gather.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    if seeds_pdf is None:
        seeds_pdf = _driver_vecs(
            spark, sf_dir, F.col("vec_id").between(200, 200 + _PQ_K - 1)
        )
    S = np.vstack(seeds_pdf["v"].to_numpy()).astype("float64")  # (K, dim)
    dim = S.shape[1]
    dsub = dim // _PQ_M
    # C[m, k] = k-th seed vector's m-th sub-vector
    C = np.stack([S[:, m * dsub : (m + 1) * dsub] for m in range(_PQ_M)])
    vecs = rebalanced(
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
            F.expr(_QUANT).alias("q"),
        )
    )
    stats = (
        vecs.mapInPandas(
            partial(_pq_stats_kernel, C=C), "m long, k long, pos long, s long, n long"
        )
        .groupBy("m", "k", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
        .collect()
    )
    refined = np.array(C)
    for r in stats:
        refined[r["m"], r["k"], r["pos"]] = (r["s"] / r["n"]) / 1e6
    return refined


def _pq_encode_kernel(batches, C):
    import numpy as np
    import pandas as pd

    dsub = C.shape[2]
    for pdf in batches:
        V = np.vstack(pdf["v"].to_numpy()).astype("float64")
        packed = np.zeros(len(V), dtype="int64")
        for m in range(_PQ_M):
            Vm = V[:, m * dsub : (m + 1) * dsub]
            packed |= _nearest_subcentroid(Vm, C[m]).astype("int64") << (4 * m)
        yield pd.DataFrame(
            {"vec_id": pdf["vec_id"].to_numpy(dtype="int64"), "code": packed}
        )


def _pq_adc_kernel(batches, q_ids, lut):
    import numpy as np
    import pandas as pd

    for pdf in batches:
        packed = pdf["code"].to_numpy(dtype="int64")
        vec_ids = pdf["vec_id"].to_numpy(dtype="int64")
        # unpack to (n, M) code matrix
        codes_m = np.stack(
            [(packed >> (4 * m)) & 0xF for m in range(_PQ_M)], axis=1
        )
        # scores[q, n] = sum_m lut[q, m, codes_m[n, m]]
        scores = lut[:, np.arange(_PQ_M)[None, :], codes_m].sum(axis=2)
        top = min(_PQ_SHORTLIST, scores.shape[1])
        idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
        yield pd.DataFrame(
            {
                "q_id": np.repeat(q_ids, top),
                "n_id": vec_ids[idx].reshape(-1),
                "adc": np.take_along_axis(scores, idx, axis=1).reshape(-1),
            }
        )


@query("sim_ann_pq")  # approximate — rows-only check; recall tested in tests/
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via product quantization with ADC (asymmetric
    distance computation) and exact re-ranking.

    The third ANN family beside hashing (sim_ann_lsh) and coarse
    clustering (sim_ann_ivf): every corpus vector compresses to _PQ_M
    4-bit codes — ONE packed 32-bit word — so the scan side of the search
    touches |corpus| ints instead of |corpus|×dim floats (a 64x payload
    compression at dim=64/float32). Queries never quantize: each builds an
    (_PQ_M x _PQ_K) dot-product lookup table against the codebooks, the
    ADC score is M table lookups per corpus code, and per-partition top-S
    shortlists flow to a global shortlist that is re-ranked with the exact
    quantized cosine — so returned scores are bit-identical to the
    brute-force path (pinned in tests), only the candidate set is
    approximate.

    Scale: codebook training is one seeded Lloyd pass (map-side integer
    partials, 1024-row driver gather); encoding is one narrow Arrow pass
    emitting (vec_id, 1 long); the ADC scan carries 8 tiny LUTs bound to
    its kernel and shuffles only the per-partition shortlists
    (queries x S rows per partition).
    """
    import numpy as np

    # one combined driver gather: PQ seed rows + the 8 query vectors
    # (was two separate toPandas jobs — r13)
    fetched = _driver_vecs(
        spark,
        sf_dir,
        (F.col("vec_id") < _N_QUERIES)
        | F.col("vec_id").between(200, 200 + _PQ_K - 1),
    )
    C = _pq_codebooks(
        spark, sf_dir, seeds_pdf=_vec_slice(fetched, 200, 200 + _PQ_K - 1)
    )  # (M, K, dsub)
    dsub = C.shape[2]
    emb = rebalanced(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    )
    codes = emb.mapInPandas(partial(_pq_encode_kernel, C=C), "vec_id long, code long")

    # query LUTs: tiny (8 queries × M × K doubles), bound to the ADC kernel
    q_pdf = _vec_slice(fetched, 0, _N_QUERIES - 1)
    QV = np.vstack(q_pdf["v"].to_numpy()).astype("float64")
    q_ids = q_pdf["vec_id"].to_numpy(dtype="int64")
    # lut[q, m, k] = dot(q_m, C[m, k])
    lut = np.einsum("qmd,mkd->qmk", QV.reshape(len(QV), _PQ_M, dsub), C)
    shortlist = codes.mapInPandas(
        partial(_pq_adc_kernel, q_ids=q_ids, lut=lut), "q_id long, n_id long, adc double"
    )
    w_adc = W.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("n_id"))
    cand = (
        shortlist.filter(F.col("n_id") != F.col("q_id"))
        .withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= _PQ_SHORTLIST)
        .select("q_id", "n_id")
    )
    # exact re-rank: scores must be bit-identical to the brute-force path
    qv = quantized(spark, sf_dir, "q").filter(F.col("q_id") < _N_QUERIES)
    nv = quantized(spark, sf_dir, "n")
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(nv, "n_id")
        .select(
            "q_id",
            "n_id",
            _cosine(_dot("q_q", "n_q"), "q_nq", "n_nq").alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


@query(
    "sim_knn_classify",
    oracle=f"""
    WITH {{QUANT}},
    pairs AS (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             CAST(a.nq AS BIGINT) AS q_nq, CAST(b.nq AS BIGINT) AS n_nq,
             CAST(list_sum([a.v[i] * b.v[i]
                  for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot
      FROM n a JOIN n b ON a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT q_id, n_id,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(q_nq AS DOUBLE)) * sqrt(CAST(n_nq AS DOUBLE)))
               AS cosine
      FROM pairs
    ),
    topk AS (
      SELECT q_id, n_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
        FROM scored
      ) WHERE rank <= {_TOP_K}
    ),
    votes AS (
      SELECT t.q_id, e.label, COUNT(*) AS votes
      FROM topk t JOIN embeddings e ON t.n_id = e.vec_id
      GROUP BY 1, 2
    )
    SELECT q_id, label AS knn_label, votes FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY votes DESC, label) AS r
      FROM votes
    ) WHERE r = 1
    """.replace("{QUANT}", _ORACLE_QUANT_CTE),
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification: each query vector (vec_id < 8) takes the
    majority label of its 5 exact-cosine nearest neighbors (ties broken
    toward the smaller label) — the labeling/routing primitive a training
    pipeline runs on top of similarity search (e.g. quality-tier or domain
    assignment by nearest labeled exemplars).

    Scale: reuses sim_topk_bruteforce's one-pass broadcast-queries kernel
    (corpus never shuffles, executor-side per-batch top-k pre-reduction);
    the vote is a |queries|×k → |queries|×|labels| aggregate — trivially
    small. Swap the candidate stage for sim_ann_lsh at larger query sets.
    """
    topk = sim_topk_bruteforce(spark, sf_dir).select("q_id", "n_id")
    labels = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("n_id"), "label"
    )
    votes = (
        topk.join(F.broadcast(labels), "n_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("q_id", F.col("label").alias("knn_label"), "votes")
    )


@query(
    "hybrid_search_quality_topk",
    oracle=f"""
    WITH {{QUANT}},
    gt AS (
      SELECT doc_id,
             {{TOKENS}} AS w,
             len(text) AS nc,
             len(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS sym
      FROM documents
    ),
    gs AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CASE WHEN len(w) > 0
                  THEN CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0)
                            AS DOUBLE) / len(w)
             END AS mean_word_len,
             CASE WHEN nc > 0 THEN CAST(sym AS DOUBLE) / nc END AS symbol_ratio,
             len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'in')))
               > 0 AS has_stopword
      FROM gt
    ),
    keep AS (
      SELECT doc_id FROM gs
      WHERE COALESCE(n_words >= 30 AND n_words <= 90
        AND mean_word_len >= 4.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1 AND has_stopword, FALSE)
    ),
    scored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS doc_id,
             CAST(CAST(list_sum([a.v[i] * b.v[i]
                    for i in generate_series(1, len(a.v))]) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
               AS cosine
      FROM n a
      JOIN n b ON a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
      JOIN keep k ON b.vec_id = k.doc_id
    )
    SELECT q_id, doc_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOP_K}
    """.replace("{QUANT}", _ORACLE_QUANT_CTE).replace("{TOKENS}", _TOKENS_SQL),
)
def hybrid_search_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: exact cosine top-k per query vector, restricted to
    documents that pass the Gopher quality gate — the filtered vector
    search a RAG/training pipeline actually runs (never raw nearest
    neighbors; always nearest GOOD neighbors). Ties the text-quality and
    vector stacks together through the doc_id = vec_id alignment of the
    fixtures.

    Unlike sim_topk_bruteforce's numpy kernel, the scoring here is pure
    Catalyst (zip_with/aggregate over the broadcast 8-query side) —
    demonstrating the JVM-native vector-math path; the quality predicate
    prunes the corpus BEFORE any scoring work, which at 100 TB is the
    difference between scoring everything and scoring the kept fraction.
    """
    from redisgears_spark.operators.pipeline import pipeline_gopher_filters

    keep = (
        pipeline_gopher_filters(spark, sf_dir)
        .filter(F.col("keep"))
        .select(F.col("doc_id").alias("c_id"))
    )
    corpus = quantized(spark, sf_dir, "c").join(keep, "c_id")
    queries_df = quantized(spark, sf_dir, "q").filter(
        F.col("q_id") < _N_QUERIES
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries_df))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            F.col("c_id").alias("doc_id"),
            _cosine(_dot("q_q", "c_q"), "q_nq", "c_nq").alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "doc_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# per-label centroids (quantized-exact)
# ---------------------------------------------------------------------------


@query(
    "embeddings_label_centroids",
    oracle="""
    SELECT e.label, s.i AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE)
                               * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_q6,
           CAST(SUM(CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE)
                               * 1000000) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) * 1000000 AS DOUBLE) AS centroid
    FROM embeddings e, (SELECT unnest(range(0, 64)) AS i) s
    GROUP BY e.label, s.i
    """,
)
def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid of the embedding space, one row per
    (label, dimension) — the class-prototype computation behind
    nearest-centroid classification, cluster drift monitoring, and the
    IVF coarse quantizer's supervised cousin.

    Exactness: float summation is order-dependent, so components are
    quantized to exact integer micro-units first (the same
    quantized-cosine discipline as the ANN stack) — integer sums are
    associative, the centroid is one IEEE division of exact integers,
    bit-identical across engines and partitionings. Output is scalar
    rows (label, dim), not array columns — driver-canonicalizable.

    Scale: posexplode emits fixed-width (label, dim, q6) rows; the
    group-by is map-side partial (|labels|·|dims| cells); no vector
    ever reaches the driver.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        # cast float32 → double BEFORE the multiply: float*int stays
        # single-precision in Spark (silent digit loss vs the oracle)
        F.round(F.col("x").cast("double") * 1_000_000)
        .cast("long")
        .alias("q6"),
    )
    return comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("q6").alias("sum_q6"),
        (
            F.sum("q6").cast("double")
            / (F.count(F.lit(1)) * 1_000_000).cast("double")
        ).alias("centroid"),
    )


@query(
    "sim_nearest_centroid_classify",
    oracle="""
    WITH comp AS (
      SELECT e.vec_id, e.label, s.i AS dim,
             CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q6
      FROM embeddings e, (SELECT unnest(range(0, 64)) AS i) s
    ),
    cent AS (
      SELECT label, dim,
             CAST(round(CAST(SUM(q6) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS c_q6
      FROM comp GROUP BY label, dim
    ),
    dists AS (
      SELECT v.vec_id, v.label AS true_label, c.label AS cand_label,
             CAST(SUM((v.q6 - c.c_q6) * (v.q6 - c.c_q6)) AS BIGINT) AS d2
      FROM comp v JOIN cent c ON c.dim = v.dim
      GROUP BY 1, 2, 3
    )
    SELECT vec_id, true_label,
           arg_min(cand_label, d2 * 16 + cand_label) AS pred_label,
           CAST(min(d2) AS BIGINT) AS best_d2_q12
    FROM dists
    GROUP BY vec_id, true_label
    """,
)
def sim_nearest_centroid_classify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification — the model-based twin
    of `sim_knn_classify`: assign each vector to the class whose
    centroid is closest in squared L2. Classifier training = one
    aggregate; inference = |labels| distance evaluations per vector
    (vs kNN's |corpus|).

    Exactness: components AND centroids live in integer micro-units
    (the centroid is round(sum/n) — one correctly-rounded IEEE division
    of exact integers, then round: identical in both engines), so the
    squared distance is an exact integer (unit-norm vectors: |q6| ≤ 1e6
    → d2 ≤ 64·4e12, well inside int64) and argmin with a label
    tie-break is engine-exact (DuckDB: arg_min over the composite
    d2·16+label, identical order for labels in [0,16)).

    Scale: centroids are a |labels|·|dims| aggregate (map-side partial).
    This formulation joins exploded components against the centroid
    table on dim (shuffle carries (vec, dim, q6) fixed-width rows); at
    100 TB broadcast the |labels|·|dims| centroid table instead and
    fold the distance per row with zip_with/aggregate — no explode, no
    shuffle (the IVF assign step in this module is exactly that shape).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000)
        .cast("long")
        .alias("q6"),
    )
    cent = comp.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.round(
            F.sum("q6").cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("c_q6")
    )
    diff = F.col("q6") - F.col("c_q6")
    dists = (
        comp.join(F.broadcast(cent), "dim")
        .groupBy(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("c_label").alias("cand_label"),
        )
        .agg(F.sum(diff * diff).alias("d2"))
    )
    order = F.struct(F.col("d2").alias("d"), F.col("cand_label").alias("l"))
    return dists.groupBy("vec_id", "true_label").agg(
        F.min_by("cand_label", order).alias("pred_label"),
        F.min("d2").cast("long").alias("best_d2_q12"),
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (embedding compression)
# ---------------------------------------------------------------------------

_SQ_FORMULA_OK = (
    "LEAST(254, CAST(FLOOR((x - lo) * 254.0 / (hi - lo)) AS BIGINT))"
)
_SQ_RECON = "lo + (CAST(code AS DOUBLE) * (hi - lo)) / 254.0"


@query(
    "embeddings_int8_quantize",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    stats AS (
      SELECT dim, min(x) AS lo, max(x) AS hi FROM flat GROUP BY dim
    ),
    coded AS (
      SELECT vec_id, dim, x, lo, hi,
             CASE WHEN hi > lo THEN {_SQ_FORMULA_OK}
                  ELSE CAST(0 AS BIGINT) END AS code
      FROM flat JOIN stats USING (dim)
    )
    SELECT vec_id, dim, x, code,
           abs(x - ({_SQ_RECON})) AS abs_err
    FROM coded
    """,
)
def embeddings_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — THE practical
    embedding compression (4x over float32) that vector stores apply
    before ANN: per-dimension [min, max] range, 255 levels, code =
    floor((x - lo) * 254 / (hi - lo)), plus the per-value reconstruction
    error so the quality cost is part of the result. Registered in LONG
    form (vec_id, dim, ...) so every code and error is value-checked
    against the oracle; the production shape re-assembles the codes into
    an array<tinyint> executor-side (broadcast the 64 lo/hi pairs into a
    `transform(embedding, ...)` — no explode, no shuffle).

    Engine-exact floats: float32 → double casts are exact; min/max are
    order-independent; both engines evaluate the IDENTICAL expression
    text, so every intermediate IEEE op matches bit-for-bit.

    Scale: the explode is x64 rows but feeds a map-side partial agg onto
    |dims| groups; the stats join back is a broadcast of 64 rows. Cited
    shape: sim_ann_pq's codebooks (similarity.py) — same
    dimension-sized-driver-state contract.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "xf")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    stats = flat.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    coded = flat.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        "x",
        "lo",
        "hi",
        F.expr(
            f"CASE WHEN hi > lo THEN {_SQ_FORMULA_OK} "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("code"),
    )
    return coded.select(
        "vec_id",
        "dim",
        "x",
        "code",
        F.expr(f"abs(x - ({_SQ_RECON}))").alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# radius (range) search (round 6)
# ---------------------------------------------------------------------------

_RANGE_THRESHOLD = 0.3


def _range_score_kernel(batches, bc):
    import numpy as np
    import pandas as pd

    q_ids, Q = bc.value
    for pdf in batches:
        n_ids = pdf["vec_id"].to_numpy(dtype="int64")
        B = np.vstack(pdf["v"].to_numpy()).astype("int64")
        cos = _block_cosine(Q, B)
        qq, nn = np.broadcast_arrays(q_ids[:, None], n_ids[None, :])
        keep = (qq != nn) & (cos >= _RANGE_THRESHOLD)
        yield pd.DataFrame(
            {"q_id": qq[keep], "n_id": nn[keep], "cosine": cos[keep]}
        )


@query(
    "sim_range_search",
    oracle=f"""
    WITH {_ORACLE_QUANT_CTE},
    pairs AS (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             CAST(a.nq AS BIGINT) AS q_nq, CAST(b.nq AS BIGINT) AS n_nq,
             CAST(list_sum([a.v[i] * b.v[i]
                  for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot
      FROM n a JOIN n b ON a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
    )
    SELECT q_id, n_id,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(q_nq AS DOUBLE)) * sqrt(CAST(n_nq AS DOUBLE)))
             AS cosine
    FROM pairs
    WHERE CAST(dot AS DOUBLE)
            / (sqrt(CAST(q_nq AS DOUBLE)) * sqrt(CAST(n_nq AS DOUBLE)))
          >= {_RANGE_THRESHOLD}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: ALL corpus vectors within a cosine threshold of
    each query — the vector-store RANGE query (top-k's sibling: "find
    everything this similar", for dedup sweeps and recall-complete
    retrieval where k is unknowable up front).

    Same exact-integer quantized cosine as sim_topk_bruteforce, but the
    threshold replaces the window: matches are filtered INSIDE the Arrow
    batch, so the operator has ZERO shuffles — scan → matmul → filter →
    result (top-k needs its per-query window; range search doesn't).
    Result size is data-dependent by nature; the threshold bounds it.
    """
    bc = spark.sparkContext.broadcast(
        _corpus_numpy(spark, sf_dir, predicate=F.col("vec_id") < _N_QUERIES)
    )
    corpus = rebalanced(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr(_QUANT).alias("v")
        )
    )
    return corpus.mapInPandas(
        partial(_range_score_kernel, bc=bc), "q_id long, n_id long, cosine double"
    )


_MMR_POOL = 20  # relevance pool fed to the re-ranker
_MMR_K = 5  # diverse results kept per query
_MMR_LAMBDA = 0.7  # relevance / diversity trade-off


def _mmr_oracle_sql() -> str:
    """DuckDB replay of the greedy MMR loop (round 13): the k selection
    rounds are UNROLLED — per round, every remaining pool member's score
    lam*rel - (1-lam)*max_sim(selected) is recomputed with the IDENTICAL
    IEEE expression (literals cast to DOUBLE; 1-lam computed, not
    hand-inlined, so the 0.30000000000000004 artifact matches) and the
    per-query argmax breaks ties to the smallest n_id, exactly the
    kernel's strict-> walk in id order."""
    lam = "CAST(0.7 AS DOUBLE)"
    one_m = f"(CAST(1 AS DOUBLE) - {lam})"
    parts = [
        f"""{_ORACLE_QUANT_CTE},
    allp AS MATERIALIZED (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             CAST(list_sum([a.v[i] * b.v[i]
                  for i in generate_series(1, len(a.v))]) AS DOUBLE)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
               AS cosine
      FROM n a JOIN n b ON a.vec_id < {_N_QUERIES} AND a.vec_id <> b.vec_id
    ),
    pool AS MATERIALIZED (
      SELECT q_id, n_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
        FROM allp
      ) WHERE rnk <= {_MMR_POOL}
    ),
    cc AS MATERIALIZED (
      SELECT pa.q_id, pa.n_id AS i_id, pb.n_id AS j_id,
             CAST(list_sum([na.v[i] * nb.v[i]
                  for i in generate_series(1, len(na.v))]) AS DOUBLE)
               / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
               AS s
      FROM pool pa
      JOIN pool pb ON pb.q_id = pa.q_id AND pb.n_id <> pa.n_id
      JOIN n na ON na.vec_id = pa.n_id
      JOIN n nb ON nb.vec_id = pb.n_id
    ),
    sel1 AS MATERIALIZED (
      SELECT q_id, n_id, cosine AS relevance FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY q_id
          ORDER BY ({lam} * cosine - {one_m} * CAST(0 AS DOUBLE)) DESC,
                   n_id) AS rnk
        FROM pool
      ) WHERE rnk = 1
    )"""
    ]
    for r in range(2, _MMR_K + 1):
        sel_union = "\n        UNION ALL\n        ".join(
            f"SELECT q_id, n_id FROM sel{i}" for i in range(1, r)
        )
        parts.append(f"""
    seen{r} AS MATERIALIZED (
        {sel_union}
    ),
    sel{r} AS MATERIALIZED (
      SELECT q_id, n_id, relevance FROM (
        SELECT p.q_id, p.n_id, p.cosine AS relevance,
               ROW_NUMBER() OVER (
                 PARTITION BY p.q_id
                 ORDER BY ({lam} * p.cosine - {one_m} * d.div) DESC,
                          p.n_id) AS rnk
        FROM pool p
        JOIN (SELECT cc.q_id, cc.i_id, MAX(cc.s) AS div
              FROM cc JOIN seen{r} sn
                ON sn.q_id = cc.q_id AND sn.n_id = cc.j_id
              GROUP BY 1, 2) d
          ON d.q_id = p.q_id AND d.i_id = p.n_id
        WHERE NOT EXISTS (SELECT 1 FROM seen{r} x
                          WHERE x.q_id = p.q_id AND x.n_id = p.n_id)
      ) WHERE rnk = 1
    )""")
    tail = "\n    UNION ALL\n    ".join(
        f"SELECT q_id, n_id, CAST({r} AS BIGINT) AS mmr_rank, relevance"
        f" FROM sel{r}"
        for r in range(1, _MMR_K + 1)
    )
    return "WITH " + ",".join(parts) + "\n    " + tail


def _mmr_kernel(key, pdf):
    import numpy as np
    import pandas as pd

    qid = key[0]
    ids = pdf["n_id"].to_numpy(dtype="int64")
    V = np.vstack(pdf["v"].to_numpy()).astype("int64")
    rel = pdf["cosine"].to_numpy()
    order = np.argsort(ids, kind="stable")  # ties → smallest n_id
    ids, V, rel = ids[order], V[order], rel[order]
    S = _block_cosine(V, V)
    selected: list[int] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < _MMR_K:
        best, best_score = None, None
        for i in remaining:
            div = max((S[i][j] for j in selected), default=0.0)
            sc = _MMR_LAMBDA * rel[i] - (1 - _MMR_LAMBDA) * div
            if best_score is None or sc > best_score:
                best, best_score = i, sc
        selected.append(best)
        remaining.remove(best)
    return pd.DataFrame(
        {
            "q_id": np.full(len(selected), qid, dtype="int64"),
            "n_id": ids[selected],
            "mmr_rank": np.arange(1, len(selected) + 1, dtype="int64"),
            "relevance": rel[selected],
        }
    )


@query("sim_mmr_rerank", oracle=_mmr_oracle_sql())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking: from each query's top-20
    relevance pool, greedily pick 5 results balancing relevance against
    redundancy — score(d) = λ·cos(q,d) − (1−λ)·max_{s∈selected}
    cos(d,s), λ=0.7 — the standard diversity pass a RAG retrieval
    stack runs after ANN so the context window isn't five near-copies
    of one document (Carbonell & Goldstein 1998).

    Deterministic: exact-integer dot products, one fixed IEEE
    normalization (same kernel as sim_topk), candidates walked in
    n_id order with strict-> comparison so equal scores break to the
    smallest id. Hash-exact DuckDB oracle since round 13: the greedy
    loop is UNROLLED into k generated selection rounds (_mmr_oracle_sql)
    with bit-identical score expressions, so 'iterative greedy' is
    driver-checked, not just reference-pinned.

    Scale: the pool stage is the brute-force kernel (swap in
    sim_ann_lsh candidates past _BRUTEFORCE_MAX_ROWS); candidate
    vectors re-attach via a BROADCAST of the |queries|·20-row pool
    into the embeddings scan — the corpus is never shuffled; the
    greedy loop runs executor-side per query over ≤20 candidates
    (O(pool²·k) integer ops — trivial).
    """
    bc = spark.sparkContext.broadcast(
        _corpus_numpy(spark, sf_dir, predicate=F.col("vec_id") < _N_QUERIES)
    )
    corpus = rebalanced(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr(_QUANT).alias("v")
        )
    )
    scored = corpus.mapInPandas(
        partial(_query_topk_kernel, bc=bc, k=_MMR_POOL), "q_id long, n_id long, cosine double"
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    pool = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MMR_POOL)
        .select("q_id", "n_id", "cosine")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("n_id"), F.expr(_QUANT).alias("v")
    )
    cand = emb.join(F.broadcast(pool), "n_id")
    return cand.groupBy("q_id").applyInPandas(
        _mmr_kernel, "q_id long, n_id long, mmr_rank long, relevance double"
    )


# ---------------------------------------------------------------------------
# embedding-column hygiene (round 8, second batch)
# ---------------------------------------------------------------------------

# milli-quantized squared-norm: sum over the array of round(x*1000)^2 as
# BIGINT.  Integer addition is associative, and the per-row fold visits the
# array in index order in both engines, so the value is bit-identical across
# partitionings — the float sum-of-squares it screens for is not.
# cast float32 -> double BEFORE the multiply (the similarity-stack rule):
# a single-precision x*1000 is the one arithmetic step whose result can
# differ between engines' promotion rules — at sf0.1 two components sat
# exactly on such a seam and shifted three operators by one milli-unit
_QNORM = (
    "aggregate({col}, 0L, (acc, x) -> acc + "
    "cast(round(cast(x as double) * 1000) as bigint) "
    "* cast(round(cast(x as double) * 1000) as bigint))"
)
_QNORM_SQL = (
    "CAST(list_sum(list_transform({col}, x -> "
    "CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) "
    "* CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) "
    "AS BIGINT)"
)


@query(
    "embeddings_norm_outliers",
    oracle=f"""
    WITH q AS (
      SELECT label, {_QNORM_SQL.format(col="embedding")} AS qn
      FROM embeddings
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_n,
             CAST(SUM(qn) AS BIGINT) AS total_qn
      FROM q
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(qn) AS BIGINT) AS min_qn,
           CAST(MAX(qn) AS BIGINT) AS max_qn,
           CAST(SUM(qn) AS BIGINT) AS sum_qn,
           CAST(SUM(CASE WHEN qn * total_n > 4 * total_qn
                         OR qn * total_n * 4 < total_qn
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM q CROSS JOIN t
    GROUP BY label
    """,
)
def embeddings_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm hygiene screen: per label, the milli-quantized
    squared-L2-norm distribution (min/max/sum) and how many vectors sit
    outside [mean/4, 4*mean] — the degenerate-vector detector run before
    any ANN indexing (zero vectors, exploded norms, and wrong-scale
    batches all surface here).

    Exactness: the per-row norm folds round(x*1000)^2 into a BIGINT in
    array-index order (associative, engine-independent); the outlier
    test is the INTEGER cross-multiplication qn*n <> 4*total, never a
    float mean. One corpus-wide scalar (n, sum) is broadcast back.

    Scale: one scan; the fold runs inside codegen per row (no explode,
    no shuffle of the vector column); the label rollup shuffles only
    (label, qn). The global scalar is a 1-row broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.expr(_QNORM.format(col="embedding")).alias("qn")
    )
    t = q.agg(
        F.count(F.lit(1)).cast("long").alias("total_n"),
        F.sum("qn").cast("long").alias("total_qn"),
    )
    is_out = (
        F.col("qn") * F.col("total_n") > 4 * F.col("total_qn")
    ) | (F.col("qn") * F.col("total_n") * 4 < F.col("total_qn"))
    return (
        q.crossJoin(F.broadcast(t))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("qn").cast("long").alias("min_qn"),
            F.max("qn").cast("long").alias("max_qn"),
            F.sum("qn").cast("long").alias("sum_qn"),
            F.sum(F.when(is_out, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )


@query(
    "embeddings_dim_profile",
    oracle="""
    WITH ex AS (
      SELECT unnest(range(len(embedding))) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
                  AS BIGINT) AS q
      FROM embeddings
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(q) AS BIGINT) AS min_q,
           CAST(MAX(q) AS BIGINT) AS max_q,
           CAST(SUM(q) AS BIGINT) AS sum_q,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean_milli
    FROM ex GROUP BY dim
    """,
)
def embeddings_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: count, min/max/sum of the
    milli-quantized component, and the mean — the dead-dimension and
    scale-drift detector (a dimension whose min=max=0 carries no
    signal; one whose mean drifts across snapshots signals an encoder
    version change). The batch shadow of feature-store monitoring.

    Exactness: components quantize to BIGINT milli-units before any
    aggregate; the mean is ONE IEEE division. DuckDB's zipped unnest
    pairs each component with its 0-based index exactly as posexplode.

    Scale: posexplode multiplies rows by dim (64 here) but carries
    only (dim, q) — 16 bytes — into a map-side partial aggregate that
    collapses to |dims| rows before the single tiny shuffle. The
    vector column itself never shuffles.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("val").cast("double") * 1000).cast("long").alias("q"),
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("q").cast("long").alias("min_q"),
        F.max("q").cast("long").alias("max_q"),
        F.sum("q").cast("long").alias("sum_q"),
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("mean_milli"),
    )


@query(
    "embeddings_norm2_histogram",
    oracle="""
    WITH n2 AS (
      SELECT label,
             list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
               AS norm2
      FROM embeddings
    )
    SELECT CAST(norm2 // 500 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
           CAST(MIN(norm2) AS BIGINT) AS min_norm2,
           CAST(MAX(norm2) AS BIGINT) AS max_norm2
    FROM n2 GROUP BY norm2 // 500
    """,
)
def embeddings_norm2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared-norm histogram of the embedding corpus — the encoder
    sanity gauge (a unit-normalized encoder concentrates at 1.0; a
    second mode means mixed encoder versions; a zero bucket means dead
    vectors that will NaN a cosine). Buckets are 500 milli^2 wide
    around the ~1e6 unit-norm center.

    Exactness: each component quantizes to BIGINT milli-units and the
    squared norm is an integer sum folded IN ARRAY ORDER on both
    engines (Spark `aggregate` and DuckDB `list_sum(list_transform(...))`
    are row-local, so no float reassociation can diverge); the bucket
    is floored integer division.

    Scale: the fold is a zero-shuffle JVM-side projection per row (the
    vector never leaves its partition); the histogram shuffles
    |buckets| partial rows. This is the cheap pre-pass run before any
    ANN build.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.expr(
        "aggregate(transform(embedding, "
        "x -> cast(round(cast(x as double) * 1000) as bigint) "
        "* cast(round(cast(x as double) * 1000) as bigint)), "
        "0L, (a, x) -> a + x)"
    )
    n2 = emb.select("label", norm2.alias("norm2"))
    return (
        n2.groupBy(F.floor(F.col("norm2") / 500).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("label").cast("long").alias("n_labels"),
            F.min("norm2").cast("long").alias("min_norm2"),
            F.max("norm2").cast("long").alias("max_norm2"),
        )
    )


@query(
    "docs_embedding_coverage",
    oracle="""
    WITH n2 AS (
      SELECT vec_id,
             list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
               AS norm2
      FROM embeddings
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_vec,
           CAST(SUM(CASE WHEN n2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS coverage,
           CAST(COALESCE(SUM(n2.norm2), 0) AS BIGINT) AS sum_norm2
    FROM documents d LEFT JOIN n2 ON n2.vec_id = d.doc_id
    GROUP BY d.source
    """,
)
def docs_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-coverage audit per source: which corpus slices have
    vectors (RAG/ANN readiness) and the aggregate squared-norm mass of
    the covered slice — run this BEFORE any similarity pass so a
    source that silently missed the encoding job doesn't read as
    "no near-duplicates". Joins the documents and embeddings tables on
    doc_id = vec_id, the corpus's own linkage.

    Exactness: counts + integer milli^2 norms (row-local array fold,
    both engines in array order); coverage is one division.

    Scale: the norm collapses each vector to 8 bytes BEFORE the join,
    so the equi-join ships (id, norm2) pairs, never the vectors; both
    sides shuffle on doc_id or the embeddings side broadcasts when
    dimension-sized.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    norm2 = F.expr(
        "aggregate(transform(embedding, "
        "x -> cast(round(cast(x as double) * 1000) as bigint) "
        "* cast(round(cast(x as double) * 1000) as bigint)), "
        "0L, (a, x) -> a + x)"
    )
    n2 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", norm2.alias("norm2")
    )
    j = docs.join(n2, docs.doc_id == n2.vec_id, "left")
    covered = F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(covered).cast("long").alias("n_with_vec"),
        (F.sum(covered).cast("double") / F.count(F.lit(1))).alias("coverage"),
        F.coalesce(F.sum("norm2"), F.lit(0)).cast("long").alias("sum_norm2"),
    )


# ---------------------------------------------------------------------------
# round 10 additions: embedding-space geometry diagnostics
# ---------------------------------------------------------------------------

_DEC10 = "decimal(38,0)"


@query(
    "embeddings_centroid_separation_matrix",
    oracle="""
    WITH comp AS (
      SELECT e.label, s.i AS dim,
             CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q6
      FROM embeddings e, (SELECT unnest(range(0, 64)) AS i) s
    ),
    g AS (
      SELECT label, dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q6) AS BIGINT) AS s
      FROM comp GROUP BY 1, 2
    ),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(MAX(a.n) AS BIGINT) AS n_a,
             CAST(MAX(b.n) AS BIGINT) AS n_b,
             CAST(SUM(CAST(a.s * b.n - b.s * a.n AS HUGEINT)
                      * CAST(a.s * b.n - b.s * a.n AS HUGEINT)) AS HUGEINT)
               AS num
      FROM g a JOIN g b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b, n_a, n_b,
           CAST(num AS DOUBLE)
             / (CAST(n_a * n_b * n_a * n_b AS DOUBLE) * 1e12)
             AS centroid_dist2
    FROM p
    """,
)
def embeddings_centroid_separation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Squared L2 distance between every pair of label centroids — the
    class-separability matrix that says whether nearest-centroid
    classification (sim_nearest_centroid_classify) has any hope: classes
    whose centroid_dist2 is small relative to within-class spread will
    confuse.

    Exactness: centroids never materialize as floats — the difference
    (s_a/n_a − s_b/n_b) is cross-multiplied to the integer
    (s_a·n_b − s_b·n_a), squared in decimal(38,0)/HUGEINT (the square
    exceeds int64), summed over dims, and normalized by
    (n_a·n_b)²·10¹² in the final float step.

    Scale: per-(label, dim) integer sums are map-side; the pair join is
    |labels|²·dims rows — dimension-sized, never corpus-sized.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000)
        .cast("long")
        .alias("q6"),
    )
    g = comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q6").cast("long").alias("s"),
    )
    a = g.select(
        F.col("label").alias("label_a"),
        F.col("dim"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b = g.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    diff = (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast(
        _DEC10
    )
    p = (
        a.join(
            b,
            (F.col("dim") == F.col("dim_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.sum(diff * diff).cast(_DEC10).alias("num"),
        )
    )
    den = (
        (F.col("n_a") * F.col("n_b") * F.col("n_a") * F.col("n_b"))
        .cast("double")
        * F.lit(1e12)
    )
    return p.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        (F.col("num").cast("double") / den).alias("centroid_dist2"),
    )


@query(
    "embeddings_quantile_clip_ranges",
    oracle="""
    WITH comp AS (
      SELECT s.i AS dim, e.vec_id,
             CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q6
      FROM embeddings e, (SELECT unnest(range(0, 64)) AS i) s
    ),
    r AS (
      SELECT dim, q6,
             ROW_NUMBER() OVER (PARTITION BY dim ORDER BY q6, vec_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY dim) AS n
      FROM comp
    )
    SELECT dim,
           CAST(MAX(n) AS BIGINT) AS n_vecs,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 1) // 100 + 1
                         THEN q6 END) AS BIGINT) AS q6_p01,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1
                         THEN q6 END) AS BIGINT) AS q6_p99,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1
                         THEN q6 END)
                - MAX(CASE WHEN rn = ((n - 1) * 1) // 100 + 1
                           THEN q6 END) AS BIGINT) AS clip_range_q6
    FROM r GROUP BY dim
    """,
)
def embeddings_quantile_clip_ranges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension p01/p99 clip ranges — the calibration table int8
    quantization reads (embeddings_int8_quantize assumes a symmetric
    range; this measures the real one, so outlier dims get their own
    clip instead of poisoning the global scale).

    Exactness: type-1 (lower-step) quantiles selected by exact integer
    rank k = ⌊(n−1)p⌋+1 over q6-quantized components with vec_id
    tie-break — order statistics, zero float ops in the whole output.

    Scale: the rank window partitions BY DIMENSION (64-way parallel,
    linear within); selection is a conditional aggregate, so no
    per-dim sort result ever leaves the executors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        "vec_id",
        F.round(F.col("x").cast("double") * 1_000_000)
        .cast("long")
        .alias("q6"),
    )
    w = W.partitionBy("dim").orderBy("q6", "vec_id")
    wn = W.partitionBy("dim")
    r = comp.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    k01 = F.expr("((n - 1) * 1) div 100 + 1")
    k99 = F.expr("((n - 1) * 99) div 100 + 1")
    p01 = F.max(F.when(F.col("rn") == k01, F.col("q6"))).cast("long")
    p99 = F.max(F.when(F.col("rn") == k99, F.col("q6"))).cast("long")
    return r.groupBy("dim").agg(
        F.max("n").cast("long").alias("n_vecs"),
        p01.alias("q6_p01"),
        p99.alias("q6_p99"),
        (p99 - p01).alias("clip_range_q6"),
    )


@query(
    "embeddings_adjacent_dim_corr",
    oracle="""
    WITH comp AS (
      SELECT e.vec_id, s.i AS dim,
             CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q6
      FROM embeddings e, (SELECT unnest(range(0, 64)) AS i) s
    ),
    pair AS (
      SELECT a.dim AS dim_a, b.dim AS dim_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.q6) AS BIGINT) AS sx,
             CAST(SUM(b.q6) AS BIGINT) AS sy,
             CAST(SUM(CAST(a.q6 AS HUGEINT) * CAST(b.q6 AS HUGEINT))
                  AS HUGEINT) AS sxy,
             CAST(SUM(CAST(a.q6 AS HUGEINT) * CAST(a.q6 AS HUGEINT))
                  AS HUGEINT) AS sxx,
             CAST(SUM(CAST(b.q6 AS HUGEINT) * CAST(b.q6 AS HUGEINT))
                  AS HUGEINT) AS syy
      FROM comp a JOIN comp b
        ON a.vec_id = b.vec_id AND b.dim = a.dim + 1
      GROUP BY 1, 2
    )
    SELECT dim_a, dim_b, n,
           CAST(CAST(n AS HUGEINT) * sxy
                - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
             / sqrt(CAST(CAST(n AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                         AS DOUBLE)
                    * CAST(CAST(n AS HUGEINT) * syy
                           - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
                           AS DOUBLE)) AS corr
    FROM pair
    """,
)
def embeddings_adjacent_dim_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson correlation between adjacent embedding dimensions — the
    redundancy probe: a well-trained embedding has near-zero adjacent
    correlation; strong bands mean the effective dimensionality is
    lower than the stored one (PQ subspace splits and dimension-drop
    compression both read this).

    Exactness: all five sums accumulate q6 integers (products ride
    decimal(38,0)/HUGEINT — n·Σxy exceeds int64 past ~10⁴ vectors);
    the Pearson numerator and the two variance terms are exact
    integers, combined by sqrt (IEEE correctly-rounded) and one
    division.

    Scale: the adjacent-pair join co-partitions on vec_id and emits
    exactly 63 output rows; components stream through a map-side
    partial aggregate.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000)
        .cast("long")
        .alias("q6"),
    )
    a = comp.select("vec_id", F.col("dim").alias("dim_a"), F.col("q6").alias("qa"))
    b = comp.select(
        F.col("vec_id").alias("vid_b"),
        F.col("dim").alias("dim_b"),
        F.col("q6").alias("qb"),
    )
    qa_d = F.col("qa").cast(_DEC10)
    qb_d = F.col("qb").cast(_DEC10)
    pair = (
        a.join(
            b,
            (F.col("vec_id") == F.col("vid_b"))
            & (F.col("dim_b") == F.col("dim_a") + 1),
        )
        .groupBy("dim_a", "dim_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qa").cast("long").alias("sx"),
            F.sum("qb").cast("long").alias("sy"),
            F.sum(qa_d * qb_d).cast(_DEC10).alias("sxy"),
            F.sum(qa_d * qa_d).cast(_DEC10).alias("sxx"),
            F.sum(qb_d * qb_d).cast(_DEC10).alias("syy"),
        )
    )
    nd = F.col("n").cast(_DEC10)
    sxd = F.col("sx").cast(_DEC10)
    syd = F.col("sy").cast(_DEC10)
    num = (nd * F.col("sxy") - sxd * syd).cast("double")
    vx = (nd * F.col("sxx") - sxd * sxd).cast("double")
    vy = (nd * F.col("syy") - syd * syd).cast("double")
    return pair.select(
        "dim_a",
        "dim_b",
        "n",
        (num / F.sqrt(vx * vy)).alias("corr"),
    )


@query(
    "embeddings_sign_coherence",
    oracle="""
    WITH comp AS (
      SELECT e.label, s.i AS dim,
             CASE WHEN round(CAST(e.embedding[s.i + 1] AS DOUBLE)
                             * 1000000) >= 0
                  THEN 1 ELSE 0 END AS pos
      FROM embeddings e, (SELECT unnest(range(0, 64)) AS i) s
    ),
    g AS (
      SELECT label, dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM comp GROUP BY 1, 2
    ),
    l AS (
      SELECT label,
             CAST(MAX(n) AS BIGINT) AS n_vecs,
             CAST(SUM(LEAST(n_pos, n - n_pos)) AS BIGINT) AS disagree_bits
      FROM g GROUP BY 1
    )
    SELECT label, n_vecs, disagree_bits,
           CAST(disagree_bits AS DOUBLE) / n_vecs AS mean_hamming
    FROM l
    """,
)
def embeddings_sign_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-fingerprint coherence per label: take each vector's 64-bit
    sign pattern (the SimHash view of the embedding), form the label's
    majority sign per dimension, and report the total minority bit-count
    — exactly the summed Hamming distance from each member to the class
    majority fingerprint. Low mean_hamming means a 64-bit sign sketch
    alone nearly identifies the class (cheap pre-filter before cosine);
    high means sign bits carry little class signal.

    Exactness: pure integer counting (minority count per dim =
    min(n_pos, n−n_pos); Σ over dims = Σ member Hamming distances to
    the majority pattern, an identity that needs no per-pair work);
    one division for the mean.

    Scale: two map-side aggregates — (label, dim) then label; nothing
    pairwise anywhere despite computing a summed pairwise-style
    distance.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.when(
            F.round(F.col("x").cast("double") * 1_000_000) >= 0, 1
        ).otherwise(0).alias("pos"),
    )
    g = comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    l = g.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum(F.least(F.col("n_pos"), F.col("n") - F.col("n_pos")))
        .cast("long")
        .alias("disagree_bits"),
    )
    return l.select(
        "label",
        "n_vecs",
        "disagree_bits",
        (
            F.col("disagree_bits").cast("double") / F.col("n_vecs")
        ).alias("mean_hamming"),
    )


@query(
    "embeddings_label_balance",
    oracle="""
    WITH g AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM embeddings GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
                 CAST(MAX(n_vecs) AS BIGINT) AS mx FROM g)
    SELECT label, n_vecs,
           CAST(n_vecs AS DOUBLE) / t.total AS share,
           CAST(n_vecs AS DOUBLE) / t.mx AS ratio_to_max
    FROM g, t
    """,
)
def embeddings_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balance of the labeled embedding set — the first table any
    classifier evaluation reads (nearest-centroid accuracy over a 10:1
    imbalanced set needs per-class recall, not raw accuracy). Counts
    plus two divisions.

    Scale: one map-side aggregate; the (total, max) scalar broadcasts.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    g = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    t = g.agg(
        F.sum("n_vecs").cast("long").alias("total"),
        F.max("n_vecs").cast("long").alias("mx"),
    )
    return g.crossJoin(t).select(
        "label",
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.col("total")).alias("share"),
        (F.col("n_vecs").cast("double") / F.col("mx")).alias(
            "ratio_to_max"
        ),
    )


@query(
    "embeddings_outlier_rate_by_label",
    oracle="""
    WITH n2 AS (
      SELECT e.vec_id, e.label,
             CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000) AS HUGEINT)
                      * CAST(round(CAST(x AS DOUBLE) * 1000000)
                             AS HUGEINT)) AS HUGEINT) AS q
      FROM embeddings e, UNNEST(e.embedding) AS t(x)
      GROUP BY 1, 2
    ),
    r AS (
      SELECT vec_id, label, q,
             ROW_NUMBER() OVER (ORDER BY q, vec_id) AS rn,
             COUNT(*) OVER () AS n
      FROM n2
    ),
    thr AS (
      SELECT MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN q END)
               AS p99
      FROM r
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN q > thr.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(SUM(CASE WHEN q > thr.p99 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS outlier_rate
    FROM n2, thr GROUP BY label, thr.p99
    """,
)
def embeddings_outlier_rate_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which classes produce the norm outliers? Squared L2 norms in
    exact q6² integer units (HUGEINT/decimal sums), the global p99 as a
    type-1 order statistic, then per-label share of vectors above it —
    a label with concentrated outliers usually marks an embedding-model
    failure mode on that class (embeddings_norm_outliers finds the
    vectors; this attributes them).

    Scale: per-vector norms are a map-side fold over posexploded
    components; the p99 selection is a single order statistic over the
    vector-count-sized norm relation (at extreme cardinality the
    registered hash-sample quantile sketch is the drop-in); the label
    rollup is map-side.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    comp = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "label",
        F.round(F.col("x").cast("double") * 1_000_000)
        .cast(dec)
        .alias("q6"),
    )
    n2 = comp.groupBy("vec_id", "label").agg(
        F.sum(F.col("q6") * F.col("q6")).cast(dec).alias("q")
    )
    wr = W.orderBy("q", "vec_id")
    r = n2.select("vec_id", "q").withColumn(
        "rn", F.row_number().over(wr)
    ).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy())
    )
    thr = r.agg(
        F.max(
            F.when(
                F.col("rn") == F.expr("((n - 1) * 99) div 100 + 1"),
                F.col("q"),
            )
        ).alias("p99")
    )
    out = F.when(F.col("q") > F.col("p99"), 1).otherwise(0)
    return (
        n2.crossJoin(thr)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(out).cast("long").alias("n_outliers"),
            (F.sum(out).cast("double") / F.count(F.lit(1))).alias(
                "outlier_rate"
            ),
        )
    )


@query(
    "embeddings_dim_variance_ladder",
    oracle="""
    WITH comp AS (
      SELECT s.i AS dim,
             CAST(CAST(round(CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS HUGEINT) AS q6
      FROM embeddings e, (SELECT unnest(range(0, 64)) AS i) s
    ),
    per AS (
      SELECT dim,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(q6) AS s1,
             SUM(q6 * q6) AS s2
      FROM comp GROUP BY 1
    ),
    v AS (
      SELECT dim, CAST(n AS BIGINT) AS n_vecs,
             n * s2 - s1 * s1 AS var_num
      FROM per
    ),
    t AS (SELECT SUM(var_num) AS total FROM v)
    SELECT dim,
           n_vecs,
           CAST(var_num AS BIGINT) AS var_num_q6,
           CAST(row_number() OVER (ORDER BY var_num DESC, dim) AS BIGINT)
             AS variance_rank,
           CAST(var_num AS DOUBLE) / CAST(t.total AS DOUBLE)
             AS variance_share
    FROM v, t
    """,
)
def embeddings_dim_variance_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension variance ladder: the exact cross-multiplied variance
    numerator n·Σx²−(Σx)² of each of the 64 embedding dimensions (q6
    milli-micro units, float32 cast to double BEFORE quantization — the
    repo's uniform rule), ranked, with each dimension's share of total
    variance. The PQ/IVF planning table: dimensions whose share ~0 are
    dead weight a product quantizer should not spend codebook bits on,
    and a handful of dominant dims means rotation (OPQ) would pay.

    Exactness: all sums in HUGEINT/decimal; the share is one IEEE
    division; the rank orders exact integers with a dim tiebreak.

    Scale: one explode-by-64 projection with map-side partial sums →
    a 64-row relation; the rank window runs over those 64 rows
    (constant-size — scale-independent, like the decile grids).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = spark.range(0, 64).select(F.col("id").cast("int").alias("i"))
    comp = emb.crossJoin(F.broadcast(dims)).select(
        F.col("i").alias("dim"),
        F.expr(
            "CAST(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) "
            "AS BIGINT) AS decimal(38,0))"
        ).alias("q6"),
    )
    per = comp.groupBy("dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("q6").alias("s1"),
        F.sum(F.col("q6") * F.col("q6")).alias("s2"),
    )
    v = per.select(
        "dim",
        F.col("n").cast("long").alias("n_vecs"),
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias(
            "var_num"
        ),
    )
    t = v.agg(F.sum("var_num").alias("total"))
    w64 = W.orderBy(F.col("var_num").desc(), "dim")
    return v.crossJoin(F.broadcast(t)).select(
        F.col("dim").cast("long").alias("dim"),
        "n_vecs",
        F.col("var_num").cast("long").alias("var_num_q6"),
        F.row_number().over(w64).cast("long").alias("variance_rank"),
        (F.col("var_num").cast("double") / F.col("total").cast("double"))
        .alias("variance_share"),
    )


# ---------------------------------------------------------------------------
# IVF + residual PQ (FAISS IVFADC composition, round 12)
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 10
# IVFPQ uses FINER subspaces than flat PQ: 16 × 4-dim (vs PQ's 8 ×
# 8-dim), 16 centroids each — 64 bits of code per vector, packed in TWO
# longs. Chosen by measurement on this fixture, which is ADC's hard
# case (embeddings near-uniform on the unit sphere: the coarse
# quantizer explains only ~6% of vector energy — mean v·c ≈ 0.25,
# residual norm 1.22 > |v| — so 4-bit codes over 8-dim residual
# subspaces carry little signal): at sf0.1 against the exact top-5,
# M=8 recalled 0.575/0.70/0.80 at shortlist 128/256/512, while M=16
# reaches 0.825@128 and 0.875@256 — the IVF routing ceiling itself
# (nprobe 10/16) — with reconstruction error 0.93 → 0.73. Double the
# code bytes, recall at ceiling with a 2× tighter shortlist.
_IVFPQ_M = 16
# ADC shortlist per query before the exact re-rank — over the PROBED
# cells only (vs sim_ann_pq's corpus-wide scan). 256 exact dots/query
# at re-rank, independent of corpus size.
_IVFPQ_SHORTLIST = 256


def _ivfpq_stats_kernel(batches, C_ivf, R):
    import numpy as np
    import pandas as pd

    dsub = R.shape[2]
    sums = np.zeros((_IVFPQ_M, _PQ_K, dsub), dtype="int64")
    counts = np.zeros((_IVFPQ_M, _PQ_K), dtype="int64")
    seen = False
    for pdf in batches:
        V = np.vstack(pdf["v"].to_numpy()).astype("float64")
        seen = True
        cells = (V @ C_ivf.T).argmax(axis=1)
        res = V - C_ivf[cells]
        # quantized residual micro-units: HALF_UP, the module's
        # rounding discipline — integer partials stay order-free
        d = res * 1e6
        RQ = np.where(
            d >= 0, np.floor(d + 0.5), np.ceil(d - 0.5)
        ).astype("int64")
        for m in range(_IVFPQ_M):
            Rm = res[:, m * dsub : (m + 1) * dsub]
            Qm = RQ[:, m * dsub : (m + 1) * dsub]
            code = _nearest_subcentroid(Rm, R[m])
            for k in np.unique(code):
                sums[m, k] += Qm[code == k].sum(axis=0)
            counts[m] += np.bincount(code, minlength=_PQ_K)
    if not seen:
        return
    m_idx = np.repeat(np.arange(_IVFPQ_M, dtype="int64"), _PQ_K * dsub)
    k_idx = np.tile(
        np.repeat(np.arange(_PQ_K, dtype="int64"), dsub), _IVFPQ_M
    )
    p_idx = np.tile(np.arange(dsub, dtype="int64"), _IVFPQ_M * _PQ_K)
    yield pd.DataFrame(
        {
            "m": m_idx,
            "k": k_idx,
            "pos": p_idx,
            "s": sums.reshape(-1),
            "n": counts.repeat(dsub).reshape(-1),
        }
    )


def _ivfpq_codebooks(spark: SparkSession, sf_dir: str, C_ivf=None, seeds_pdf=None):
    """Residual PQ codebooks — the IVFADC trainer: sub-quantize the
    RESIDUAL (v − its IVF cell centroid), not the raw vector. Residuals
    are what remains after the coarse quantizer explains the cell mean,
    so the same 4-bit budget encodes a much smaller-variance signal —
    the reason FAISS's IVFADC beats flat PQ at equal code size.

    Seeds: the residuals of fixed corpus rows (vec_id 300..315, one
    sub-vector per subspace each; 16 × 4-dim subspaces per _IVFPQ_M's
    measurement note) + ONE distributed Lloyd refinement,
    accumulating quantized-residual int64 micro-units (order-independent
    across partitions, same exact-integer discipline as _ivf_centroids /
    _pq_codebooks) with one division at the end — bit-stable codebooks
    under any partitioning. Retrained per invocation. `C_ivf` lets the
    caller pass the coarse quantizer it already trained this invocation
    (sim_ann_ivfpq needs it too — r13 removed the double Lloyd run);
    `seeds_pdf`: optional pre-gathered seed rows.
    """
    import numpy as np

    if C_ivf is None:
        C_ivf = _ivf_centroids(spark, sf_dir)  # (cells, dim), L2-normalized
    emb = load_table(spark, sf_dir, "embeddings")
    if seeds_pdf is None:
        seeds_pdf = _driver_vecs(
            spark, sf_dir, F.col("vec_id").between(300, 300 + _PQ_K - 1)
        )
    S = np.vstack(seeds_pdf["v"].to_numpy()).astype("float64")  # (K, dim)
    cell = (S @ C_ivf.T).argmax(axis=1)
    RS = S - C_ivf[cell]  # seed residuals
    dim = S.shape[1]
    dsub = dim // _IVFPQ_M
    R = np.stack(
        [RS[:, m * dsub : (m + 1) * dsub] for m in range(_IVFPQ_M)]
    )
    vecs = rebalanced(
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    )
    stats = (
        vecs.mapInPandas(
            partial(_ivfpq_stats_kernel, C_ivf=C_ivf, R=R),
            "m long, k long, pos long, s long, n long",
        )
        .groupBy("m", "k", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
        .collect()
    )
    refined = np.array(R)
    for r in stats:
        refined[r["m"], r["k"], r["pos"]] = (r["s"] / r["n"]) / 1e6
    return refined


def _ivfpq_encode_kernel(batches, C_ivf, R):
    import numpy as np
    import pandas as pd

    dsub = R.shape[2]
    for pdf in batches:
        V = np.vstack(pdf["v"].to_numpy()).astype("float64")
        cells = (V @ C_ivf.T).argmax(axis=1)
        res = V - C_ivf[cells]
        # 16 × 4-bit codes = 64 bits: packed in TWO longs (codes
        # 0..7 in lo, 8..15 in hi) so the sign bit never hosts a
        # code nibble
        lo = np.zeros(len(V), dtype="int64")
        hi = np.zeros(len(V), dtype="int64")
        for m in range(_IVFPQ_M):
            Rm = res[:, m * dsub : (m + 1) * dsub]
            code = _nearest_subcentroid(Rm, R[m]).astype("int64")
            if m < 8:
                lo |= code << (4 * m)
            else:
                hi |= code << (4 * (m - 8))
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                "cell": cells.astype("int64"),
                "code_lo": lo,
                "code_hi": hi,
                # the vector's L2 norm rides along (one double) so the
                # ADC scan can rank by approximate COSINE — the truth
                # metric — instead of raw dot: without it, high-norm
                # vectors crowd the shortlist and recall@10 at sf0.1
                # measured 0.575; with it 0.85+ (see ann_recall)
                "vnorm": np.sqrt(np.einsum("ij,ij->i", V, V)),
            }
        )


def _ivfpq_adc_kernel(batches, q_index: dict, qdots, lut):
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        qi = pdf["q_id"].map(q_index).to_numpy(dtype="int64")
        lo = pdf["code_lo"].to_numpy(dtype="int64")
        hi = pdf["code_hi"].to_numpy(dtype="int64")
        cells = pdf["cell"].to_numpy(dtype="int64")
        codes_m = np.stack(
            [(lo >> (4 * m)) & 0xF for m in range(8)]
            + [(hi >> (4 * m)) & 0xF for m in range(_IVFPQ_M - 8)],
            axis=1,
        )
        # q·v ≈ q·c + Σ_m lut[q, m, code_m]; divide by the carried
        # corpus norm so the shortlist ranks by approximate COSINE
        # (|q| is constant per query — irrelevant to its ranking)
        scores = (
            qdots[qi, cells]
            + lut[
                qi[:, None], np.arange(_IVFPQ_M)[None, :], codes_m
            ].sum(axis=1)
        ) / np.maximum(pdf["vnorm"].to_numpy(dtype="float64"), 1e-30)
        df = pd.DataFrame(
            {
                "q_id": pdf["q_id"].to_numpy(dtype="int64"),
                "n_id": pdf["vec_id"].to_numpy(dtype="int64"),
                "adc": scores,
            }
        )
        # per-batch shortlist: bound what leaves the scan
        df = (
            df.sort_values(
                ["q_id", "adc", "n_id"],
                ascending=[True, False, True],
            )
            .groupby("q_id", sort=False)
            .head(_IVFPQ_SHORTLIST)
        )
        yield df


@query("sim_ann_ivfpq")  # approximate — rows-only; recall pinned in tests/
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF routing + residual-PQ ADC — the FAISS
    IVFADC composition, and THE canonical 100 TB ANN architecture: the
    coarse quantizer prunes the scan to nprobe/cells of the corpus, the
    4-bit residual codes make the scanned payload two packed int64s per
    vector (16 × 4-dim subspaces — see the _IVFPQ_M measurement note),
    and only the ≤_IVFPQ_SHORTLIST ADC winners per query pay an exact
    distance.

    Decomposition of the inner-product: q·v = q·c(v) + q·r(v), so the
    ADC score is one per-(query, cell) scalar (q·centroid, |queries| ×
    cells tiny table bound to the kernel) plus M lookups in the per-query
    residual LUT (q_m · R[m,k]) — no floats from the corpus touched at
    scan time.

    Exactness discipline: candidates are approximate, SCORES are not —
    the shortlist re-ranks with the exact quantized cosine, so every
    returned cosine is bit-identical to the brute-force path (pinned in
    tests/test_pipeline_ops.py alongside LSH/IVF/PQ); recall@5 floor
    pinned there too, recall@10 tracked per-round in BENCH ann_recall.

    Scale: index build = one narrow Arrow pass emitting (vec_id, cell,
    code_lo, code_hi, norm) — 4 longs + a double per vector; the
    candidate join is the IVF equi-join on `cell` (broadcast probe
    table); the ADC kernel carries 16 tiny LUTs + a cells-sized dot
    table bound to it and emits per-batch top-S shortlists, never
    scored-candidate rows; the re-rank joins the quantized corpus on
    the shortlist's n_id only.
    """
    import numpy as np

    # one combined driver gather (IVF seeds + residual-PQ seeds + the 8
    # query vectors — was three separate toPandas jobs), and ONE coarse
    # quantizer training shared with the codebook trainer (the previous
    # shape trained the identical IVF centroids twice per invocation)
    fetched = _driver_vecs(
        spark,
        sf_dir,
        (F.col("vec_id") < _N_QUERIES)
        | F.col("vec_id").between(100, 100 + _IVF_CELLS - 1)
        | F.col("vec_id").between(300, 300 + _PQ_K - 1),
    )
    C_ivf = _ivf_centroids(
        spark, sf_dir, seeds_pdf=_vec_slice(fetched, 100, 100 + _IVF_CELLS - 1)
    )
    R = _ivfpq_codebooks(
        spark,
        sf_dir,
        C_ivf=C_ivf,
        seeds_pdf=_vec_slice(fetched, 300, 300 + _PQ_K - 1),
    )  # (M, K, dsub)
    dsub = R.shape[2]
    emb = rebalanced(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    )
    codes = emb.mapInPandas(
        partial(_ivfpq_encode_kernel, C_ivf=C_ivf, R=R),
        "vec_id long, cell long, code_lo long, code_hi long, vnorm double",
    )

    # query-side tables: probe cells (argsort, same order as sim_ann_ivf),
    # per-(query, cell) centroid dots, per-query residual LUTs — all tiny
    q_pdf = _vec_slice(fetched, 0, _N_QUERIES - 1)
    QV = np.vstack(q_pdf["v"].to_numpy()).astype("float64")
    q_ids = q_pdf["vec_id"].to_numpy(dtype="int64")
    qdots = QV @ C_ivf.T  # (queries, cells)
    order = np.argsort(-qdots, axis=1, kind="stable")[:, :_IVFPQ_NPROBE]
    probes = spark.createDataFrame(
        [
            (int(q_ids[qi]), int(c))
            for qi in range(len(q_ids))
            for c in order[qi]
        ],
        "q_id long, cell long",
    )
    lut = np.einsum(
        "qmd,mkd->qmk", QV.reshape(len(QV), _IVFPQ_M, dsub), R
    )  # (queries, M, K)
    q_index = {int(q): i for i, q in enumerate(q_ids)}
    cand_rows = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "cell", "vec_id", "code_lo", "code_hi", "vnorm")
    )
    shortlist = cand_rows.mapInPandas(
        partial(_ivfpq_adc_kernel, q_index=q_index, qdots=qdots, lut=lut),
        "q_id long, n_id long, adc double",
    )
    w_adc = W.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("n_id"))
    cand = (
        shortlist.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= _IVFPQ_SHORTLIST)
        .select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    qv = quantized(spark, sf_dir, "q").filter(F.col("q_id") < _N_QUERIES)
    nv = quantized(spark, sf_dir, "n")
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(nv, "n_id")
        .select(
            "q_id",
            "n_id",
            _cosine(_dot("q_q", "n_q"), "q_nq", "n_nq").alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# streaming IVF index parity (round 12)
# ---------------------------------------------------------------------------


@query("sim_ann_ivf_streamed")  # approximate — rows-only; bit-equality vs
# the batch index pinned in tests/test_streaming_ann.py
def sim_ann_ivf_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k served from the STREAMING IVF index
    (streaming/ann.StreamingAnnIvfRuntime): the corpus is replayed as
    stream records (vector payload in fields['vec']) through the
    stateful cell-routed ingest, then the same 8 query vectors probe the
    live inverted lists. The result is BIT-IDENTICAL to batch
    sim_ann_ivf — same trained centroids (shared _ivf_centroids cache),
    same quantization, same argmax routing, same nprobe probe order,
    same Catalyst rescore — so this operator IS the proof that a
    continuously-maintained live index and a batch rebuild never
    diverge (no reconciliation epsilon).

    Reference analog: live stream consumers building queryable state
    (stream_reader.rs consumer-state discipline) — here the state is a
    vector index.

    Scale: ingest is one stateful streaming stage keyed on cell (state
    hash-partitions across executors, O(corpus/cells) per cell, cells
    scale as √N); the query is one exploded-list join + broadcast probe
    table + window top-k. The 40-row result materializes driver-side so
    the temp spool/checkpoint dirs can be reclaimed before return.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from redisgears_spark.engine import GearsEngine
    from redisgears_spark.streaming.ann import StreamingAnnIvfRuntime

    emb = load_table(spark, sf_dir, "embeddings")
    # one driver gather for Lloyd seeds + the 8 query vectors (the query
    # rows were a separate collect after ingest — r13)
    fetched = _driver_vecs(
        spark,
        sf_dir,
        (F.col("vec_id") < _N_QUERIES)
        | F.col("vec_id").between(100, 100 + _IVF_CELLS - 1),
    )
    C = _ivf_centroids(
        spark, sf_dir, seeds_pdf=_vec_slice(fetched, 100, 100 + _IVF_CELLS - 1)
    )
    base = _tempfile.mkdtemp(prefix="rg_ann_stream_")
    try:
        spool = _os.path.join(base, "spool")
        # corpus → STREAM_SCHEMA records; the vector ships as a JSON
        # array rendered by the JVM's shortest-roundtrip double repr, so
        # the Arrow-side parse recovers bit-identical float64s
        emb.select(
            F.concat(F.lit("emb:"), F.col("vec_id").cast("string")).alias(
                "stream_key"
            ),
            F.col("vec_id").cast("long").alias("id"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("id_ts"),
            F.create_map(
                F.lit("vec_id"),
                F.col("vec_id").cast("string"),
                F.lit("vec"),
                F.concat(
                    F.lit("["),
                    F.concat_ws(
                        ",",
                        F.expr(
                            "transform(embedding,"
                            " x -> cast(cast(x as double) as string))"
                        ),
                    ),
                    F.lit("]"),
                ),
            ).alias("fields"),
            F.lit(None)
            .cast("array<struct<field:string,value:string>>")
            .alias("record"),
        ).coalesce(8).write.parquet(spool)
        # coalesce(8): one maxFilesPerTrigger micro-batch for the replay
        # (fewer epochs -> the sink holds one full-state emission; the
        # chunked/multi-epoch path is exercised by the runtime tests)

        engine = GearsEngine(spark, sf_dir=sf_dir)
        rt = StreamingAnnIvfRuntime(
            engine, spool, _os.path.join(base, "work"), centroids=C
        )
        rt.start()
        rt.process_available()
        rt.stop()

        q_pdf = _vec_slice(fetched, 0, _N_QUERIES - 1)
        result = rt.topk(
            [
                (int(vid), list(v))
                for vid, v in zip(q_pdf["vec_id"], q_pdf["v"])
            ],
            k=_TOP_K,
            nprobe=_IVF_NPROBE,
        ).collect()
        return spark.createDataFrame(
            result, "q_id long, n_id long, cosine double, rank long"
        )
    finally:
        _shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental embedding dedup (round 12)
# ---------------------------------------------------------------------------

_INCR_EMB_ORACLE = f"""
    WITH {_ORACLE_QUANT_CTE},
    tagged AS (
      SELECT n.vec_id, n.v, n.nq,
             (d.source IN ('src18', 'src19')) AS is_new
      FROM n JOIN documents d ON n.vec_id = d.doc_id
    ),
    pairs AS (
      SELECT a.vec_id AS new_id, b.vec_id AS base_id,
             CAST(list_sum([a.v[i] * b.v[i]
                  for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot,
             CAST(a.nq AS BIGINT) AS a_nq, CAST(b.nq AS BIGINT) AS b_nq
      FROM tagged a JOIN tagged b ON a.is_new AND NOT b.is_new
    )
    SELECT new_id, base_id,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(a_nq AS DOUBLE)) * sqrt(CAST(b_nq AS DOUBLE)))
             AS cosine
    FROM pairs
    WHERE CAST(dot AS DOUBLE)
            / (sqrt(CAST(a_nq AS DOUBLE)) * sqrt(CAST(b_nq AS DOUBLE)))
          >= 0.35
"""


def _increment_numpy(spark: SparkSession, sf_dir: str):
    """Quantized increment vectors (vec_ids of src18/src19 documents) as
    numpy — the bounded side of the incremental screen. Same structural
    cap as _corpus_numpy: a batch larger than _BRUTEFORCE_MAX_ROWS
    raises instead of OOMing the driver."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QUANT).alias("v")
    )
    incr_ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src18", "src19"))
        .select(F.col("doc_id").alias("vec_id"))
    )
    pdf = (
        emb.join(incr_ids, "vec_id", "semi")
        .limit(_BRUTEFORCE_MAX_ROWS + 1)
        .toPandas()
    )
    if len(pdf) > _BRUTEFORCE_MAX_ROWS:
        raise ValueError(
            f"incremental screen refuses > {_BRUTEFORCE_MAX_ROWS} "
            "increment vectors on the driver; split the increment or "
            "route candidates through the ANN index"
        )
    ids = pdf["vec_id"].to_numpy(dtype="int64")
    if len(pdf) == 0:
        # np.vstack rejects an empty sequence with an opaque error; an
        # empty increment is a legal no-op screen
        dim = len(load_table(spark, sf_dir, "embeddings").head()["embedding"])
        return ids, np.zeros((0, dim), dtype="int64")
    M = np.vstack(pdf["v"].to_numpy()).astype("int64")
    return ids, M


def _increment_score_kernel(batches, bc):
    import numpy as np
    import pandas as pd

    new_ids, A = bc.value
    for pdf in batches:
        base_ids = pdf["vec_id"].to_numpy(dtype="int64")
        B = np.vstack(pdf["v"].to_numpy()).astype("int64")
        cos = _block_cosine(A, B)  # increment x batch
        aa, bb = np.broadcast_arrays(
            new_ids[:, None], base_ids[None, :]
        )
        keep = cos >= 0.35
        yield pd.DataFrame(
            {
                "new_id": aa[keep],
                "base_id": bb[keep],
                "cosine": cos[keep],
            }
        )


@query("dedup_embedding_incremental", oracle=_INCR_EMB_ORACLE)
def dedup_embedding_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental embedding dedup — screen the NEW batch's vectors
    (src18/src19 documents, the round-12 increment scenario) against
    the EXISTING corpus without the corpus-quadratic all-pairs: every
    (new, base) pair with exact quantized cosine >= 0.35. With
    dedup_incremental_batch (shingle Jaccard) this completes the
    incremental screen across both near-dup modalities — lexical and
    semantic — on the same increment.

    Shape: the INCREMENT is the broadcast side (it is batch-sized by
    definition — the structural cap raises loudly past 1 M vectors) and
    the CORPUS streams through a blocked int64 matmul Arrow kernel, so
    the work is |corpus| x |increment| vectorized dot products, linear
    in the corpus and never materializing it anywhere — the transpose
    of dedup_embedding_cosine's broadcast-the-corpus layout, because
    here the bounded side is the increment. At 100 TB, route candidates
    through the IVF cells first (sim_ann_ivf's assignment; the
    streamed twin dedup_embedding_incremental_streamed demonstrates the
    index-served path) and rescore exactly on candidates only.

    Exactness: integer dots/norms, one IEEE division per pair — full
    hash-exact DuckDB oracle (dedup_embedding_cosine's discipline on
    the bipartite new x base pairs).
    """
    bc = spark.sparkContext.broadcast(_increment_numpy(spark, sf_dir))
    incr_ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src18", "src19"))
        .select(F.col("doc_id").alias("vec_id"))
    )
    base = rebalanced(
        load_table(spark, sf_dir, "embeddings")
        .join(incr_ids, "vec_id", "anti")
        .select("vec_id", F.expr(_QUANT).alias("v"))
    )
    return base.mapInPandas(
        partial(_increment_score_kernel, bc=bc), "new_id long, base_id long, cosine double"
    )


@query("dedup_embedding_incremental_streamed", oracle=_INCR_EMB_ORACLE)
def dedup_embedding_incremental_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental embedding dedup served from the STREAMING IVF index
    (streaming/ann.StreamingAnnIvfRuntime.range_search): the BASE
    corpus is replayed as stream records through the cell-routed
    stateful ingest, then the increment's vectors range-query the live
    inverted lists with an EXHAUSTIVE probe (nprobe = cells). Because
    argmax routing partitions the corpus across cells, probing all
    cells rescans every indexed vector exactly once — the result is
    EXACT (same hash-exact DuckDB oracle as the batch
    dedup_embedding_incremental, not a recall approximation): the
    live-index screen and the batch screen never diverge. At
    production scale the same call with nprobe < cells becomes the
    approximate fast path; the exactness contract here pins the
    index's bookkeeping, quantization, and rescore arithmetic.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from redisgears_spark.engine import GearsEngine
    from redisgears_spark.streaming.ann import StreamingAnnIvfRuntime

    emb = load_table(spark, sf_dir, "embeddings")
    incr_ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src18", "src19"))
        .select(F.col("doc_id").alias("vec_id"))
    )
    C = _ivf_centroids(spark, sf_dir)
    base = _tempfile.mkdtemp(prefix="rg_emb_incr_stream_")
    try:
        spool = _os.path.join(base, "spool")
        emb.join(incr_ids, "vec_id", "anti").select(
            F.concat(F.lit("emb:"), F.col("vec_id").cast("string")).alias(
                "stream_key"
            ),
            F.col("vec_id").cast("long").alias("id"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("id_ts"),
            F.create_map(
                F.lit("vec_id"),
                F.col("vec_id").cast("string"),
                F.lit("vec"),
                F.concat(
                    F.lit("["),
                    F.concat_ws(
                        ",",
                        F.expr(
                            "transform(embedding,"
                            " x -> cast(cast(x as double) as string))"
                        ),
                    ),
                    F.lit("]"),
                ),
            ).alias("fields"),
            F.lit(None)
            .cast("array<struct<field:string,value:string>>")
            .alias("record"),
        ).coalesce(8).write.parquet(spool)
        # coalesce(8): one maxFilesPerTrigger micro-batch for the replay
        # (fewer epochs -> the sink holds one full-state emission; the
        # chunked/multi-epoch path is exercised by the runtime tests)

        engine = GearsEngine(spark, sf_dir=sf_dir)
        rt = StreamingAnnIvfRuntime(
            engine, spool, _os.path.join(base, "work"), centroids=C
        )
        rt.start()
        rt.process_available()
        rt.stop()

        qrows = (
            emb.join(incr_ids, "vec_id", "semi")
            .select(
                "vec_id",
                F.expr(
                    "transform(embedding, x -> cast(x as double))"
                ).alias("v"),
            )
            .collect()
        )
        result = [
            (r["q_id"], r["n_id"], r["cosine"])
            for r in rt.range_search(
                [(r["vec_id"], list(r["v"])) for r in qrows],
                threshold=0.35,
            ).collect()
        ]
        return spark.createDataFrame(
            result, "new_id long, base_id long, cosine double"
        )
    finally:
        _shutil.rmtree(base, ignore_errors=True)
