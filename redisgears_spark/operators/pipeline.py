"""Corpus-level pipeline operators: benchmark decontamination and
deterministic shard packing.

These are the two remaining ops a 100 TB training-data pipeline runs after
filtering/dedup (operators/dedup.py): strip documents that leak evaluation
data, then pack the survivors into fixed-token-budget output shards.

Both are oracle-backed (exact DuckDB SQL): the n-gram overlap is a plain
join on portable md5 fingerprints, and shard packing is an exclusive
prefix sum over a deterministic order — integer arithmetic throughout.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from redisgears_spark.functions.hashing import (
    md5_hash32_spark,
    md5_hash32_sql,
)
from redisgears_spark.operators.registry import query
from redisgears_spark.operators.text import _TOKENS, _TOKENS_SQL, _tokens_py
from redisgears_spark.sources.keyspace import (
    load_table,
    rebalanced,
    scratch_parquet,
)

# word n-gram width for contamination matching (eval-set leakage detection;
# 13 is the published convention for web-scale corpora — the fixture docs
# are ~55 words, so 5 keeps per-doc gram counts meaningful at test scale)
_DECON_N = 5
# deterministic pseudo-eval-set selector: ~8% of the corpus at every SF
_DECON_EVAL_MOD = 13

_DECON_GRAMS_CTE = f"""
    tok AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    g AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                     w[i+3] || ' ' || w[i+4]
                     for i in generate_series(1, len(w) - {_DECON_N - 1})]) AS g
      FROM tok WHERE len(w) >= {_DECON_N}
    )
"""


def _grams_kernel(batches):
    import pandas as pd

    for pdf in batches:
        ids: list = []
        gs: list = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            w = _tokens_py(text)
            for i in range(len(w) - (_DECON_N - 1)):
                ids.append(doc_id)
                gs.append(" ".join(w[i : i + _DECON_N]))
        yield pd.DataFrame({"doc_id": ids, "g": gs})


def _gram_rows(spark: SparkSession, sf_dir: str, predicate) -> DataFrame:
    """documents[predicate] → exploded (doc_id, g) word-5-gram rows.

    One Arrow-batched pass that emits grams already exploded — the Catalyst
    transform+explode formulation re-evaluates the token split per OUTPUT
    row (the shingled_docs trap, measured 7-10x at sf0.1), while this stage
    tokenizes each document exactly once. The text column never survives
    the stage: only (doc_id, gram) rows flow on, and the join key is
    md5(gram) computed JVM-side after, so exchanges carry fixed-width rows.
    """
    docs = rebalanced(
        load_table(spark, sf_dir, "documents")
        .filter(predicate)
        .select("doc_id", "text")
    )
    return docs.mapInPandas(_grams_kernel, "doc_id long, g string")


@query(
    "pipeline_decontaminate",
    oracle=f"""
    WITH {_DECON_GRAMS_CTE},
    eg AS (SELECT DISTINCT md5(g) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    tg AS (SELECT DISTINCT doc_id, md5(g) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
    hits AS (SELECT doc_id, COUNT(*) AS n_hits
             FROM tg JOIN eg USING (gh) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_eval_grams,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {_DECON_EVAL_MOD} <> 0
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    5-gram with the held-out evaluation set (here: the deterministic
    doc_id % 13 == 0 slice standing in for an external benchmark table).
    Output per training doc: how many distinct eval 5-grams it contains,
    and the contaminated verdict.

    Scale: both sides tokenize map-side in one Arrow pass each
    (_gram_rows) and reduce to DISTINCT md5 fingerprints, so the join
    carries 32-byte keys — never text. The eval side of a real pipeline is
    a benchmark suite (thousands of docs): it broadcast-joins; here it is
    corpus-proportional, so no hint — AQE broadcasts when it fits and
    shuffle-joins when it does not, which is the honest 100 TB behavior.
    """
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    eval_grams = (
        _gram_rows(spark, sf_dir, is_eval)
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    train_grams = (
        _gram_rows(spark, sf_dir, ~is_eval)
        .select("doc_id", F.md5("g").alias("gh"))
        .distinct()
    )
    hits = train_grams.join(eval_grams, "gh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    train_docs = (
        load_table(spark, sf_dir, "documents").filter(~is_eval).select("doc_id")
    )
    return train_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_eval_grams"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


# tokens per output shard (the training-shard packing budget)
_SHARD_BUDGET = 5_000
# two-phase prefix-sum bucket sizing: scale bucket count with the corpus so
# per-bucket work stays bounded at 100 TB (a fixed count would cap the
# windowed cumsum at that many tasks), floored at cluster parallelism and
# capped so the driver-side offset gather stays trivially small
_PACK_TARGET_ROWS_PER_BUCKET = 1_000_000
_PACK_MAX_BUCKETS = 65_536


@query(
    "pipeline_pack_shards",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS BIGINT) AS token_offset,
           CAST(COALESCE(SUM(n_tokens) OVER (
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) // {_SHARD_BUDGET} AS BIGINT) AS shard_id
    FROM t
    """,
)
def pipeline_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard packing: assign every document a global
    token offset (exclusive prefix sum over doc_id order) and the shard it
    lands in at a fixed token budget per shard — the layout step that turns
    a filtered corpus into evenly sized training files.

    Scale design — the distributed prefix sum: a naive global
    `SUM() OVER (ORDER BY doc_id)` plans a single-partition window, which
    serializes the entire corpus through one task at 100 TB. Instead:

      1. range-bucket doc_id into coarse buckets (a narrow projection
         riding the scan) — bucket count scales with corpus size
         (~{_PACK_TARGET_ROWS_PER_BUCKET} rows/bucket), floored at
         defaultParallelism, capped at {_PACK_MAX_BUCKETS};
      2. aggregate per-bucket token sums — |buckets| rows to the driver
         (bounded, like _ivf_centroids' stats gather);
      3. turn them into exclusive bucket offsets and broadcast-join back;
      4. run the window cumsum WITHIN each bucket (parallel across
         buckets) and add the bucket's offset.

    Every shuffle carries (doc_id, n_tokens) — 16 bytes/row; the window
    state is one running long per task. Same two-phase shape as
    zipWithIndex, expressed in DataFrame ops, and bit-exact against the
    oracle's global window because integer addition is associative (and
    the bucket id is integer floor division — exact for any 64-bit
    doc_id range, unlike a double-rounded divide).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("n_tokens")
    )
    n_rows, lo, hi = t.agg(
        F.count(F.lit(1)), F.min("doc_id"), F.max("doc_id")
    ).first()
    if not n_rows:
        return spark.createDataFrame(
            [], "doc_id long, n_tokens long, token_offset long, shard_id long"
        )
    n_buckets = min(
        _PACK_MAX_BUCKETS,
        max(
            spark.sparkContext.defaultParallelism,
            n_rows // _PACK_TARGET_ROWS_PER_BUCKET,
        ),
    )
    width = max(1, (hi - lo + n_buckets) // n_buckets)
    t = t.withColumn(
        "bucket", F.expr(f"(doc_id - {lo}) DIV {width}")
    )

    bucket_sums = (
        t.groupBy("bucket").agg(F.sum("n_tokens").alias("bsum")).collect()
    )
    sums = {r["bucket"]: r["bsum"] for r in bucket_sums}
    offsets, acc = [], 0
    for b in sorted(sums):
        offsets.append((b, acc))
        acc += sums[b]
    boff = spark.createDataFrame(offsets, "bucket long, bucket_offset long")

    w = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local_off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        t.join(F.broadcast(boff), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("bucket_offset") + local_off).alias("token_offset"),
        )
        .withColumn(
            "shard_id",
            F.expr(f"CAST(token_offset DIV {_SHARD_BUDGET} AS BIGINT)"),
        )
    )


# Gopher-style quality gates (published web-corpus filter rules — word-count
# bounds, mean-word-length band, symbol ratio, stopword presence), fused
# into one pass with a reasons bitmask. Bounds calibrated to the fixture
# distribution so keeps and drops both occur at every SF.
_G_MIN_WORDS, _G_MAX_WORDS = 30, 90
_G_MIN_MWL, _G_MAX_MWL = 4.0, 10.0
_G_MAX_SYMBOL_RATIO = 0.1
_G_STOPWORDS = ("the", "a", "and", "of", "to", "in")


# the gopher signal CTEs, shared between the per-doc filter report and the
# end-to-end funnel below (same text → identical signals in both oracles)
_G_SIGNALS_SQL = f"""
    t AS (
      SELECT doc_id,
             {_TOKENS_SQL} AS w,
             len(text) AS nc,
             len(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS sym
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CASE WHEN len(w) > 0
                  THEN CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0)
                            AS DOUBLE) / len(w)
             END AS mean_word_len,
             CASE WHEN nc > 0 THEN CAST(sym AS DOUBLE) / nc END AS symbol_ratio,
             len(list_filter(w, x -> x IN {_G_STOPWORDS})) > 0 AS has_stopword
      FROM t
    )
"""

_G_KEEP_SQL = f"""COALESCE(
      n_words >= {_G_MIN_WORDS} AND n_words <= {_G_MAX_WORDS}
      AND mean_word_len >= {_G_MIN_MWL} AND mean_word_len <= {_G_MAX_MWL}
      AND symbol_ratio <= {_G_MAX_SYMBOL_RATIO} AND has_stopword, FALSE)"""


@query(
    "pipeline_gopher_filters",
    oracle=f"""
    WITH {_G_SIGNALS_SQL}
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, has_stopword,
           CAST(
             CASE WHEN n_words < {_G_MIN_WORDS} THEN 1 ELSE 0 END
           + CASE WHEN n_words > {_G_MAX_WORDS} THEN 2 ELSE 0 END
           + CASE WHEN mean_word_len IS NULL OR mean_word_len < {_G_MIN_MWL}
                       OR mean_word_len > {_G_MAX_MWL} THEN 4 ELSE 0 END
           + CASE WHEN symbol_ratio IS NULL
                       OR symbol_ratio > {_G_MAX_SYMBOL_RATIO} THEN 8 ELSE 0 END
           + CASE WHEN NOT has_stopword THEN 16 ELSE 0 END
           AS BIGINT) AS reasons,
           COALESCE(  n_words >= {_G_MIN_WORDS} AND n_words <= {_G_MAX_WORDS}
          AND mean_word_len >= {_G_MIN_MWL} AND mean_word_len <= {_G_MAX_MWL}
          AND symbol_ratio <= {_G_MAX_SYMBOL_RATIO} AND has_stopword
           , FALSE) AS keep
    FROM s
    """,
)
def pipeline_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality filtering (the published web-corpus rule set:
    word-count bounds, mean-word-length band, symbol ratio, stopword
    presence), one pass per document with a per-rule `reasons` bitmask —
    the curation report a training pipeline keeps alongside the verdict.

    Scale: pure Catalyst — a narrow projection over the scan, zero
    shuffles, zero Python; every signal is integer arithmetic with ONE
    IEEE division per ratio, so verdicts are bit-identical across engines.
    Reference parity: composes the same per-record filter surface as
    `pipeline_corpus_filter` (lib.rs registered-function filters); the
    rule set itself follows the Gopher/MassiveText quality heuristics.
    """
    docs = load_table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in _G_STOPWORDS)
    t = docs.select(
        "doc_id",
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("n_words"),
        F.expr(
            f"CASE WHEN size({_TOKENS}) > 0 THEN "
            f"CAST(aggregate(transform({_TOKENS}, x -> length(x)), 0L, "
            f"(acc, x) -> acc + x) AS DOUBLE) / size({_TOKENS}) END"
        ).alias("mean_word_len"),
        F.expr(
            "CASE WHEN length(text) > 0 THEN "
            "CAST(length(regexp_replace(text, '[a-z0-9\\\\s]', '')) AS DOUBLE)"
            " / length(text) END"
        ).alias("symbol_ratio"),
        F.expr(
            f"size(filter({_TOKENS}, x -> x IN ({stop_list}))) > 0"
        ).alias("has_stopword"),
    )
    too_short = F.when(F.col("n_words") < _G_MIN_WORDS, 1).otherwise(0)
    too_long = F.when(F.col("n_words") > _G_MAX_WORDS, 2).otherwise(0)
    bad_mwl = F.when(
        F.col("mean_word_len").isNull()
        | (F.col("mean_word_len") < _G_MIN_MWL)
        | (F.col("mean_word_len") > _G_MAX_MWL),
        4,
    ).otherwise(0)
    bad_sym = F.when(
        F.col("symbol_ratio").isNull()
        | (F.col("symbol_ratio") > _G_MAX_SYMBOL_RATIO),
        8,
    ).otherwise(0)
    no_stop = F.when(~F.col("has_stopword"), 16).otherwise(0)
    reasons = (too_short + too_long + bad_mwl + bad_sym + no_stop).cast("long")
    return t.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "has_stopword",
        reasons.alias("reasons"),
        (reasons == 0).alias("keep"),
    )


# deterministic-shuffle packing: hash-prefix buckets are uniform by
# construction, so 4 hex chars = 65536 ordered buckets bound per-task work
# at any corpus size while the driver-side offset gather stays tiny
_SHUFFLE_BUCKET_CHARS = 4


@query(
    "pipeline_shuffle_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                  ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS BIGINT) AS token_offset,
           CAST(COALESCE(SUM(n_tokens) OVER (
                  ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) // {_SHARD_BUDGET} AS BIGINT) AS shard_id
    FROM t
    """,
)
def pipeline_shuffle_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard packing: documents are laid out
    in md5(doc_id) order — the seedable, reproducible training-order
    shuffle every run needs — then packed into fixed-token-budget shards
    with an exclusive prefix sum, exactly like `pipeline_pack_shards` but
    over the shuffled order.

    Scale: same two-phase distributed prefix sum, with a twist that makes
    it BETTER-conditioned than id-range bucketing: the bucket is the first
    {_SHUFFLE_BUCKET_CHARS} hex chars of the hash, so buckets are uniform
    by construction (no skew from dense/sparse id ranges), lexicographic
    bucket order equals hash order, and the windowed cumsum parallelizes
    across 16^{_SHUFFLE_BUCKET_CHARS} buckets regardless of id
    distribution. Only (doc_id, 16-byte hash, count) ever shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("n_tokens"),
    ).withColumn("bucket", F.substring("h", 1, _SHUFFLE_BUCKET_CHARS))
    bucket_sums = (
        t.groupBy("bucket").agg(F.sum("n_tokens").alias("bsum")).collect()
    )
    if not bucket_sums:
        return spark.createDataFrame(
            [], "doc_id long, n_tokens long, token_offset long, shard_id long"
        )
    offsets, acc = [], 0
    for r in sorted(bucket_sums, key=lambda r: r["bucket"]):
        offsets.append((r["bucket"], acc))
        acc += r["bsum"]
    boff = spark.createDataFrame(offsets, "bucket string, bucket_offset long")
    w = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local_off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        t.join(F.broadcast(boff), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("bucket_offset") + local_off).alias("token_offset"),
        )
        .withColumn(
            "shard_id",
            F.expr(f"CAST(token_offset DIV {_SHARD_BUDGET} AS BIGINT)"),
        )
    )


@query(
    "pipeline_domain_mix",
    oracle=f"""
    WITH t AS (
      SELECT source, lang, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n
      FROM documents
    ),
    g AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM t GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE)
             / (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM g) AS token_share,
           sqrt(CAST(n_tokens AS DOUBLE)) AS sampling_weight
    FROM g
    """,
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture accounting: per (source, lang) document and token
    counts, each domain's share of the corpus token budget, and a
    square-root sampling weight (the published temperature-style
    upweighting of small domains) — the table a training run consults to
    draw its data mixture.

    Determinism: counts and token sums are exact integers; token_share is
    ONE IEEE division by the exact global total; sampling_weight is one
    IEEE sqrt — bit-identical across engines (no normalization by a
    float sum, which would be order-dependent).

    Scale: one map-side-partial aggregate over the scan (token counting is
    a Catalyst projection), then the |domains|-row result broadcast-joins
    the 1-row global total — the corpus itself shuffles only the
    (source, lang, n) triple, never text.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "lang",
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("n"),
    )
    g = t.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens")
    )
    total = g.agg(F.sum("n_tokens").alias("total_tokens"))
    return g.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias(
            "token_share"
        ),
        F.sqrt(F.col("n_tokens").cast("double")).alias("sampling_weight"),
    )


_FUNNEL_ORACLE = f"""
    WITH {_G_SIGNALS_SQL},
    q AS (SELECT doc_id, n_words FROM s WHERE {_G_KEEP_SQL}),
    fp AS (SELECT doc_id,
                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
           FROM documents),
    surv AS (
      SELECT doc_id, n_words FROM (
        SELECT q.doc_id, q.n_words,
               MIN(q.doc_id) OVER (PARTITION BY fp.f) AS keeper
        FROM q JOIN fp ON q.doc_id = fp.doc_id
      ) WHERE doc_id = keeper
    ),
    {_DECON_GRAMS_CTE},
    eg AS (SELECT DISTINCT md5(g) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN eg ON md5(g.g) = eg.gh
              WHERE g.doc_id % {_DECON_EVAL_MOD} <> 0),
    clean AS (
      SELECT doc_id, n_words FROM surv
      WHERE doc_id % {_DECON_EVAL_MOD} <> 0
        AND doc_id NOT IN (SELECT doc_id FROM dirty)
    )
    SELECT 'raw' AS stage, COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS n_tokens FROM s
    UNION ALL
    SELECT 'quality', COUNT(*), CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
    FROM q
    UNION ALL
    SELECT 'dedup', COUNT(*), CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
    FROM surv
    UNION ALL
    SELECT 'decontaminated', COUNT(*),
           CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
    FROM clean
    """


def _funnel_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, keep, f, clean): the Gopher verdict, the
    exact-dedup fingerprint, and the decontamination verdict — the
    expensive per-document signals every funnel stage re-derives —
    computed once PER INVOCATION and materialized to a fresh scratch
    parquet (sources.keyspace.scratch_parquet). The funnel's four stage
    aggregates then ride a 5-column index instead of re-running the
    regex tokenizer and the 5-gram explode per stage (VERDICT r7 #8:
    the composed report was paying ~4 operators' worth of signal
    recomputation). Nothing is reused across invocations — the r12
    fingerprint-keyed /tmp index was removed in r13."""
    sig = pipeline_gopher_filters(spark, sf_dir).select(
        "doc_id", "n_words", "keep"
    )
    fp = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("f"),
    )
    clean_ids = (
        pipeline_decontaminate(spark, sf_dir)
        .filter(~F.col("contaminated"))
        .select("doc_id", F.lit(True).alias("clean"))
    )
    index = (
        sig.join(fp, "doc_id")
        .join(clean_ids, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "keep",
            "f",
            F.coalesce("clean", F.lit(False)).alias("clean"),
        )
    )
    from redisgears_spark.sources.keyspace import scratch_parquet

    return scratch_parquet(index, label="funnel")


@query("pipeline_funnel_report", oracle=_FUNNEL_ORACLE)
def pipeline_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE declarative plan, reported
    as a funnel: raw corpus → Gopher quality gate → exact-dedup survivor
    pick (within the quality-kept set) → benchmark decontamination, with
    surviving document and token counts per stage — the curation report a
    data team publishes with every corpus release.

    Built by composing the registered stages (`pipeline_gopher_filters`,
    the dedup_exact fingerprint, `pipeline_decontaminate`) rather than
    re-implementing them, so the funnel is exactly the product of its
    parts — each already oracle-checked in isolation; this query checks
    their COMPOSITION end-to-end. The per-document signals are computed
    once and cached per corpus fingerprint (see _funnel_index); the four
    stage summaries are partial aggregates over that narrow index, so
    after the one-time build the funnel costs join-depth, not
    signal-recomputation, and text never shuffles anywhere.
    """
    from pyspark.sql.window import Window as W

    idx = _funnel_index(spark, sf_dir)
    # r13 single-pass: the four stage summaries were four union branches
    # over the index scratch (two of them re-running the dedup-keeper
    # window). ONE window + ONE scalar aggregate computes every stage's
    # conditional folds; the 4 stage rows explode from the single stats
    # row. min(CASE) over the fingerprint partition picks the keeper
    # among keep rows only — the same filtered window as before. Scalar
    # aggregates emit on an empty corpus too, so the 0-count rows
    # survive exactly as the four scalar branches did.
    keeper = F.min(F.when(F.col("keep"), F.col("doc_id"))).over(
        W.partitionBy("f")
    )
    d = idx.withColumn(
        "is_surv", F.col("keep") & (F.col("doc_id") == keeper)
    )

    def _cnt(cond):
        return F.coalesce(F.sum(F.when(cond, 1)), F.lit(0)).cast("long")

    def _tok(cond):
        return F.coalesce(
            F.sum(F.when(cond, F.col("n_words"))), F.lit(0)
        ).cast("long")

    stats = d.agg(
        _cnt(F.lit(True)).alias("c_raw"),
        _tok(F.lit(True)).alias("t_raw"),
        _cnt(F.col("keep")).alias("c_q"),
        _tok(F.col("keep")).alias("t_q"),
        _cnt(F.col("is_surv")).alias("c_s"),
        _tok(F.col("is_surv")).alias("t_s"),
        _cnt(F.col("is_surv") & F.col("clean")).alias("c_c"),
        _tok(F.col("is_surv") & F.col("clean")).alias("t_c"),
    )
    return stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        F.col(c).alias("n_docs"),
                        F.col(t).alias("n_tokens"),
                    )
                    for name, c, t in (
                        ("raw", "c_raw", "t_raw"),
                        ("quality", "c_q", "t_q"),
                        ("dedup", "c_s", "t_s"),
                        ("decontaminated", "c_c", "t_c"),
                    )
                ]
            )
        ).alias("r")
    ).select("r.stage", "r.n_docs", "r.n_tokens")


# ---------------------------------------------------------------------------
# language rebalance (downsample-to-min target mix)
# ---------------------------------------------------------------------------


def _take_lang_quota(
    docs: DataFrame,
    quota: DataFrame,
    quota_col: str = "quota",
    emit_quota: bool = False,
) -> DataFrame:
    """Deterministic per-language downsampling, shared by every mix
    sampler (lang_rebalance / temperature_mix / unimax_budget): rank
    docs inside each lang by the md5(doc_id) permutation (doc_id
    tie-break — same rows on any engine) and keep ranks up to the
    language's quota. `quota` is dimension-sized (one row per lang, or
    one keyless global row) and broadcast.

    Scale: one hash shuffle on lang for the rank window; with |langs|
    small and docs/lang huge the per-lang sort is the skew risk — at
    100 TB use the REGISTERED twin pipeline_lang_rebalance_hashcut
    (sampled md5-space quantile cut, no full-data sort); it exists per
    the r8 rule and is containment-pinned against this exact form. One
    place to change, for all three samplers.
    """
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    ranked = docs.withColumn("sample_rank", rk.cast("long"))
    if "lang" in quota.columns:
        joined = ranked.join(F.broadcast(quota), "lang")
    else:  # single global-quota row, keyless broadcast cross join
        joined = ranked.join(F.broadcast(quota))
    out = joined.filter(F.col("sample_rank") <= F.col(quota_col))
    cols: list = ["doc_id", "lang", "sample_rank"]
    if emit_quota:
        cols.append(F.col(quota_col).alias("lang_quota"))
    return out.select(*cols)


@query(
    "pipeline_lang_rebalance",
    oracle="""
    WITH k AS (
      SELECT CAST(min(cnt) AS BIGINT) AS k
      FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS sample_rank
    FROM ranked, k
    WHERE rk <= k.k
    """,
)
def pipeline_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a uniform language mix by downsampling
    every language to the size of the SMALLEST one — the data-dependent
    cousin of `pipeline_stratified_sample` (whose rates are static): here
    the per-group quota comes from the observed counts, the way training
    mixes are actually rebalanced when a target share is mandated.

    The sample is deterministic and engine-independent: rank docs inside
    each language by md5(doc_id) (a uniform permutation, tie-broken by
    doc_id) and keep the first K. Same-rows-on-any-engine is what makes
    a sampling operator oracle-checkable.

    Scale: the quota is a two-level aggregate (per-lang counts — map-side
    partial — then a global min over |langs| rows, broadcast back as a
    literal-free cross join of ONE row). The per-lang rank is one hash
    shuffle on lang; with |langs| small and docs/lang huge, rank-by-md5
    is the skew risk — at 100 TB swap the row_number for the two-phase
    quantile trick (sample the md5 space, cut at the K-th quantile, keep
    rows below the cut) to avoid single-reducer-per-lang sorts; at
    fixture scale the direct window is the honest measured shape.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    k = counts.agg(F.min("cnt").alias("k"))
    return _take_lang_quota(docs, k, quota_col="k")


@query(
    "pipeline_temperature_mix",
    oracle="""
    WITH stats AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(FLOOR(SQRT(CAST(count(*) AS DOUBLE)) * 1000.0) AS BIGINT)
               AS w
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS tw,
             CAST(sum(n_docs) AS BIGINT) AS n FROM stats
    ),
    quota AS (
      SELECT lang, n_docs, w,
             LEAST(n_docs, ((n // 2) * w) // tw) AS quota
      FROM stats, tot
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS sample_rank,
           CAST(q.quota AS BIGINT) AS lang_quota
    FROM ranked r JOIN quota q ON r.lang = q.lang
    WHERE r.rk <= q.quota
    """,
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language sampling (the mC4 §3.1 / multilingual
    pretraining mix): sample language l in proportion to n_l^alpha with
    alpha = 0.5, flattening the head languages without collapsing to the
    uniform mix (`pipeline_lang_rebalance`) or the natural one. The whole
    recipe is engine-exact: alpha = 1/2 makes the weight a SQRT — the one
    libm-free power, correctly rounded by IEEE in both engines — scaled
    to an integer (`floor(sqrt(n)*1000)`), so quotas come out of pure
    int64 arithmetic (`budget * w_l / total_w`, floored, capped at n_l)
    with a budget of half the corpus. Selection is the md5-rank
    permutation, same as lang_rebalance.

    Scale: per-lang counts are a map-side partial agg; weights/quotas are
    |langs| rows broadcast back; one hash shuffle on lang for the rank
    window (same skew note as lang_rebalance — quantile-cut at 100 TB).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1000.0))
        .cast("long")
        .alias("w"),
    )
    tot = stats.agg(
        F.sum("w").cast("long").alias("tw"),
        F.sum("n_docs").cast("long").alias("n"),
    )
    quota = (
        stats.join(F.broadcast(tot))
        # integer division end-to-end (Spark DIV == DuckDB // on
        # positives): a double division here would diverge from the
        # oracle once budget*w exceeds 2^53
        .select(
            "lang",
            F.least(
                F.col("n_docs"),
                F.expr("((n DIV 2) * w) DIV tw"),
            )
            .cast("long")
            .alias("quota"),
        )
    )
    return _take_lang_quota(docs, quota, emit_quota=True)


# ---------------------------------------------------------------------------
# corpus snapshot diff (data versioning)
# ---------------------------------------------------------------------------


@query(
    "pipeline_corpus_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [v1]'
                      ELSE text END) AS fp
      FROM documents WHERE doc_id % 11 <> 0
    ),
    new AS (
      SELECT doc_id, md5(text) AS fp
      FROM documents WHERE doc_id % 13 <> 0
    )
    SELECT COALESCE(new.doc_id, old.doc_id) AS doc_id,
           CASE
             WHEN old.doc_id IS NULL THEN 'added'
             WHEN new.doc_id IS NULL THEN 'removed'
             WHEN old.fp <> new.fp THEN 'changed'
             ELSE 'unchanged'
           END AS status
    FROM new FULL OUTER JOIN old ON new.doc_id = old.doc_id
    """,
)
def pipeline_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the data-versioning primitive behind
    incremental re-training: classify every document as added / removed /
    changed / unchanged between two corpus versions by comparing content
    fingerprints, never text. The two "versions" are derived
    deterministically from the one fixture corpus (old = ids not
    divisible by 11, with ids divisible by 7 carrying perturbed text;
    new = ids not divisible by 13), so both engines diff identical
    snapshots.

    Scale: each side reduces to (doc_id, 16-byte md5) map-side — the
    full-outer join (the one shuffle, on doc_id) carries fixed-width
    rows regardless of document size; at 100 TB this is the cheapest
    possible diff of two multi-TB corpora. The CASE classification is a
    post-join projection.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("o_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" [v1]"))
            ).otherwise(F.col("text"))
        ).alias("o_fp"),
    )
    new = docs.filter(F.col("doc_id") % 13 != 0).select(
        F.col("doc_id").alias("n_id"), F.md5("text").alias("n_fp")
    )
    j = new.join(old, new.n_id == old.o_id, "full_outer")
    return j.select(
        F.coalesce("n_id", "o_id").alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_fp") != F.col("n_fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# length-weighted sampling (probability ∝ document size)
# ---------------------------------------------------------------------------


@query(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH mx AS (SELECT max(n_chars) AS m FROM documents)
    SELECT doc_id, n_chars,
           {md5_hash32_sql("CAST(doc_id AS VARCHAR)", 1000)} AS bucket
    FROM documents, mx
    WHERE {md5_hash32_sql("CAST(doc_id AS VARCHAR)", 1000)} * mx.m
          < n_chars * 1000
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted subsampling: accept each document with probability
    proportional to its length (p = n_chars / max_chars) — the
    doc-level approximation of token-uniform sampling, used when a
    corpus must shrink without biasing toward short documents (plain
    uniform doc sampling over-represents short docs token-wise).

    Deterministic and engine-exact: the acceptance test is pure integer
    arithmetic — bucket(doc_id) in [0,1000) from the md5 prefix, accept
    iff bucket * max_chars < n_chars * 1000 (cross-multiplied, no float
    rate). Same rows on any engine, any run.

    Scale: the corpus max is a map-side-partial global agg broadcast as
    a one-row cross join; the predicate then rides the scan — no
    shuffle of the corpus itself.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    mx = docs.agg(F.max("n_chars").alias("m"))
    bucket = md5_hash32_spark("cast(doc_id as string)", 1000)
    return (
        docs.join(F.broadcast(mx))
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") * F.col("m") < F.col("n_chars") * 1000)
        .select("doc_id", "n_chars", "bucket")
    )


# ---------------------------------------------------------------------------
# BPE merge training (iterative tokenizer learning)
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def _word_freq_of(docs: DataFrame) -> DataFrame:
    """(word, freq) table over any document slice — the additive unit of
    BPE training state (frequency tables of disjoint slices ADD;
    pipeline_bpe_extend builds on exactly that algebra)."""
    return docs.select(
        F.explode(F.expr(_TOKENS)).alias("word")
    ).groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def bpe_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE's training input: the word-frequency table (classic BPE
    trains on distinct words weighted by count, not the raw corpus —
    Sennrich et al. 2016)."""
    return _word_freq_of(load_table(spark, sf_dir, "documents"))




def _apply_merge(syms: list, left: str, right: str) -> list:
    """One BPE merge applied left-to-right, non-overlapping — the ONE
    definition train and apply share; divergence here would silently
    split the tokenizer from its own training."""
    merged = left + right
    res, i = [], 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            res.append(merged)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res

def _local_pair_counts(freq: dict, words: dict):
    """Weighted adjacent-pair counts over the in-memory symbol state —
    the Sennrich counting statistic (overlapping zip pairs), shared by
    the local trainer and the extend replay so their counts agree by
    construction."""
    from collections import Counter

    counts: Counter = Counter()
    for w, syms in words.items():
        fq = freq[w]
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] += fq
    return counts


def _bpe_state(freq: dict, words: dict):
    """(counts, index) over the symbol state: `counts` is exactly
    _local_pair_counts; `index` maps each pair to the set of words that
    currently contain it, so a merge touches only those words instead
    of rescanning the whole vocabulary (r14, guide §1.2 step 2 — the
    classic incremental BPE trainer; counts stay a pure function of the
    state, so argmax/tie-breaks are bit-identical to a full recount)."""
    from collections import Counter, defaultdict

    counts: Counter = Counter()
    index: dict = defaultdict(set)
    for w, syms in words.items():
        fq = freq[w]
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] += fq
            index[(a, b)].add(w)
    return counts, index


def _apply_merge_tracked(
    freq: dict, words: dict, counts, index, lft: str, rgt: str
) -> None:
    """Apply one merge ONLY to the words containing (lft, rgt),
    maintaining `counts`/`index` by exact deltas. Zero-count pairs are
    deleted so `counts` stays equal (as a mapping) to a fresh
    _local_pair_counts over the mutated state — the invariant that
    keeps the incremental trainer's argmax identical to the naive
    loop's."""
    for w in list(index.get((lft, rgt), ())):
        syms = words[w]
        fq = freq[w]
        new = _apply_merge(syms, lft, rgt)
        for a, b in zip(syms, syms[1:]):
            c = counts[(a, b)] - fq
            if c:
                counts[(a, b)] = c
            else:
                del counts[(a, b)]
            index[(a, b)].discard(w)
        for a, b in zip(new, new[1:]):
            counts[(a, b)] += fq
            index[(a, b)].add(w)
        words[w] = new


def _local_bpe_rounds(
    freq: dict,
    words: dict,
    n_rounds: int,
    round_offset: int = 0,
    state=None,
) -> list[tuple[int, str, str, int]]:
    """The exact Sennrich greedy loop over an in-memory word-frequency
    state (mutates `words`). Used by pipeline_bpe_train and by
    pipeline_bpe_extend's base-training and continuation phases —
    one loop definition, so train and extend can never disagree on the
    argmax/tie-break discipline.

    r14: pair counts are maintained incrementally (`_bpe_state` /
    `_apply_merge_tracked`) instead of recounted and re-applied over
    every word each round — O(words containing the merged pair) per
    round instead of O(total symbols). A caller that already holds the
    maintained state (the extend replay) passes it via `state` to skip
    the rebuild."""
    counts, index = state if state is not None else _bpe_state(freq, words)
    recs: list[tuple[int, str, str, int]] = []
    for i in range(n_rounds):
        if not counts:
            break
        (lft, rgt), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        recs.append((round_offset + i, lft, rgt, int(n)))
        _apply_merge_tracked(freq, words, counts, index, lft, rgt)
    return recs


# ---------------------------------------------------------------------------
# DuckDB replay of the BPE greedy loop (round 13): the oracle UNROLLS the
# data-dependent fixpoint — each round is a generated CTE block (pair
# counts → argmax-with-tie-break OR frozen-merge replay → greedy
# left-to-right non-overlapping apply), so "iterative, therefore
# rows-only" stopped being true for the whole BPE family. The greedy
# apply's only sequential wrinkle (runs of overlapping candidates when
# left == right) is the classic gaps-and-islands: consecutive candidate
# positions group into islands and even offsets within an island merge.
# ---------------------------------------------------------------------------


def _bpe_wf_sql(name: str, where: str = "") -> str:
    """CTE block: documents[ WHERE ...] → {name}(word, freq, sym)."""
    return f"""
    {name}_tok AS (
      SELECT unnest({_TOKENS_SQL}) AS w FROM documents {where}
    ),
    {name} AS MATERIALIZED (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq,
             string_split(w, '') AS sym
      FROM {name}_tok GROUP BY w
    )"""


def _bpe_round_sql(tag: str, k: int, prev: str, replay: str | None) -> str:
    """CTE block for ONE BPE round over state `prev`(word, freq, sym):
    emits {tag}m{k}(l, r, cnt) — the merge chosen (argmax: count desc,
    then lexicographic pair, the exact _local_bpe_rounds tie-break) or
    replayed (cnt = the frozen pair's support on THIS state, 0 if gone)
    — and {tag}st{k}, the state after the greedy non-overlapping apply."""
    m = f"{tag}m{k}"
    if replay is None:
        pick = f"""
    {m} AS MATERIALIZED (
      SELECT l, r, cnt FROM {tag}pc{k} ORDER BY cnt DESC, l, r LIMIT 1
    )"""
    else:
        pick = f"""
    {m} AS MATERIALIZED (
      SELECT b.l, b.r, CAST(COALESCE(p.cnt, 0) AS BIGINT) AS cnt
      FROM {replay} b LEFT JOIN {tag}pc{k} p ON p.l = b.l AND p.r = b.r
    )"""
    return f"""
    {tag}pc{k} AS MATERIALIZED (
      SELECT p[1] AS l, p[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq,
                   unnest(CASE WHEN len(sym) >= 2 THEN
                     [[sym[j], sym[j+1]]
                      for j in generate_series(1, len(sym) - 1)]
                   ELSE [] END) AS p
            FROM {prev})
      GROUP BY 1, 2
    ),{pick},
    {tag}rows{k} AS MATERIALIZED (
      SELECT word, freq, u.pos, u.s FROM (
        SELECT word, freq,
               unnest([{{'pos': j, 's': sym[j]}}
                       for j in generate_series(1, len(sym))]) AS u
        FROM {prev})
    ),
    {tag}cand{k} AS MATERIALIZED (
      SELECT w.word, w.pos
      FROM {tag}rows{k} w
      JOIN {tag}rows{k} nx ON nx.word = w.word AND nx.pos = w.pos + 1
      CROSS JOIN {m} mm
      WHERE w.s = mm.l AND nx.s = mm.r
    ),
    {tag}mrg{k} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos,
               pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
        FROM (SELECT word, pos,
                     pos - ROW_NUMBER() OVER (PARTITION BY word
                                              ORDER BY pos) AS grp
              FROM {tag}cand{k}))
      WHERE off % 2 = 0
    ),
    {tag}st{k} AS MATERIALIZED (
      SELECT word, ANY_VALUE(freq) AS freq,
             list(out_s ORDER BY pos) AS sym
      FROM (
        SELECT r.word, r.freq, r.pos,
               CASE WHEN mg1.pos IS NOT NULL THEN mm.l || mm.r
                    ELSE r.s END AS out_s
        FROM {tag}rows{k} r
        CROSS JOIN {m} mm
        LEFT JOIN {tag}mrg{k} mg1
          ON mg1.word = r.word AND mg1.pos = r.pos
        LEFT JOIN {tag}mrg{k} mg2
          ON mg2.word = r.word AND mg2.pos = r.pos - 1
        WHERE mg2.pos IS NULL
      ) GROUP BY word
    )"""


def _bpe_train_oracle_sql() -> str:
    """pipeline_bpe_train: 8 unrolled rounds over the full corpus."""
    parts = [_bpe_wf_sql("twf")]
    prev = "twf"
    for k in range(1, _BPE_MERGES + 1):
        parts.append(_bpe_round_sql("t", k, prev, replay=None))
        prev = f"tst{k}"
    merges = "\n      UNION ALL\n".join(
        f'      SELECT CAST({k - 1} AS BIGINT) AS round, l AS "left",'
        f' r AS "right", cnt AS pair_count FROM tm{k}'
        for k in range(1, _BPE_MERGES + 1)
    )
    return (
        "WITH " + ",".join(parts) + "\n" + merges
    )


def _bpe_apply_oracle_sql() -> str:
    """pipeline_bpe_apply: train chain, then per-document token counts
    through the final symbol state (|encode(word)| = len(sym) in st8)."""
    parts = [_bpe_wf_sql("twf")]
    prev = "twf"
    for k in range(1, _BPE_MERGES + 1):
        parts.append(_bpe_round_sql("t", k, prev, replay=None))
        prev = f"tst{k}"
    return f"""WITH {",".join(parts)},
    enc AS (SELECT word, CAST(len(sym) AS BIGINT) AS n FROM {prev}),
    doc_tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    agg AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS nws,
             CAST(SUM(e.n) AS BIGINT) AS nbpe
      FROM doc_tok t JOIN enc e ON e.word = t.w
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.nws, 0) AS n_ws_tokens,
           COALESCE(a.nbpe, 0) AS n_bpe_tokens,
           CAST(COALESCE(a.nbpe, 0) AS DOUBLE)
             / GREATEST(COALESCE(a.nws, 0), 1) AS bpe_tokens_per_word
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """


def _bpe_extend_oracle_sql() -> str:
    """pipeline_bpe_extend(_streamed): base chain (8 trained rounds on
    the corpus minus src18/src19), then the union chain — 8 REPLAYED
    rounds (frozen base merges, union support recorded) + 4 continued
    trained rounds. The streamed twin shares this oracle because its
    word-frequency state is pinned bit-identical to the batch scan."""
    not_new = (
        "WHERE source NOT IN ("
        + ", ".join(f"'{s}'" for s in _BPE_NEW_SOURCES)
        + ")"
    )
    parts = [_bpe_wf_sql("bwf", not_new), _bpe_wf_sql("uwf")]
    prev = "bwf"
    for k in range(1, _BPE_MERGES + 1):
        parts.append(_bpe_round_sql("b", k, prev, replay=None))
        prev = f"bst{k}"
    prev = "uwf"
    for k in range(1, _BPE_MERGES + 1):
        parts.append(_bpe_round_sql("u", k, prev, replay=f"bm{k}"))
        prev = f"ust{k}"
    for k in range(
        _BPE_MERGES + 1, _BPE_MERGES + _BPE_EXTEND_MERGES + 1
    ):
        parts.append(_bpe_round_sql("u", k, prev, replay=None))
        prev = f"ust{k}"
    merges = "\n      UNION ALL\n".join(
        f'      SELECT CAST({k - 1} AS BIGINT) AS round, l AS "left",'
        f' r AS "right", cnt AS pair_count,'
        f" '{'base' if k <= _BPE_MERGES else 'ext'}' AS phase FROM um{k}"
        for k in range(1, _BPE_MERGES + _BPE_EXTEND_MERGES + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + merges


@query("pipeline_bpe_train", oracle=_bpe_train_oracle_sql())
def pipeline_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 BPE merges over the corpus — the iterative
    tokenizer-training algorithm (Sennrich et al.; the GPT-2 tokenizer's
    training loop): each round counts adjacent symbol pairs across the
    word-frequency table (weighted by word count), merges the most
    frequent pair everywhere, and repeats. Output: the merge table
    (round, left, right, pair_count) — the artifact a tokenizer ships.

    Hash-exact DuckDB oracle since round 13: the data-dependent
    fixpoint is UNROLLED — each of the 8 rounds is a generated CTE
    block (weighted pair counts, argmax with the count-desc/lexicographic
    tie-break, greedy non-overlapping apply via gaps-and-islands), so
    the driver checks the full merge table bit-for-bit.
    tests/test_pipeline_ops.py additionally pins the merge sequence
    against an independent pure-Python BPE reference.

    Scale: the state lives in the |distinct words| frequency table
    (tiny vs corpus — built with one map-side-partial groupBy over the
    token stream; 31 words at sf0.1). The driver collects its
    (word, freq) rows, never corpus rows, and runs the exact Sennrich
    loop in memory (`_local_bpe_rounds`, incrementally maintained pair
    counts).
    """
    freq = {r["word"]: r["freq"] for r in bpe_word_freq(spark, sf_dir).collect()}
    words = {w: list(w) for w in freq}
    return spark.createDataFrame(
        _local_bpe_rounds(freq, words, _BPE_MERGES),
        "round long, left string, right string, pair_count long",
    )


def _learned_merges(spark: SparkSession, sf_dir: str) -> list:
    """Train and collect the (tiny) ordered merge list. Re-trained per
    invocation — the r12 module-level memo keyed on the fixture mtime
    was removed in r13 so every call computes from the parquet inputs."""
    return [
        (r["left"], r["right"])
        for r in pipeline_bpe_train(spark, sf_dir)
        .orderBy("round")
        .collect()
    ]


def _bpe_apply_kernel(batches, merges: list):
    import pandas as pd

    def encode(word: str) -> int:
        syms = list(word)
        for lft, rgt in merges:
            syms = _apply_merge(syms, lft, rgt)
        return len(syms)

    cache: dict[str, int] = {}
    for pdf in batches:
        n_bpe = []
        n_ws = []
        for toks in pdf["w"]:
            n_ws.append(len(toks))
            total = 0
            for t in toks:
                if t not in cache:
                    cache[t] = encode(t)
                total += cache[t]
            n_bpe.append(total)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_ws_tokens": n_ws,
                "n_bpe_tokens": n_bpe,
            }
        )


@query("pipeline_bpe_apply", oracle=_bpe_apply_oracle_sql())
def pipeline_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus WITH the learned BPE merges — the apply half
    of the train→apply tokenizer pair: per document, the BPE token
    count, the whitespace token count, and the compression the merges
    bought. This is the "token counting" a budget-driven pipeline runs
    with its real tokenizer instead of the whitespace proxy.

    Scale: merges are a driver-side list (8 pairs — the trained
    artifact, bound to the kernel by value); the apply is ONE Arrow-batched
    pass per document over its per-word symbol sequences (merge order
    must follow training order — BPE's greedy apply); nothing but
    (doc_id, two counts) leaves the stage.
    """
    merges = _learned_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKENS).alias("w")
    )
    out = docs.mapInPandas(
        partial(_bpe_apply_kernel, merges=merges),
        "doc_id long, n_ws_tokens long, n_bpe_tokens long",
    )
    return out.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        (
            F.col("n_bpe_tokens").cast("double")
            / F.greatest(F.col("n_ws_tokens"), F.lit(1))
        ).alias("bpe_tokens_per_word"),
    )


# ---------------------------------------------------------------------------
# incremental BPE vocabulary extension (round 12)
# ---------------------------------------------------------------------------

_BPE_EXTEND_MERGES = 4
# the increment: sources that "arrive later" in the extend scenario
_BPE_NEW_SOURCES = ("src18", "src19")


def _bpe_extend(
    spark: SparkSession, sf_dir: str, new_sources, inc_wf=None
) -> DataFrame:
    """Shared engine for pipeline_bpe_extend (new_sources parameterized
    so tests can pin the empty-increment continuation property;
    `inc_wf` lets a caller supply the increment's frequency table from
    SAVED STATE instead of a scan — pipeline_bpe_extend_streamed feeds
    it from StreamingWordFreqRuntime.word_freq())."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = (
        F.col("source").isin(list(new_sources))
        if new_sources
        else F.lit(False)
    )
    if inc_wf is None:
        inc_wf = _word_freq_of(docs.filter(is_new))
    base_wf = _word_freq_of(docs.filter(~is_new))
    base_freq = {r["word"]: r["freq"] for r in base_wf.collect()}
    bwords = {w: list(w) for w in base_freq}
    base_merges = _local_bpe_rounds(base_freq, bwords, _BPE_MERGES)
    # incremental state algebra: the union table is base + increment
    # ADDED (frequency tables of disjoint slices are associative under
    # +), never a rescan of the combined corpus — at 100 TB the base
    # table is saved trainer state and only the increment is scanned
    ufreq = dict(base_freq)
    for r in inc_wf.collect():
        ufreq[r["word"]] = ufreq.get(r["word"], 0) + r["freq"]
    uwords = {w: list(w) for w in ufreq}
    recs: list[tuple] = []
    rnd = 0
    # r14: one maintained (counts, index) over the union state — the
    # replayed pair's count ON THE UNION (the drift diagnostic, the
    # same overlapping-zip statistic the trainer computes) is an O(1)
    # lookup instead of a full vocabulary scan per merge, and the
    # apply touches only the words containing the pair; the ext
    # continuation reuses the same state
    ucounts, uindex = _bpe_state(ufreq, uwords)
    for _r, lft, rgt, _n in base_merges:
        cnt = ucounts.get((lft, rgt), 0)
        recs.append((rnd, lft, rgt, int(cnt), "base"))
        _apply_merge_tracked(ufreq, uwords, ucounts, uindex, lft, rgt)
        rnd += 1
    ext = _local_bpe_rounds(
        ufreq,
        uwords,
        _BPE_EXTEND_MERGES,
        round_offset=rnd,
        state=(ucounts, uindex),
    )
    recs.extend((r, l, rr, n, "ext") for (r, l, rr, n) in ext)
    return spark.createDataFrame(
        recs,
        "round long, left string, right string, pair_count long, "
        "phase string",
    )


_BUDGET_FILL_ORACLE = """
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({toks}) AS BIGINT) AS n_tok,
             {n_stop} AS n_stop
      FROM documents),
    q AS (
      SELECT doc_id, source, n_tok,
             (n_stop * 1000) // greatest(n_tok, 1) AS q_milli
      FROM d),
    b AS (SELECT (SUM(n_tok) * 6) // 10 AS budget FROM q),
    c AS (
      SELECT *, SUM(n_tok) OVER (
               ORDER BY q_milli DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tok
      FROM q)
    SELECT c.source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_total,
           CAST(SUM(c.n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN c.cum_tok <= b.budget THEN 1 ELSE 0 END)
             AS BIGINT) AS n_docs_sel,
           CAST(SUM(CASE WHEN c.cum_tok <= b.budget THEN c.n_tok
                         ELSE 0 END) AS BIGINT) AS tokens_sel,
           CAST(SUM(CASE WHEN c.cum_tok <= b.budget THEN c.n_tok
                         ELSE 0 END) AS DOUBLE)
             / greatest(SUM(c.n_tok), 1) AS sel_token_share
    FROM c CROSS JOIN b
    GROUP BY c.source
"""


@query(
    "pipeline_token_budget_fill",
    oracle=_BUDGET_FILL_ORACLE.format(
        toks=_TOKENS_SQL,
        n_stop="CAST(len(list_filter({t}, x -> x = 'the' OR x = 'a' OR "
        "x = 'and' OR x = 'of' OR x = 'to' OR x = 'in')) AS BIGINT)".format(
            t=_TOKENS_SQL
        ),
    ),
)
def pipeline_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-budget fill — the curation decision a training run
    makes once per corpus: rank every document by a quality key
    (stopword ratio in exact milli-units — the cheap fluency proxy),
    walk the ranking greedily, and keep documents while the cumulative
    token count fits the budget (60% of the corpus' tokens). Output:
    the per-source composition of the selected set vs the corpus — the
    table that shows which sources the budget squeezed out.

    The global cumulative token count uses the two-phase rank machinery
    (functions/ranks.global_cumsum): range-bucket the quality key,
    driver-side exclusive prefix over the bounded bucket gather,
    in-bucket window — NO single-partition sort at any scale,
    bit-identical to the oracle's window form by integer associativity.

    Exactness: token and stopword counts are integers; the quality key
    is integer milli (floor division); the budget is integer (total·6
    div 10); the only IEEE division is the final share. Full hash-exact
    DuckDB oracle.

    Scale: one narrow projection of documents (doc_id, source, two
    counts) feeds the rank; the per-source rollup shuffles ~|sources|
    groups with map-side partials. The selected set itself is never
    materialized — the composition table is the decision artifact.
    """
    from redisgears_spark.functions.ranks import global_cumsum
    from redisgears_spark.operators.text import _STOPWORDS, _count_in

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.expr(f"CAST(size({_TOKENS}) AS BIGINT)")
    # scratch: referenced by the rank machinery's stats + gather jobs,
    # the final plan AND the budget scalar — without it the tokenizer
    # projection runs four times over the corpus
    base = scratch_parquet(
        docs.select(
            "doc_id",
            "source",
            n_tok.alias("n_tok"),
            F.expr(
                f"(({_count_in(_TOKENS, _STOPWORDS, sql=False)}) * 1000) "
                f"div greatest(CAST(size({_TOKENS}) AS BIGINT), 1)"
            ).alias("q_milli"),
        ),
        "budget-fill",
    )
    ranked = global_cumsum(
        base, "q_milli", "doc_id", "n_tok", "fill_rank", "cum_tok",
        descending=True,
    )
    budget = base.agg(
        F.expr("CAST(sum(n_tok) * 6 div 10 AS BIGINT)").alias("budget")
    )
    sel = F.col("cum_tok") <= F.col("budget")
    return (
        ranked.crossJoin(F.broadcast(budget))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_total"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.when(sel, 1).otherwise(0)).cast("long").alias(
                "n_docs_sel"
            ),
            F.sum(F.when(sel, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_sel"),
            (
                F.sum(F.when(sel, F.col("n_tok")).otherwise(0)).cast(
                    "double"
                )
                / F.greatest(F.sum("n_tok"), F.lit(1))
            ).alias("sel_token_share"),
        )
    )


@query("pipeline_bpe_extend", oracle=_bpe_extend_oracle_sql())
def pipeline_bpe_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BPE vocabulary update — extend a shipped tokenizer
    when new corpus sources arrive, WITHOUT retraining from scratch and
    WITHOUT invalidating already-tokenized data.

    Scenario: the tokenizer's 8 merges were trained on the base corpus
    (every source except src18/src19); the two new sources then land.
    The update (i) adds the increment's word-frequency table to the
    saved base table — frequency state is additive, only the increment
    is scanned; (ii) REPLAYS the frozen base merges on the union state,
    recording each merge's support on the extended corpus (the drift
    diagnostic: a base merge whose union count collapsed is a candidate
    for deprecation); (iii) CONTINUES training 4 more merges from that
    state. Output: (round, left, right, pair_count, phase∈{base,ext}).

    Frozen-prefix discipline: base merges keep their ranks — extending
    a vocabulary must be append-only or every previously tokenized
    shard re-encodes (the production constraint that rules out naive
    retraining; cf. the registry's append-only upgrade semantics,
    function_load_lib.rs prologue checks).

    Hash-exact DuckDB oracle since round 13 (the unrolled-round replay
    of _bpe_extend_oracle_sql: trained base chain, frozen-merge replay
    with union support, continued training — all as generated CTE
    blocks). tests/test_pipeline_ops.py pins (a) the full output against
    an independent pure-Python incremental reference, (b) the
    continuation property — with an EMPTY increment the base phase
    reproduces pipeline_bpe_train's merges bit-for-bit and the ext
    phase equals rounds 8–11 of a 12-round from-scratch train (greedy
    BPE is sequential, so freeze-and-continue == train-longer).

    Scale: state is the |distinct words| frequency table, never the
    corpus; the driver collects the base and increment tables and adds
    them, then replays and continues on one incrementally maintained
    pair-count state (a replayed pair's union support is one lookup).
    """
    return _bpe_extend(spark, sf_dir, _BPE_NEW_SOURCES)


# ---------------------------------------------------------------------------
# UNIMAX budget allocation (round 6)
# ---------------------------------------------------------------------------

_UNIMAX_EPOCHS = 1  # max epochs (repeats) of any language's data


def unimax_quotas(counts: list[tuple[str, int]], budget: int, epochs: int):
    """The UNIMAX greedy (Chung et al. 2023, "UniMax: Fairer and More
    Effective Language Sampling"): walk languages from SCARCEST to most
    plentiful; each gets min(n_l * epochs, fair share of the remaining
    budget), where the fair share is remaining // languages_left. Pure
    integer arithmetic — the same sequence the oracle's recursive CTE
    performs, so quotas match across engines. Driver-side over |langs|
    rows (dimension-sized, like ANN codebooks — never the corpus)."""
    ordered = sorted(counts, key=lambda t: (t[1], t[0]))
    remaining = budget
    out = {}
    for idx, (lang, n) in enumerate(ordered):
        share = remaining // (len(ordered) - idx)
        q = min(n * epochs, share)
        out[lang] = q
        remaining -= q
    return out


@query(
    "pipeline_unimax_budget",
    oracle=f"""
    WITH RECURSIVE stats AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             row_number() OVER (ORDER BY count(*), lang) AS i
      FROM documents GROUP BY lang
    ),
    k AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS total
      FROM stats
    ),
    alloc(i, quota, remaining) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             (SELECT (total * 4) // 5 FROM k)
      UNION ALL
      SELECT s.i,
             LEAST(s.n * {_UNIMAX_EPOCHS},
                   a.remaining // ((SELECT k FROM k) - a.i)),
             a.remaining
               - LEAST(s.n * {_UNIMAX_EPOCHS},
                       a.remaining // ((SELECT k FROM k) - a.i))
      FROM alloc a JOIN stats s ON s.i = a.i + 1
    ),
    quota AS (
      SELECT s.lang, a.quota FROM alloc a JOIN stats s USING (i)
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS sample_rank,
           CAST(q.quota AS BIGINT) AS lang_quota
    FROM ranked r JOIN quota q ON r.lang = q.lang
    WHERE r.rk <= q.quota
    """,
)
def pipeline_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIMAX language sampling: given a token/document budget (4/5 of
    the corpus here) and an epoch cap (1 — no language repeats), the
    greedy allocator gives every language from scarcest to most
    plentiful min(its whole data x epochs, a fair share of what's left).
    The modern alternative to temperature sampling
    (`pipeline_temperature_mix`): tail languages are never starved AND
    never over-repeated; only head languages are downsampled.

    Cross-engine exactness for an ITERATIVE allocation: Spark has no
    recursive CTE, so the greedy runs driver-side over the COLLECTED
    per-language counts (|langs| rows — dimension-sized), while the
    oracle expresses the identical integer recurrence as a DuckDB
    recursive CTE; both walk the same (count, lang) order, so the
    quotas agree exactly. Selection is the md5-rank permutation.

    Scale: counts are a map-side partial agg; the collect is |langs|;
    quotas broadcast back; one lang-hash shuffle for the rank window.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = [
        (r["lang"], r["n"])
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    ]
    total = sum(n for _, n in counts)
    quotas = unimax_quotas(counts, (total * 4) // 5, _UNIMAX_EPOCHS)
    quota_df = spark.createDataFrame(
        [(lang, q) for lang, q in quotas.items()], "lang string, quota long"
    )
    return _take_lang_quota(docs, quota_df, emit_quota=True)


# ---------------------------------------------------------------------------
# document chunking for retrieval (round 6)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # => 8-token overlap between neighbors


@query(
    "pipeline_chunk_documents",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(s AS BIGINT) AS chunk_start,
             w[s + 1 : s + {_CHUNK_SIZE}] AS c
      FROM tok, unnest(range(0, len(w), {_CHUNK_STRIDE})) AS t(s)
      WHERE len(w) > 0
    )
    SELECT doc_id, chunk_start,
           CAST(len(c) AS BIGINT) AS n_tokens,
           md5(array_to_string(c, ' ')) AS chunk_md5
    FROM chunks
    """,
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking — the RAG/embedding-prep
    step: split each document into 32-token chunks with a 24-token
    stride (8-token overlap so no boundary
    context is lost). Each chunk is pinned by the md5 of its joined
    text, so the oracle checks content, not just counts.

    Both engines tokenize once and explode chunk STARTS (an integer
    sequence), then slice the token array per start — the text column
    itself is never duplicated per chunk in the exchange (chunks are
    derived in the same projection that hashes them).

    Scale: embarrassingly parallel — tokenize + explode + slice in one
    narrow stage, no shuffle at all. Output rows ~ corpus_tokens /
    stride, each fixed-width.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.expr(_TOKENS).alias("w")
    ).filter(F.size("w") > 0)
    chunks = tok.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(0), F.size("w") - 1, F.lit(_CHUNK_STRIDE)
            )
        ).alias("chunk_start"),
    )
    c = F.slice("w", F.col("chunk_start") + 1, _CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(c).cast("long").alias("n_tokens"),
        F.md5(F.array_join(c, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# RAG ingestion composite: gate -> chunk -> chunk-dedup (round 6)
# ---------------------------------------------------------------------------

@query(
    "pipeline_rag_prep",
    oracle=f"""
    WITH {_G_SIGNALS_SQL},
    keep AS (SELECT doc_id FROM s WHERE {_G_KEEP_SQL}),
    ktok AS (
      SELECT t.doc_id, t.w FROM t JOIN keep USING (doc_id)
      WHERE len(t.w) > 0
    ),
    chunks AS (
      SELECT doc_id, CAST(cs AS BIGINT) AS chunk_start,
             md5(array_to_string(w[cs + 1 : cs + {_CHUNK_SIZE}], ' '))
               AS chunk_md5
      FROM ktok, unnest(range(0, len(w), {_CHUNK_STRIDE})) AS u(cs)
    ),
    ranked AS (
      SELECT doc_id, chunk_start, chunk_md5,
             row_number() OVER (
               PARTITION BY chunk_md5 ORDER BY doc_id, chunk_start
             ) AS rk,
             CAST(count(*) OVER (PARTITION BY chunk_md5) AS BIGINT)
               AS n_copies
      FROM chunks
    )
    SELECT doc_id, chunk_start, chunk_md5, n_copies
    FROM ranked WHERE rk = 1
    """,
)
def pipeline_rag_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG ingestion prep, composition oracle-checked like
    pipeline_funnel_report: Gopher-gate the documents (only quality
    docs are worth indexing), chunk the survivors
    (pipeline_chunk_documents' 32/24 overlapping windows), then
    EXACT-DEDUP the chunks on their md5 — overlapping strides and
    boilerplate make chunk-level duplicates common, and a retrieval
    index must embed each distinct chunk once. Survivors are the first
    occurrence in (doc_id, chunk_start) order; `n_copies` records how
    many duplicates each canonical chunk absorbed (the embedding-cost
    saving, auditable).

    Scale: gate + chunk ride the scan (zero shuffles, zero Python);
    the dedup is ONE hash shuffle on chunk_md5 — 32-byte keys, text
    never shuffles (the md5 is computed in the same projection that
    slices the chunk). Same fingerprint-only discipline as dedup.py.
    """
    gate = (
        pipeline_gopher_filters(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    chunks = pipeline_chunk_documents(spark, sf_dir).join(gate, "doc_id")
    w = W.partitionBy("chunk_md5").orderBy("doc_id", "chunk_start")
    ranked = chunks.select(
        "doc_id",
        "chunk_start",
        "chunk_md5",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1))
        .over(W.partitionBy("chunk_md5"))
        .cast("long")
        .alias("n_copies"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "doc_id", "chunk_start", "chunk_md5", "n_copies"
    )


@query(
    "pipeline_stratified_split",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rnk * 10 <= n * 8 THEN 'train'
                WHEN rnk * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def pipeline_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 80/10/10 train/val/test split, per
    language — the dataset-freeze step every training pipeline needs:
    reproducible across engines and re-runs (no RNG), stratified so
    low-resource languages keep their proportions in every split.

    Construction: rank docs inside each language by the md5(doc_id)
    permutation (the same deterministic shuffle the mix samplers use —
    md5 hex is identical in Spark and DuckDB), then cut at exact
    integer quotas: rank·10 ≤ n·8 → train, ≤ n·9 → val, else test.
    Integer cross-multiplication, no float thresholds.

    Scale: one hash shuffle on lang for the rank window; same skew
    note as _take_lang_quota — at 100 TB use the REGISTERED twin
    pipeline_stratified_split_hashcut (sampled md5-space quantile
    thresholds, hash-threshold assignment, no per-lang full sort) at
    the cost of ±sampling-error split sizes.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = docs.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("lang"))
    )
    return r.select(
        "doc_id",
        "lang",
        F.when(F.col("rnk") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rnk") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "pipeline_lang_rebalance_hashcut",
    oracle="""
    WITH k AS (
      SELECT CAST(min(cnt) AS BIGINT) AS k
      FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
    ),
    n AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang
    ),
    samp AS (
      SELECT lang, md5(CAST(doc_id AS VARCHAR)) AS h,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS m
      FROM documents
      WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
            % 4 = 0
    ),
    cut AS (
      SELECT n.lang,
             COALESCE(MAX(CASE WHEN s.rn =
                 LEAST(s.m, (k.k * s.m + n.n - 1) // n.n)
               THEN s.h END), 'g') AS t
      FROM n CROSS JOIN k LEFT JOIN samp s ON s.lang = n.lang
      GROUP BY n.lang
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN cut ON cut.lang = d.lang
    WHERE md5(CAST(d.doc_id AS VARCHAR)) <= cut.t
    """,
)
def pipeline_lang_rebalance_hashcut(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """pipeline_lang_rebalance's 100 TB form (the r8 rule: a
    docstring-promised scale swap must be a registered operator): the
    per-language top-K-by-md5 rank window is replaced by a HASH
    THRESHOLD from a sampled quantile of the md5 space — keep every doc
    whose md5(doc_id) permutation key is ≤ the language's cut. The cut
    is the ceil(K·m/n)-th smallest md5 in a deterministic 1-in-4 hash
    sample (m sampled of n docs, quota K = smallest language), so the
    whole construction is engine-exact and carries a FULL hash-exact
    oracle — only the SELECTION SIZE is approximate (±sampling error
    around K, containment-pinned in tests against the exact top-K: both
    sets are prefixes of the same md5 order, so one always contains the
    other).

    Scale: NO full-data sort anywhere — the fact scan is filter-only;
    the rank window runs over the 25% sample only (at 100 TB raise the
    sample modulus; the construction is rate-independent). A language
    the sample misses keeps all its docs (threshold sentinel 'g' > any
    hex) — deterministic on both engines.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.md5(F.col("doc_id").cast("string"))
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    k = counts.agg(F.min("n").cast("long").alias("k"))
    samp = docs.filter(
        md5_hash32_spark("cast(doc_id as string)", 4) == 0
    ).select("lang", h.alias("h"), "doc_id")
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    ranked = samp.select(
        "lang",
        "h",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("lang"))
        .cast("long")
        .alias("m"),
    )
    cut = (
        counts.crossJoin(F.broadcast(k))
        .join(ranked, "lang", "left")
        .groupBy("lang")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("rn")
                        == F.least(
                            F.col("m"),
                            F.expr("(k * m + n - 1) div n"),
                        ),
                        F.col("h"),
                    )
                ),
                F.lit("g"),
            ).alias("t")
        )
    )
    return (
        docs.join(F.broadcast(cut), "lang")
        .filter(h <= F.col("t"))
        .select("doc_id", "lang")
    )


@query(
    "pipeline_stratified_split_hashcut",
    oracle="""
    WITH samp AS (
      SELECT lang, md5(CAST(doc_id AS VARCHAR)) AS h,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS m
      FROM documents
      WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
            % 4 = 0
    ),
    langs AS (SELECT DISTINCT lang FROM documents),
    cut AS (
      SELECT langs.lang,
             COALESCE(MAX(CASE WHEN s.rn = GREATEST(1, (8 * s.m) // 10)
               THEN s.h END), 'g') AS t80,
             COALESCE(MAX(CASE WHEN s.rn = GREATEST(
                 GREATEST(1, (8 * s.m) // 10), (9 * s.m) // 10)
               THEN s.h END), 'g') AS t90
      FROM langs LEFT JOIN samp s ON s.lang = langs.lang
      GROUP BY langs.lang
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN md5(CAST(d.doc_id AS VARCHAR)) <= cut.t80 THEN 'train'
                WHEN md5(CAST(d.doc_id AS VARCHAR)) <= cut.t90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents d JOIN cut ON cut.lang = d.lang
    """,
)
def pipeline_stratified_split_hashcut(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """pipeline_stratified_split's 100 TB form (the r8 rule): the
    per-language rank window is replaced by two hash thresholds — the
    0.8 and 0.9 quantiles of the md5 permutation key, ESTIMATED as
    order statistics of a deterministic 1-in-4 hash sample — and every
    doc is assigned train/val/test by comparing its own md5 against
    the thresholds, a pure map-side projection. The construction is
    deterministic on both engines (FULL hash-exact oracle); only the
    split SIZES are approximate (±sampling error around 80/10/10,
    tolerance-pinned in tests against the exact split).

    Scale: the full corpus is never sorted — assignment is a broadcast
    join + string compare; the sample window is 25% of the data (raise
    the modulus at 100 TB). A language the sample misses lands wholly
    in 'train' (sentinel 'g'), deterministically.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.md5(F.col("doc_id").cast("string"))
    samp = docs.filter(
        md5_hash32_spark("cast(doc_id as string)", 4) == 0
    ).select("lang", h.alias("h"), "doc_id")
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    ranked = samp.select(
        "lang",
        "h",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("lang"))
        .cast("long")
        .alias("m"),
    )
    k80 = F.greatest(F.lit(1).cast("long"), F.expr("(8 * m) div 10"))
    k90 = F.greatest(k80, F.expr("(9 * m) div 10"))
    cut = (
        docs.select("lang")
        .distinct()
        .join(ranked, "lang", "left")
        .groupBy("lang")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("rn") == k80, F.col("h"))), F.lit("g")
            ).alias("t80"),
            F.coalesce(
                F.max(F.when(F.col("rn") == k90, F.col("h"))), F.lit("g")
            ).alias("t90"),
        )
    )
    return docs.join(F.broadcast(cut), "lang").select(
        "doc_id",
        "lang",
        F.when(h <= F.col("t80"), "train")
        .when(h <= F.col("t90"), "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "pipeline_length_deciles",
    oracle=f"""
    WITH {_G_SIGNALS_SQL},
    k AS (
      SELECT doc_id, n_words,
             CASE WHEN {_G_KEEP_SQL} THEN 1 ELSE 0 END AS keep,
             ntile(10) OVER (ORDER BY n_words, doc_id) AS decile
      FROM s
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(n_words) AS BIGINT) AS min_words,
           CAST(MAX(n_words) AS BIGINT) AS max_words,
           CAST(SUM(keep) AS BIGINT) AS n_keep,
           CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS keep_rate
    FROM k GROUP BY decile
    """,
)
def pipeline_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-decile report: documents cut into 10 equal-count
    bands by word count, with per-band token totals, word-count range,
    and the Gopher keep-rate — the "where does the quality gate bite"
    diagnostic (short-doc deciles fail the min-words rule, long-tail
    deciles fail symbol/length rules) a curation team reads before
    tuning thresholds.

    Determinism: ntile over the unique (n_words, doc_id) order is
    identical in both engines (same extra-row-to-early-buckets rule);
    counts and token sums are exact integers, keep_rate one IEEE
    division.

    Scale: signals are a Catalyst projection; decile assignment rides
    global_ntile (functions/ranks.py) — the two-phase prefix-sum
    NTILE, bit-identical to the oracle's global window (same band
    edges) with no single-partition sort.
    """
    from redisgears_spark.functions.ranks import global_ntile

    # scratch: the rank machinery's stats + gather jobs and the final
    # plan each re-derive their input — without it the gopher-filter
    # corpus pass runs three times
    sig = scratch_parquet(
        pipeline_gopher_filters(spark, sf_dir).select(
            "doc_id", "n_words", F.col("keep").cast("int").alias("keep")
        ),
        "len-deciles",
    )
    k = global_ntile(sig, 10, "n_words", "doc_id", "decile")
    return k.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        F.sum("keep").cast("long").alias("n_keep"),
        (F.sum("keep").cast("double") / F.count(F.lit(1))).alias(
            "keep_rate"
        ),
    )


@query(
    "pipeline_contamination_by_source",
    oracle=f"""
    WITH {_DECON_GRAMS_CTE},
    eg AS (SELECT DISTINCT md5(g) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    tg AS (SELECT DISTINCT doc_id, md5(g) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
    dirty AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (gh))
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(COUNT(dd.doc_id) AS BIGINT) AS n_contaminated,
           CAST(COUNT(dd.doc_id) AS DOUBLE) / COUNT(*)
             AS contamination_rate
    FROM documents d LEFT JOIN dirty dd ON dd.doc_id = d.doc_id
    WHERE d.doc_id % {_DECON_EVAL_MOD} <> 0
    GROUP BY d.source
    """,
)
def pipeline_contamination_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contamination rate per corpus source: which ingest feeds leak
    benchmark 5-grams — the triage view on top of
    `pipeline_decontaminate`'s per-document verdicts (a whole source
    with a high rate gets dropped or re-scraped; a uniform low rate is
    benign overlap).

    Exactness: counts are exact integers; the rate is one IEEE
    division. Composes the registered decontaminate operator rather
    than re-implementing the gram join, so the verdicts here are
    exactly the funnel's.

    Scale: the gram join is pipeline_decontaminate's shape (32-byte
    fingerprints, never text); this adds one |train docs|-row join to
    the source column and a map-side rollup to |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    verdicts = pipeline_decontaminate(spark, sf_dir).select(
        "doc_id", F.col("contaminated").cast("int").alias("c")
    )
    return (
        verdicts.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum("c").cast("long").alias("n_contaminated"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
                "contamination_rate"
            ),
        )
    )


@query(
    "pipeline_source_quality_matrix",
    oracle=f"""
    WITH {_G_SIGNALS_SQL}
    SELECT d.source, d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {_G_KEEP_SQL} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(CASE WHEN {_G_KEEP_SQL} THEN n_words ELSE 0 END)
                AS BIGINT) AS kept_words,
           CAST(SUM(CASE WHEN {_G_KEEP_SQL} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS keep_rate
    FROM s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source, d.lang
    """,
)
def pipeline_source_quality_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curation planning matrix: per (source, language) the Gopher
    keep rate and the token budget it leaves behind — the table that
    decides which sources are worth template-stripping before the
    mix-weights (pipeline_domain_mix / unimax) are computed, because
    a 20 % keep-rate source contributes 5x less than its raw size
    suggests.

    Exactness: reuses pipeline_gopher_filters' signal relation
    verbatim (same CTE text in the oracle), so the per-doc verdicts
    here and in the per-doc report cannot disagree; counts and word
    sums are integers, keep_rate is ONE division.

    Scale: the signal projection is zero-shuffle codegen over the
    scan; the metadata join is on doc_id (both sides carry only ids +
    small ints — text never moves); the rollup reduces map-side to
    |sources| x |langs| rows.
    """
    sig = pipeline_gopher_filters(spark, sf_dir).select(
        "doc_id", "n_words", "keep"
    )
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    return (
        sig.join(meta, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(0))
            .cast("long")
            .alias("kept_words"),
            (
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("keep_rate"),
        )
    )


@query(
    "pipeline_quality_violation_curve",
    oracle=f"""
    WITH {_G_SIGNALS_SQL},
    r AS (
      SELECT doc_id, n_words,
             CAST(bit_count(CAST(
               CASE WHEN n_words < {_G_MIN_WORDS} THEN 1 ELSE 0 END
             + CASE WHEN n_words > {_G_MAX_WORDS} THEN 2 ELSE 0 END
             + CASE WHEN mean_word_len IS NULL OR mean_word_len < {_G_MIN_MWL}
                         OR mean_word_len > {_G_MAX_MWL} THEN 4 ELSE 0 END
             + CASE WHEN symbol_ratio IS NULL
                         OR symbol_ratio > {_G_MAX_SYMBOL_RATIO} THEN 8 ELSE 0 END
             + CASE WHEN NOT has_stopword THEN 16 ELSE 0 END
             AS BIGINT)) AS BIGINT) AS n_violations
      FROM s
    ),
    h AS (
      SELECT n_violations,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_tokens
      FROM r GROUP BY n_violations
    )
    SELECT n_violations, n_docs, n_tokens,
           CAST(SUM(n_docs) OVER (ORDER BY n_violations
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS docs_at_or_below,
           CAST(SUM(n_tokens) OVER (ORDER BY n_violations
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS tokens_at_or_below
    FROM h
    """,
)
def pipeline_quality_violation_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-gate tolerance curve: documents and tokens by HOW MANY
    Gopher rules they violate, with cumulative totals at each tolerance
    — the table that prices a "keep docs failing <= 1 rule" relaxation
    BEFORE anyone reruns the corpus (the dedup threshold-histogram
    idiom applied to the quality gate).

    Exactness: composes pipeline_gopher_filters' registered reasons
    bitmask verbatim (same CASE sum in the oracle), so a violation here
    and in the per-doc report cannot disagree; the violation count is
    bit_count over that integer; the cumulative window runs over <= 6
    rows.

    Scale: the signal projection is the registered operator's
    zero-shuffle codegen scan; everything after the first aggregate is
    constant-sized.
    """
    sig = pipeline_gopher_filters(spark, sf_dir).select(
        "n_words", F.bit_count("reasons").cast("long").alias("n_violations")
    )
    h = sig.groupBy("n_violations").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )
    w = W.orderBy("n_violations").rowsBetween(W.unboundedPreceding, W.currentRow)
    return h.select(
        "n_violations",
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).cast("long").alias("docs_at_or_below"),
        F.sum("n_tokens").over(w).cast("long").alias("tokens_at_or_below"),
    )


# ---------------------------------------------------------------------------
# round 10: leakage-safe entity-level holdout
# ---------------------------------------------------------------------------


@query(
    "pipeline_user_holdout_split",
    oracle=f"""
    WITH tagged AS (
      SELECT CASE
               WHEN {md5_hash32_sql("CAST(user_id AS VARCHAR)", 10)} < 8
                 THEN 'train'
               WHEN {md5_hash32_sql("CAST(user_id AS VARCHAR)", 10)} = 8
                 THEN 'val'
               ELSE 'test'
             END AS split,
             user_id,
             CAST(round(value * 100) AS BIGINT) AS v_c
      FROM events
    )
    SELECT split,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_c) AS BIGINT) AS value_c
    FROM tagged GROUP BY split
    """,
)
def pipeline_user_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 holdout: events are split by a hash of the
    USER, not the event — every user's full history lands in exactly one
    split, so evaluation never sees training users (the entity-level
    rule behavioral/recommendation corpora require; event-level random
    splits leak identity features across the boundary).

    Deterministic and engine-exact: split = md5(user_id) mod 10 →
    {{0..7 train, 8 val, 9 test}} — the same assignment on any engine,
    any run, any cluster size, and STABLE under corpus growth (a user's
    split never changes when new events arrive, unlike fraction-based
    sampling).

    Scale: the split tag is a map-side projection (zero shuffle); the
    audit aggregate shuffles once on the 3-row split key with a
    distinct-user rollup riding the same exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = md5_hash32_spark("cast(user_id as string)", 10)
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        ev.select(
            split.alias("split"),
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("v_c"),
        )
        .groupBy("split")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("v_c").cast("long").alias("value_c"),
        )
    )


@query(
    "pipeline_epoch_repeat_plan",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS tokens
      FROM documents GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM s
    )
    SELECT source, n_docs, tokens,
           (2 * t.total) // t.n_sources AS budget_share,
           CASE WHEN tokens = 0 THEN CAST(0 AS BIGINT)
                ELSE LEAST(4, ((2 * t.total) // t.n_sources) // tokens)
           END AS epochs,
           CASE WHEN tokens = 0 THEN CAST(0 AS BIGINT)
                ELSE LEAST(4, ((2 * t.total) // t.n_sources) // tokens)
           END * tokens AS tokens_used,
           (2 * t.total) // t.n_sources
             - CASE WHEN tokens = 0 THEN CAST(0 AS BIGINT)
                    ELSE LEAST(4,
                         ((2 * t.total) // t.n_sources) // tokens)
               END * tokens
             AS budget_left
    FROM s, t
    """,
)
def pipeline_epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planning (the Muennighoff-et-al recipe: when
    the token budget exceeds the corpus, repeat data up to ~4 epochs
    before repetition stops helping): give each source an equal slice of
    a 2×-corpus budget and compute the integer number of whole epochs it
    can run, capped at 4. Every column is integer arithmetic (floor
    divisions, LEAST) — a plan you can hand to a scheduler with no
    rounding ambiguity; `budget_left` is the slice residue a second
    allocation pass could redistribute.

    Scale: one token-count aggregate per source (map-side explode-free
    `size(...)`), one scalar total broadcast back.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr(f"size({_TOKENS})")).cast("long").alias("tokens"),
    )
    t = s.agg(
        F.sum("tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    j = s.crossJoin(t)
    budget = F.expr("(2 * total) div n_sources")
    # tokens = 0 would NULL the integer division in both engines and
    # LEAST would skip the NULL (epochs=4 for an empty source); plan 0
    # epochs instead so the no-NULL output contract holds (ADVICE r10)
    epochs = F.when(F.col("tokens") == 0, F.lit(0).cast("long")).otherwise(
        F.least(F.lit(4).cast("long"), F.expr(
            "((2 * total) div n_sources) div tokens"
        ))
    )
    return j.select(
        "source",
        "n_docs",
        "tokens",
        budget.alias("budget_share"),
        epochs.alias("epochs"),
        (epochs * F.col("tokens")).alias("tokens_used"),
        (budget - epochs * F.col("tokens")).alias("budget_left"),
    )


@query(
    "pipeline_hash_sample_calibration",
    oracle=f"""
    WITH h AS (
      SELECT {md5_hash32_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM h)
    SELECT k AS one_in_k,
           t.total,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM h WHERE h % k = 0)
             AS n_sampled,
           CAST((SELECT CAST(COUNT(*) AS BIGINT) FROM h WHERE h % k = 0)
                * k AS DOUBLE) / t.total AS realized_over_nominal
    FROM (VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT)),
                 (CAST(16 AS BIGINT)), (CAST(64 AS BIGINT))) AS ks(k), t
    """,
)
def pipeline_hash_sample_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calibration table for deterministic hash sampling (the h%k==0
    rule every sampling operator in this repo uses): realized sample
    size vs nominal 1/k at k = 2/4/16/64, as the cross-multiplied exact
    ratio n·k/total. A reading far from 1.0 would mean the 32-bit md5
    prefix is biased over this id space — the check you run ONCE per
    key universe before trusting hash-sampled estimates at 100 TB.

    Scale: one hash projection, four conditional counts folded
    map-side; no shuffle beyond the scalar folds.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        md5_hash32_spark("CAST(doc_id AS STRING)").alias("h")
    )
    t = h.agg(F.count(F.lit(1)).cast("long").alias("total"))
    parts = []
    for k in (2, 4, 16, 64):
        n = h.filter(F.col("h") % k == 0).agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled")
        )
        parts.append(
            n.crossJoin(t).select(
                F.lit(k).cast("long").alias("one_in_k"),
                "total",
                "n_sampled",
                (
                    (F.col("n_sampled") * k).cast("double")
                    / F.col("total")
                ).alias("realized_over_nominal"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "pipeline_length_filter_sensitivity",
    oracle=f"""
    WITH t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
             CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens
      FROM documents
    )
    SELECT k AS min_chars,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE n_chars >= k) AS n_kept,
           CAST((SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                 WHERE n_chars >= k) AS DOUBLE) / t.total_docs
             AS doc_share,
           (SELECT CAST(SUM(len({_TOKENS_SQL})) AS BIGINT)
            FROM documents WHERE n_chars >= k) AS tokens_kept,
           CAST((SELECT CAST(SUM(len({_TOKENS_SQL})) AS BIGINT)
                 FROM documents WHERE n_chars >= k) AS DOUBLE)
             / t.total_tokens AS token_share
    FROM (VALUES (CAST(64 AS BIGINT)), (CAST(128 AS BIGINT)),
                 (CAST(256 AS BIGINT)), (CAST(512 AS BIGINT))) AS ks(k), t
    """,
)
def pipeline_length_filter_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What does each candidate min-length gate cost? Documents and
    tokens surviving at thresholds 64/128/256/512 chars — the
    sensitivity curve read BEFORE fixing a Gopher-style length filter
    (the doc_share/token_share divergence shows whether the gate
    removes mass or just noise: dropping 20 % of docs but 2 % of
    tokens is cheap; the reverse is not).

    Scale: one pass computes per-doc (n_chars, token count) map-side;
    the four thresholds are conditional folds over it.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "n_chars", F.expr(f"size({_TOKENS})").cast("long").alias("tok")
    )
    t = base.agg(
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
    )
    parts = []
    for k in (64, 128, 256, 512):
        kept = base.filter(F.col("n_chars") >= k).agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.coalesce(F.sum("tok"), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        parts.append(
            kept.crossJoin(t).select(
                F.lit(k).cast("long").alias("min_chars"),
                "n_kept",
                (
                    F.col("n_kept").cast("double") / F.col("total_docs")
                ).alias("doc_share"),
                "tokens_kept",
                (
                    F.col("tokens_kept").cast("double")
                    / F.col("total_tokens")
                ).alias("token_share"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.select(
        "min_chars", "n_kept", "doc_share", "tokens_kept", "token_share"
    )


@query(
    "pipeline_post_dedup_mixture_shift",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source,
             len({_TOKENS_SQL}) AS tok,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS fingerprint
      FROM documents
    ),
    keep AS (
      SELECT fingerprint, MIN(doc_id) AS keep_doc_id
      FROM fp GROUP BY 1
    ),
    s AS (
      SELECT f.source,
             CAST(SUM(f.tok) AS BIGINT) AS tokens_before,
             CAST(SUM(CASE WHEN f.doc_id = k.keep_doc_id
                           THEN f.tok ELSE 0 END) AS BIGINT)
               AS tokens_after
      FROM fp f JOIN keep k ON k.fingerprint = f.fingerprint
      GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(tokens_before) AS BIGINT) AS tb,
                 CAST(SUM(tokens_after) AS BIGINT) AS ta FROM s)
    SELECT s.source, s.tokens_before, s.tokens_after,
           CAST(s.tokens_before AS DOUBLE) / t.tb AS share_before,
           CAST(s.tokens_after AS DOUBLE) / t.ta AS share_after,
           CAST(s.tokens_after AS DOUBLE) / t.ta
             - CAST(s.tokens_before AS DOUBLE) / t.tb AS share_shift
    FROM s, t
    """,
)
def pipeline_post_dedup_mixture_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The downstream consequence pipeline_dedup_survivorship warns
    about, measured in the unit that matters: each source's TOKEN share
    of the mixture before vs after exact dedup (keep-lowest policy).
    `share_shift` is the silent reweighting dedup applies to the
    training mixture — a designer who tuned domain weights pre-dedup is
    actually training on these post-dedup shares.

    Scale: the fingerprint shuffle carries (md5, doc_id, source,
    token-count); the keeper join is fingerprint-keyed; rollup to
    |sources| rows and one scalar broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp_col = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    fp = docs.select(
        "doc_id",
        "source",
        F.expr(f"size({_TOKENS})").cast("long").alias("tok"),
        fp_col.alias("fingerprint"),
    )
    keep = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id")
    )
    s = (
        fp.join(keep, "fingerprint")
        .groupBy("source")
        .agg(
            F.sum("tok").cast("long").alias("tokens_before"),
            F.sum(
                F.when(
                    F.col("doc_id") == F.col("keep_doc_id"), F.col("tok")
                ).otherwise(0)
            ).cast("long").alias("tokens_after"),
        )
    )
    t = s.agg(
        F.sum("tokens_before").cast("long").alias("tb"),
        F.sum("tokens_after").cast("long").alias("ta"),
    )
    before = F.col("tokens_before").cast("double") / F.col("tb")
    after = F.col("tokens_after").cast("double") / F.col("ta")
    return s.crossJoin(t).select(
        "source",
        "tokens_before",
        "tokens_after",
        before.alias("share_before"),
        after.alias("share_after"),
        (after - before).alias("share_shift"),
    )


@query(
    "pipeline_funnel_by_lang",
    oracle=f"""
    WITH {_G_SIGNALS_SQL},
    dl AS (SELECT doc_id, lang FROM documents),
    q AS (SELECT doc_id, n_words FROM s WHERE {_G_KEEP_SQL}),
    fp AS (SELECT doc_id,
                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
           FROM documents),
    surv AS (
      SELECT doc_id, n_words FROM (
        SELECT q.doc_id, q.n_words,
               MIN(q.doc_id) OVER (PARTITION BY fp.f) AS keeper
        FROM q JOIN fp ON q.doc_id = fp.doc_id
      ) WHERE doc_id = keeper
    ),
    {_DECON_GRAMS_CTE},
    eg AS (SELECT DISTINCT md5(g) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN eg ON md5(g.g) = eg.gh
              WHERE g.doc_id % {_DECON_EVAL_MOD} <> 0),
    clean AS (
      SELECT doc_id, n_words FROM surv
      WHERE doc_id % {_DECON_EVAL_MOD} <> 0
        AND doc_id NOT IN (SELECT doc_id FROM dirty)
    )
    SELECT stage, lang, n_docs, n_tokens FROM (
      SELECT 'raw' AS stage, dl.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(s.n_words), 0) AS BIGINT) AS n_tokens
      FROM s JOIN dl ON dl.doc_id = s.doc_id GROUP BY 2
      UNION ALL
      SELECT 'quality', dl.lang, CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(q.n_words), 0) AS BIGINT)
      FROM q JOIN dl ON dl.doc_id = q.doc_id GROUP BY 2
      UNION ALL
      SELECT 'dedup', dl.lang, CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(surv.n_words), 0) AS BIGINT)
      FROM surv JOIN dl ON dl.doc_id = surv.doc_id GROUP BY 2
      UNION ALL
      SELECT 'decontaminated', dl.lang, CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(clean.n_words), 0) AS BIGINT)
      FROM clean JOIN dl ON dl.doc_id = clean.doc_id GROUP BY 2
    )
    """,
)
def pipeline_funnel_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel split by language: per-lang doc and token
    counts at each stage (raw → Gopher gate → exact-dedup survivors →
    decontaminated) — the fairness view of pipeline_funnel_report. A
    language whose survival rate lags the corpus average is being
    disproportionately filtered (quality rules tuned on English, dup
    mirrors concentrated in one language), and the rebalance quota math
    downstream silently inherits that bias.

    Built from the SAME cached _funnel_index signals as the global
    funnel (one lang join added), so the per-lang report costs one
    doc-grain join (strategy left to AQE — document-grain relations are
    fact-sized at 100 TB, never broadcast-hinted) and four skinny
    rollups, not a signal recomputation.
    """
    idx = _funnel_index(spark, sf_dir)
    dl = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # dl is DOCUMENT-grain (one row per corpus document) — never hint it
    # broadcast: at 100 TB it is fact-sized, and the hint would both blow
    # the broadcast limit and pin AQE out of its shuffle-join fallback.
    # Leave the strategy to AQE (the pipeline_decontaminate pattern).
    j = idx.join(dl, "doc_id")

    # r13 single-pass: the four stage rollups were four union branches,
    # each re-running the idx⋈dl join (and two of them the dedup-keeper
    # window). ONE window + ONE conditional-sum aggregate computes every
    # stage; the per-stage rows explode from the lang row. min(CASE)
    # over the fingerprint partition picks the keeper among keep rows
    # only — exactly the filtered window the oracle's surv CTE runs.
    keeper = F.min(F.when(F.col("keep"), F.col("doc_id"))).over(
        W.partitionBy("f")
    )
    d = j.withColumn(
        "is_surv", F.col("keep") & (F.col("doc_id") == keeper)
    )

    def _cnt(cond):
        return F.coalesce(
            F.sum(F.when(cond, 1)), F.lit(0)
        ).cast("long")

    def _tok(cond):
        return F.coalesce(
            F.sum(F.when(cond, F.col("n_words"))), F.lit(0)
        ).cast("long")

    true = F.lit(True)
    per = d.groupBy("lang").agg(
        _cnt(true).alias("c_raw"),
        _tok(true).alias("t_raw"),
        _cnt(F.col("keep")).alias("c_q"),
        _tok(F.col("keep")).alias("t_q"),
        _cnt(F.col("is_surv")).alias("c_s"),
        _tok(F.col("is_surv")).alias("t_s"),
        _cnt(F.col("is_surv") & F.col("clean")).alias("c_c"),
        _tok(F.col("is_surv") & F.col("clean")).alias("t_c"),
    )
    return (
        per.select(
            "lang",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("raw").alias("stage"),
                        F.col("c_raw").alias("n_docs"),
                        F.col("t_raw").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("quality").alias("stage"),
                        F.col("c_q").alias("n_docs"),
                        F.col("t_q").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("dedup").alias("stage"),
                        F.col("c_s").alias("n_docs"),
                        F.col("t_s").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("decontaminated").alias("stage"),
                        F.col("c_c").alias("n_docs"),
                        F.col("t_c").alias("n_tokens"),
                    ),
                )
            ).alias("r"),
        )
        # a lang with zero rows at a stage has NO row for that stage in
        # the union form (GROUP BY over an empty subset) — match it
        .filter(F.col("r.n_docs") > 0)
        .select("r.stage", "lang", "r.n_docs", "r.n_tokens")
    )


@query(
    "pipeline_quality_lang_quota_feasibility",
    oracle=f"""
    WITH {_G_SIGNALS_SQL},
    dl AS (SELECT doc_id, lang FROM documents),
    k AS (
      SELECT CAST(min(cnt) AS BIGINT) AS k
      FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
    ),
    per AS (
      SELECT dl.lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN {_G_KEEP_SQL} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality
      FROM s JOIN dl ON dl.doc_id = s.doc_id
      GROUP BY 1
    )
    SELECT lang, n_docs, n_quality, k.k AS quota,
           n_quality >= k.k AS feasible,
           CAST(n_quality AS DOUBLE) / k.k AS fill_rate
    FROM per, k
    """,
)
def pipeline_quality_lang_quota_feasibility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does the uniform rebalance quota survive the quality gate? Per
    language: docs passing the Gopher rules vs the downsample-to-min
    quota K (pipeline_lang_rebalance's target). A language with
    feasible=false cannot fill its quota from quality-passing docs —
    the mix either shrinks to the new minimum or admits below-gate
    documents; fill_rate says by how much. This is the check that runs
    BETWEEN the gate and the sampler, before any downsampling executes.

    Scale: the gate signals are one Catalyst projection; the report is
    |langs| rows with a broadcast scalar quota.
    """
    sig = pipeline_gopher_filters(spark, sf_dir).select("doc_id", "keep")
    dl = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # dl is document-grain: no broadcast hint (see pipeline_funnel_by_lang)
    per = (
        sig.join(dl, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias(
                "n_quality"
            ),
        )
    )
    k = dl.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).agg(
        F.min("c").cast("long").alias("quota")
    )
    return per.crossJoin(F.broadcast(k)).select(
        "lang",
        "n_docs",
        "n_quality",
        "quota",
        (F.col("n_quality") >= F.col("quota")).alias("feasible"),
        (F.col("n_quality").cast("double") / F.col("quota")).alias(
            "fill_rate"
        ),
    )


@query(
    "pipeline_survivor_policy_delta",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM documents
    ),
    cl AS (
      SELECT f,
             CAST(COUNT(*) AS BIGINT) AS sz,
             CAST(MIN(doc_id) AS BIGINT) AS first_id,
             CAST(MAX(n_chars) AS BIGINT) AS max_chars
      FROM fp GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    pick AS (
      SELECT cl.f, cl.first_id,
             (SELECT MIN(doc_id) FROM fp
              WHERE fp.f = cl.f AND fp.n_chars = cl.max_chars)
               AS longest_id,
             (SELECT n_chars FROM fp WHERE fp.doc_id = cl.first_id)
               AS first_chars,
             cl.max_chars
      FROM cl
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_multi_clusters,
           CAST(COALESCE(SUM(CASE WHEN first_id <> longest_id
                                  THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_policy_disagree,
           CAST(COALESCE(SUM(first_chars), 0) AS BIGINT)
             AS keep_first_chars,
           CAST(COALESCE(SUM(max_chars), 0) AS BIGINT)
             AS keep_longest_chars,
           CAST(COALESCE(SUM(max_chars), 0)
                - COALESCE(SUM(first_chars), 0) AS BIGINT)
             AS chars_gained_by_longest
    FROM pick
    """,
)
def pipeline_survivor_policy_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup survivor-policy audit: for every multi-document duplicate
    cluster, compare the KEEP-FIRST survivor (min doc_id — the repo's
    default, stable under re-ingest) against KEEP-LONGEST (max n_chars,
    doc_id tiebreak — the content-preserving choice): how many clusters
    disagree and how much character mass the corpus would gain by
    switching. On exact duplicates the texts are identical post-
    normalization, so a nonzero delta measures WHITESPACE-ONLY length
    variation — small deltas justify the cheaper stable policy.

    Scale: fingerprint-grain aggregates only (the same 24-byte shuffle
    as dedup_exact); the survivor re-lookup joins cluster rows, never
    text.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
        .alias("f"),
    )
    cl = (
        fp.groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sz"),
            F.min("doc_id").cast("long").alias("first_id"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .filter(F.col("sz") >= 2)
    )
    longest = (
        fp.join(cl.select("f", "max_chars"), "f")
        .filter(F.col("n_chars") == F.col("max_chars"))
        .groupBy("f")
        .agg(F.min("doc_id").cast("long").alias("longest_id"))
    )
    first_chars = (
        fp.join(cl.select("f", "first_id"), "f")
        .filter(F.col("doc_id") == F.col("first_id"))
        .select("f", F.col("n_chars").cast("long").alias("first_chars"))
    )
    pick = cl.join(longest, "f").join(first_chars, "f")
    # a dup-free corpus aggregates an empty relation — coalesce every
    # sum to 0 so the no-NULL output contract holds (the
    # epoch_repeat_plan lesson), mirrored in the oracle
    return pick.agg(
        F.count(F.lit(1)).cast("long").alias("n_multi_clusters"),
        F.coalesce(
            F.sum((F.col("first_id") != F.col("longest_id")).cast("long")),
            F.lit(0),
        ).cast("long").alias("n_policy_disagree"),
        F.coalesce(F.sum("first_chars"), F.lit(0))
        .cast("long").alias("keep_first_chars"),
        F.coalesce(F.sum("max_chars"), F.lit(0))
        .cast("long").alias("keep_longest_chars"),
        (
            F.coalesce(F.sum("max_chars"), F.lit(0))
            - F.coalesce(F.sum("first_chars"), F.lit(0))
        ).cast("long").alias("chars_gained_by_longest"),
    )


def _grams3_kernel(batches):
    import pandas as pd

    for pdf in batches:
        ns: list = []
        ids: list = []
        gs: list = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            w = _tokens_py(text)
            for n in (3, 5, 8):
                for i in range(len(w) - (n - 1)):
                    ns.append(n)
                    ids.append(doc_id)
                    gs.append(" ".join(w[i:i + n]))
        yield pd.DataFrame({"n": ns, "doc_id": ids, "g": gs})


@query(
    "pipeline_contamination_gram_sensitivity",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    g AS (
      SELECT n, doc_id, gram FROM (
        SELECT 3 AS n, doc_id,
               unnest([array_to_string(w[i:i+2], ' ')
                       for i in generate_series(1, len(w) - 2)]) AS gram
        FROM tok WHERE len(w) >= 3
        UNION ALL
        SELECT 5, doc_id,
               unnest([array_to_string(w[i:i+4], ' ')
                       for i in generate_series(1, len(w) - 4)])
        FROM tok WHERE len(w) >= 5
        UNION ALL
        SELECT 8, doc_id,
               unnest([array_to_string(w[i:i+7], ' ')
                       for i in generate_series(1, len(w) - 7)])
        FROM tok WHERE len(w) >= 8
      )
    ),
    eg AS (SELECT DISTINCT n, md5(gram) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    tg AS (SELECT DISTINCT n, doc_id, md5(gram) AS gh FROM g
           WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
    dirty AS (SELECT DISTINCT tg.n, tg.doc_id
              FROM tg JOIN eg ON eg.n = tg.n AND eg.gh = tg.gh),
    train AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train
              FROM documents WHERE doc_id % {_DECON_EVAL_MOD} <> 0)
    SELECT CAST(ns.n AS BIGINT) AS gram_n,
           train.n_train AS n_train_docs,
           CAST(COALESCE((SELECT COUNT(*) FROM dirty
                          WHERE dirty.n = ns.n), 0) AS BIGINT)
             AS n_contaminated,
           CAST(COALESCE((SELECT COUNT(*) FROM dirty
                          WHERE dirty.n = ns.n), 0) AS DOUBLE)
             / train.n_train AS contamination_rate
    FROM (VALUES (3), (5), (8)) AS ns(n), train
    """,
)
def pipeline_contamination_gram_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination threshold sensitivity: the contaminated-document
    rate at 3-, 5-, and 8-gram overlap against the held-out eval slice
    (the repo's doc_id % 13 == 0 rule). 3-grams over-flag (common
    phrases), 8-grams under-flag (only verbatim passages) — the spread
    between the three rates is the decision evidence for the production
    gram size, measured on THIS corpus rather than inherited from a
    paper.

    Scale: ONE Arrow pass tokenizes each document once and emits all
    three gram streams tagged by n (the _gram_rows lesson — the text
    never re-tokenizes per n); exchanges carry (n, doc_id, md5) only.
    """
    docs = rebalanced(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    g = docs.mapInPandas(
        _grams3_kernel, "n int, doc_id long, g string"
    ).select("n", "doc_id", F.md5("g").alias("gh"))
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    eg = g.filter(is_eval).select("n", "gh").distinct()
    tg = g.filter(~is_eval).select("n", "doc_id", "gh").distinct()
    dirty = (
        tg.join(eg, ["n", "gh"])
        .select("n", "doc_id")
        .distinct()
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    train = (
        load_table(spark, sf_dir, "documents")
        .filter(~is_eval)
        .agg(F.count(F.lit(1)).cast("long").alias("n_train_docs"))
    )
    ns = spark.createDataFrame([(3,), (5,), (8,)], "gram_n long")
    return (
        ns.join(
            F.broadcast(dirty),
            ns["gram_n"] == dirty["n"].cast("long"),
            "left",
        )
        .crossJoin(F.broadcast(train))
        .select(
            "gram_n",
            "n_train_docs",
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_train_docs")
            ).alias("contamination_rate"),
        )
    )


@query(
    "pipeline_incremental_stats_merge",
    oracle=f"""
    WITH t AS (
      SELECT lang, n_chars,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS tok
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(tok) AS DOUBLE) / COUNT(*) AS mean_tokens,
           CAST(COUNT(*) * SUM(tok * tok) - SUM(tok) * SUM(tok) AS DOUBLE)
             / (COUNT(*) * COUNT(*)) AS var_tokens
    FROM t GROUP BY lang
    """,
)
def pipeline_incremental_stats_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incrementally-maintained corpus statistics — the associative
    merge law made explicit: per-language curation stats (doc count,
    token totals, char totals/extrema, mean and population variance of
    tokens-per-doc) are computed as BASE partials (every source except
    src18/src19) and INCREMENT partials (the same increment scenario as
    the rest of the round-12 incremental family), then MERGED with pure
    integer associativity (sum-of-sums, min-of-mins, max-of-maxes,
    sum-of-squares for the variance) — the exact shape a production
    pipeline stores as saved state and folds each new batch into,
    never rescanning the corpus. The DuckDB oracle computes the SAME
    stats in one pass over the full corpus: hash-exactness IS the merge
    law (partials-then-merge ≡ recompute, bit for bit).

    Exactness: all partials are exact integers; mean is one IEEE
    division; variance is computed as (n·Σx² − (Σx)²) / n² — exact
    integer numerator and denominator, ONE IEEE division, no
    running-mean float accumulation on either engine. At 100 TB the
    int64 headroom for n·Σx² warrants DECIMAL(38,0) partials — same
    associativity, documented swap.

    Scale: two map-side partial aggregates (Catalyst already partials
    within each), a 2×|langs|-row union, and a |langs|-row merge —
    the reduce state is O(langs), the corpus is read once (and in
    production the base leg is a saved table, not a scan).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.size(F.expr(_TOKENS)).cast("long").alias("tok"),
        F.col("source").isin("src18", "src19").alias("is_new"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("tok").cast("long").alias("s_tok"),
            F.sum(F.col("tok") * F.col("tok")).cast("long").alias("ss_tok"),
            F.sum("n_chars").cast("long").alias("s_chars"),
            F.min("n_chars").cast("long").alias("mn_chars"),
            F.max("n_chars").cast("long").alias("mx_chars"),
        )

    merged = (
        partials(docs.filter(~F.col("is_new")))
        .unionByName(partials(docs.filter(F.col("is_new"))))
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s_tok").cast("long").alias("s_tok"),
            F.sum("ss_tok").cast("long").alias("ss_tok"),
            F.sum("s_chars").cast("long").alias("s_chars"),
            F.min("mn_chars").cast("long").alias("mn_chars"),
            F.max("mx_chars").cast("long").alias("mx_chars"),
        )
    )
    return merged.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("s_tok").alias("total_tokens"),
        F.col("s_chars").alias("total_chars"),
        F.col("mn_chars").alias("min_chars"),
        F.col("mx_chars").alias("max_chars"),
        (F.col("s_tok").cast("double") / F.col("n")).alias("mean_tokens"),
        (
            (
                F.col("n") * F.col("ss_tok")
                - F.col("s_tok") * F.col("s_tok")
            ).cast("double")
            / (F.col("n") * F.col("n"))
        ).alias("var_tokens"),
    )


@query(
    "pipeline_increment_report",
    oracle="""
    WITH incr AS (
      SELECT doc_id, source, text FROM documents
      WHERE source IN ('src18', 'src19')
    ),
    base_fp AS (
      SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS fp
      FROM documents WHERE source NOT IN ('src18', 'src19')
    ),
    exact_dups AS (
      SELECT doc_id, source FROM incr
      WHERE md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
            IN (SELECT fp FROM base_fp)
    ),
    docs AS (
      SELECT doc_id, source,
             CASE WHEN len(ws) >= 3 THEN
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              for i in generate_series(1, len(ws) - 2)])
             ELSE [''] END AS sh
      FROM (SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents)
    ),
    ex AS (SELECT doc_id, source, unnest(sh) AS s FROM docs),
    sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
    sh_pairs AS (
      SELECT a.doc_id AS new_id, a.source, b.doc_id AS base_id,
             COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s
      WHERE a.source IN ('src18', 'src19')
        AND b.source NOT IN ('src18', 'src19')
      GROUP BY 1, 2, 3
    ),
    neardup AS (
      SELECT DISTINCT new_id, p.source
      FROM sh_pairs p
      JOIN sizes sa ON p.new_id = sa.doc_id
      JOIN sizes sb ON p.base_id = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    ),
    q AS (SELECT vec_id,
                 [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                  for x in embedding] AS v
          FROM embeddings),
    nrm AS (SELECT vec_id, v,
                   CAST(list_sum([v[i] * v[i]
                        for i in generate_series(1, len(v))]) AS BIGINT)
                     AS nq
            FROM q),
    tagged AS (
      SELECT nrm.vec_id, nrm.v, nrm.nq, d.source,
             (d.source IN ('src18', 'src19')) AS is_new
      FROM nrm JOIN documents d ON nrm.vec_id = d.doc_id
    ),
    semdup AS (
      SELECT DISTINCT a.vec_id AS new_id, a.source
      FROM tagged a JOIN tagged b ON a.is_new AND NOT b.is_new
      WHERE CAST(list_sum([a.v[i] * b.v[i]
                 for i in generate_series(1, len(a.v))]) AS DOUBLE)
            / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
            >= 0.35
    ),
    words AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    base_vocab AS (
      SELECT DISTINCT w FROM words WHERE source NOT IN ('src18', 'src19')
    ),
    incr_vocab AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS occ,
             MAX(CASE WHEN b.w IS NULL THEN 1 ELSE 0 END) AS is_novel
      FROM (SELECT source, w FROM words
            WHERE source IN ('src18', 'src19')) i
      LEFT JOIN base_vocab b USING (w)
      GROUP BY source, w
    ),
    vocab AS (
      SELECT source,
             CAST(SUM(occ) AS BIGINT) AS total_tokens,
             CAST(SUM(is_novel) AS BIGINT) AS novel_tokens,
             CAST(SUM(is_novel) AS DOUBLE) / COUNT(*) AS novel_share
      FROM incr_vocab GROUP BY source
    )
    SELECT i.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(e.doc_id) AS BIGINT) AS exact_dup_docs,
           CAST(COUNT(nd.new_id) AS BIGINT) AS neardup_docs,
           CAST(COUNT(sd.new_id) AS BIGINT) AS semantic_dup_docs,
           ANY_VALUE(v.total_tokens) AS total_tokens,
           ANY_VALUE(v.novel_tokens) AS novel_tokens,
           ANY_VALUE(v.novel_share) AS novel_share
    FROM incr i
    LEFT JOIN exact_dups e ON i.doc_id = e.doc_id
    LEFT JOIN neardup nd ON i.doc_id = nd.new_id
    LEFT JOIN semdup sd ON i.doc_id = sd.new_id
    LEFT JOIN vocab v ON i.source = v.source
    GROUP BY i.source
    """,
)
def pipeline_increment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-ingest funnel, end-to-end in ONE exact-oracle
    operator: for each source in the new batch (the round-12 src18/19
    increment scenario), how many documents it brings, how many are
    exact re-crawls of the corpus (dedup_exact's normalized
    fingerprint), how many are lexical near-dups (the
    dedup_incremental_batch screen, jaccard >= 0.2), how many are
    semantic near-dups (the dedup_embedding_incremental screen,
    cosine >= 0.35), and what its vocabulary actually adds
    (docs_incremental_vocab_novelty's counts). This is the one table a
    data-acquisition review reads before paying for more of a source —
    and the composition proof that the family's screens agree on a
    single increment scenario (each leg reuses the member operator's
    exact discipline, so the whole report is hash-exact against one
    composed DuckDB oracle).

    Scale: each leg keeps its member's shape — fingerprints project
    map-side, the shingle screen shuffles (shingle, doc_id) postings,
    the embedding screen is the broadcast-increment block matmul, the
    vocab leg joins on the token hash — and the final assembly is
    per-source joins of increment-sized relations (2 output rows).
    """
    from redisgears_spark.operators.dedup import dedup_incremental_batch
    from redisgears_spark.operators.similarity import (
        dedup_embedding_incremental,
    )
    from redisgears_spark.operators.text import (
        docs_incremental_vocab_novelty,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source").isin("src18", "src19")
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    incr = docs.filter(is_new).select("doc_id", "source", fp.alias("fp"))
    base_fp = (
        docs.filter(~is_new).select(fp.alias("fp")).distinct()
        .withColumn("in_base", F.lit(1))
    )
    exact_dup = (
        incr.join(base_fp, "fp", "left")
        .select(
            "doc_id",
            "source",
            F.col("in_base").isNotNull().alias("is_exact_dup"),
        )
    )
    neardup = (
        dedup_incremental_batch(spark, sf_dir)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_neardup", F.lit(1))
    )
    semdup = (
        dedup_embedding_incremental(spark, sf_dir)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_semdup", F.lit(1))
    )
    vocab = docs_incremental_vocab_novelty(spark, sf_dir).select(
        "source", "total_tokens", "novel_tokens", "novel_share"
    )
    return (
        exact_dup.join(neardup, "doc_id", "left")
        .join(semdup, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("is_exact_dup"), 1).otherwise(0))
            .cast("long")
            .alias("exact_dup_docs"),
            F.sum(F.coalesce("is_neardup", F.lit(0)))
            .cast("long")
            .alias("neardup_docs"),
            F.sum(F.coalesce("is_semdup", F.lit(0)))
            .cast("long")
            .alias("semantic_dup_docs"),
        )
        # LEFT join to match the oracle: a source whose documents all
        # tokenize to empty has no vocab row and must still report
        # (with NULL token columns), not vanish from the funnel
        .join(vocab, "source", "left")
        .select(
            "source",
            "n_docs",
            "exact_dup_docs",
            "neardup_docs",
            "semantic_dup_docs",
            "total_tokens",
            "novel_tokens",
            "novel_share",
        )
    )


@query(
    "pipeline_bpe_extend_streamed", oracle=_bpe_extend_oracle_sql()
)  # shares the extend oracle: streamed word-freq state is bit-identical
# bit-equality vs pipeline_bpe_extend pinned in tests/test_streaming_vocab.py
def pipeline_bpe_extend_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frozen-prefix BPE vocabulary extension fed from LIVE state: the
    increment's documents (src18/src19) are replayed as stream records
    through StreamingWordFreqRuntime (streaming/vocab.py — bucketed
    per-document counters, replay-idempotent), and the extend machinery
    consumes the runtime's word_freq() table instead of scanning the
    increment. The result is BIT-IDENTICAL to batch
    pipeline_bpe_extend — frequency tables are the additive unit of BPE
    state, and the streamed table is row-identical to the batch scan —
    completing the tokenizer's live leg of the round-12 incremental
    trilogy (the ANN index and the dedup indexes got theirs first).

    Reference analog: live stream consumers building queryable state
    (stream_reader.rs consumer-state discipline) — here the state is
    the tokenizer trainer's input table.

    Scale: ingest is one stateful streaming stage keyed on
    doc_id % n_buckets; word_freq() is one exploded-partials word-keyed
    aggregate. The extend phase is unchanged (base merges replayed on
    the ADDED union table, 4 continued merges).
    """
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from redisgears_spark.engine import GearsEngine
    from redisgears_spark.streaming.vocab import StreamingWordFreqRuntime

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source").isin(list(_BPE_NEW_SOURCES))
    base = _tempfile.mkdtemp(prefix="rg_wf_stream_")
    try:
        spool = _os.path.join(base, "spool")
        docs.filter(is_new).select(
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
        ).coalesce(8).write.parquet(spool)
        # coalesce(8): one maxFilesPerTrigger micro-batch for the replay
        # (fewer epochs -> the sink holds one full-state emission; the
        # chunked/multi-epoch path is exercised by the runtime tests)

        engine = GearsEngine(spark, sf_dir=sf_dir)
        rt = StreamingWordFreqRuntime(
            engine, spool, _os.path.join(base, "work")
        )
        rt.start()
        rt.process_available()
        rt.stop()

        result = _bpe_extend(
            spark, sf_dir, _BPE_NEW_SOURCES, inc_wf=rt.word_freq()
        ).collect()
        return spark.createDataFrame(
            result,
            "round long, left string, right string, pair_count long, "
            "phase string",
        )
    finally:
        _shutil.rmtree(base, ignore_errors=True)


@query(
    "pipeline_contamination_increment",
    oracle=f"""
    WITH {_DECON_GRAMS_CTE},
    eg AS (SELECT DISTINCT md5(g.g) AS gh
           FROM g JOIN documents d ON g.doc_id = d.doc_id
           WHERE g.doc_id % {_DECON_EVAL_MOD} = 0
             AND d.source NOT IN ('src18', 'src19')),
    tg AS (SELECT DISTINCT g.doc_id, md5(g.g) AS gh
           FROM g JOIN documents d ON g.doc_id = d.doc_id
           WHERE d.source IN ('src18', 'src19')),
    hits AS (SELECT doc_id, COUNT(*) AS n_hits
             FROM tg JOIN eg USING (gh) GROUP BY doc_id)
    SELECT d.doc_id, d.source,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_eval_grams,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.source IN ('src18', 'src19')
    """,
)
def pipeline_contamination_increment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination of the INCREMENT only — the admission
    check the round-12 increment scenario was missing: before a new
    batch (src18/src19) joins the corpus, screen EVERY new document
    against the held-out benchmark's word-5-gram set (the deterministic
    doc_id % 13 slice of the BASE corpus — the benchmark predates the
    increment, so increment docs are never their own eval set). Output
    per new document: its source (the triage dimension), how many
    distinct eval 5-grams it contains, the contaminated verdict. With
    pipeline_increment_report (dups + novelty) this completes the
    increment-admission battery: a batch is admitted after dedup,
    novelty, AND leakage screening.

    Exactness: distinct-gram hit counts are exact integers — full
    hash-exact DuckDB oracle (pipeline_decontaminate's discipline on
    the increment slice).

    Scale: the benchmark side reduces to DISTINCT md5 fingerprints —
    in production a benchmark suite is thousands of documents, so this
    side broadcast-joins (here it is corpus-proportional, so no hint:
    the honest-100 TB pattern, AQE decides); the increment side
    tokenizes map-side in one Arrow pass (_gram_rows) and only
    (doc_id, 32-byte hash) rows reach the exchange. Cost is linear in
    the increment + one pass over the saved benchmark fingerprints.
    """
    is_new = F.col("source").isin("src18", "src19")
    docs_src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    # predicates push into the gram scan (source is in scope before
    # _gram_rows' projection) — neither side tokenizes rows it discards
    eval_grams = (
        _gram_rows(
            spark,
            sf_dir,
            (F.col("doc_id") % _DECON_EVAL_MOD == 0) & ~is_new,
        )
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    new_grams = (
        _gram_rows(spark, sf_dir, is_new)
        .select("doc_id", F.md5("g").alias("gh"))
        .distinct()
    )
    hits = new_grams.join(eval_grams, "gh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        docs_src.filter(is_new)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias(
                "n_eval_grams"
            ),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )
