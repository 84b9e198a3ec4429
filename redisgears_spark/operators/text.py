"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token statistics, document fingerprinting.

All pure Catalyst expressions (regexp/array/higher-order functions) — zero
Python in the hot path, so each query is a single narrow scan + (at most)
one aggregate exchange, which holds at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from redisgears_spark.operators.registry import query
from redisgears_spark.sources.keyspace import (
    load_table,
    rebalanced,
    scratch_parquet,
)

_TOKENS = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
_TOKENS_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"


def _tokens_py(text: str) -> list[str]:
    """Python twin of `_TOKENS`, the engine's one token split, for the
    kernels that tokenize inside a Python stage."""
    return [x for x in re.split(r"\s+", text.lower(), flags=re.ASCII) if x]


# marker words per language for the n-gram/stopword heuristic. The fixture
# corpus is synthetic, so markers are drawn from its vocabulary — the point
# is the *shape* (per-language marker scoring, argmax, deterministic).
_MARKERS = {
    "en": ("the", "a", "fast", "slow"),
    "db": ("table", "row", "column", "query"),
    "ops": ("merge", "join", "sort", "filter"),
}
_STOPWORDS = ("the", "a", "and", "of", "to", "in")


def _count_in(tokens_expr: str, words: tuple[str, ...], sql: bool) -> str:
    cond = " OR ".join(f"x {'=' if sql else '=='} '{w}'" for w in words)
    fn = "list_filter" if sql else "filter"
    ln = "len" if sql else "size"
    return f"CAST({ln}({fn}({tokens_expr}, x -> {cond})) AS BIGINT)"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT) AS n_distinct,
           CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
             / len({_TOKENS_SQL}) AS ttr,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization, type-token ratio.

    (The BPE-ish regex variant is text_quality_score's punct split.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("n_tokens"),
        F.expr(f"CAST(size(array_distinct({_TOKENS})) AS BIGINT)").alias("n_distinct"),
        F.expr(
            f"CAST(size(array_distinct({_TOKENS})) AS DOUBLE) / size({_TOKENS})"
        ).alias("ttr"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS BIGINT)
             AS n_punct,
           {_count_in(_TOKENS_SQL, _STOPWORDS, sql=True)} AS n_stop,
           CAST({_count_in(_TOKENS_SQL, _STOPWORDS, sql=True)} AS DOUBLE)
             / len({_TOKENS_SQL}) AS stop_ratio,
           CAST(length(text) AS DOUBLE) / len({_TOKENS_SQL}) AS chars_per_token
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: length, punctuation density, stopword ratio — the
    standard cheap filters before expensive pipeline stages."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.expr(f"CAST(size({_TOKENS}) AS BIGINT)")
    n_stop = F.expr(_count_in(_TOKENS, _STOPWORDS, sql=False))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length(F.regexp_replace("text", r"[a-z0-9\s]", "")).cast("long").alias(
            "n_punct"
        ),
        n_stop.alias("n_stop"),
        (n_stop.cast("double") / n_tokens).alias("stop_ratio"),
        (F.length("text").cast("double") / n_tokens).alias("chars_per_token"),
    )


def _langid_case(sql: bool) -> str:
    tokens = _TOKENS_SQL if sql else _TOKENS
    scores = {
        lang: _count_in(tokens, words, sql) for lang, words in _MARKERS.items()
    }
    s_en, s_db, s_ops = scores["en"], scores["db"], scores["ops"]
    return (
        f"CASE WHEN {s_en} >= {s_db} AND {s_en} >= {s_ops} AND {s_en} > 0 THEN 'en' "
        f"WHEN {s_db} >= {s_ops} AND {s_db} > 0 THEN 'db' "
        f"WHEN {s_ops} > 0 THEN 'ops' ELSE 'und' END"
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS lang_label,
           {_langid_case(sql=True)} AS predicted_lang,
           {_count_in(_TOKENS_SQL, _MARKERS["en"], sql=True)} AS score_en,
           {_count_in(_TOKENS_SQL, _MARKERS["db"], sql=True)} AS score_db,
           {_count_in(_TOKENS_SQL, _MARKERS["ops"], sql=True)} AS score_ops
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via marker-token scoring (n-gram-heuristic
    shape): per-language scores, deterministic argmax with priority ties."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.expr(_langid_case(sql=False)).alias("predicted_lang"),
        F.expr(_count_in(_TOKENS, _MARKERS["en"], sql=False)).alias("score_en"),
        F.expr(_count_in(_TOKENS, _MARKERS["db"], sql=False)).alias("score_db"),
        F.expr(_count_in(_TOKENS, _MARKERS["ops"], sql=False)).alias("score_ops"),
    )


@query(
    "text_tfidf",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           tf.tf * ((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf_odds
    FROM tf JOIN df ON tf.term = df.term, n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting: integer term/document frequencies with the
    idf carried as the rational odds ratio (N+1)/(df+1) — division and
    multiply are single IEEE ops, bit-identical across engines, whereas
    ln() is a libm transcendental that differs in the last ulp between
    DuckDB and the JVM. ln is monotone, so ranking by tfidf_odds ≡ ranking
    by classic tf·idf; consumers wanting the log scale apply it last-mile.

    Scale: tf is a (doc_id, term) group-by; df re-aggregates tf's output
    (already one row per doc-term, so COUNT(*) == distinct docs — no second
    expensive distinct over raw tokens); the df side joins back broadcast
    (|vocabulary| rows). The token explode never shuffles the raw text —
    only fixed-width (doc_id, term-hash-sized) rows move.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("term"))
    # materialize tf once: it feeds BOTH the df aggregate and the final
    # join, and without this the tokenizer + explode (the expensive
    # projection) is evaluated under each branch — two full corpus passes
    tf = scratch_parquet(
        tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
        "tfidf-tf",
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # scalar; at 100 TB read from table stats instead
    weight = F.col("tf") * ((n_docs + 1.0) / (F.col("df") + 1.0))
    return (
        tf.join(F.broadcast(df), "term")
        .select("doc_id", "term", "tf", "df", weight.alias("tfidf_odds"))
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    b AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= 2 THEN
               [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)]
             ELSE [] END AS bg
      FROM t
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) - len(list_distinct(w)) AS BIGINT) AS n_dup_words,
           CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w)
             AS dup_word_ratio,
           CAST(list_max([len(list_filter(w, y -> y = x))
                          for x in list_distinct(w)]) AS BIGINT) AS top_word_n,
           CAST(list_max([len(list_filter(w, y -> y = x))
                          for x in list_distinct(w)]) AS DOUBLE) / len(w)
             AS top_word_ratio,
           CASE WHEN len(bg) > 0 THEN
             CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
           ELSE 0.0 END AS dup_bigram_ratio
    FROM b
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4 repetition-filter
    family): duplicate-word fraction, most-frequent-word fraction, and
    duplicate-bigram fraction per document. Highly repetitive documents
    (boilerplate, keyword stuffing, templated spam) score high and get
    dropped before training.

    Scale: pure per-row Catalyst higher-order functions — a narrow
    projection, zero shuffles, so it holds at 100 TB by construction. The
    top-word count is O(distinct x tokens) per document inside one JVM
    expression (documents are bounded; no explode, so no re-evaluation
    trap). That per-row cost is CPU-heavy enough that the fixture's single
    parquet file must not serialize it through one task — `rebalanced`
    splits the scan (at 100 TB the thousands of input files parallelize
    naturally). Ratios are exact-integer counts with one IEEE division at
    the end — bit-identical across engines.
    """
    from redisgears_spark.sources.keyspace import rebalanced

    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    # Tokenize ONCE: `bg` is derived from the `w` COLUMN, not by
    # re-inlining the tokenizer expression (which multiplied the
    # O(distinct x tokens) cost when codegen stopped CSE-ing the copies).
    # CollapseProject keeps the two projections separate because `w` is
    # referenced several times below and the tokenizer is non-cheap.
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("w"))
    bg = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(0, size(w) - 2), "
        "i -> concat(w[i], ' ', w[i+1])) "
        "ELSE array() END"
    )
    d = toks.select("doc_id", "w", bg.alias("bg"))
    n = F.size("w").cast("long")
    n_dup = (F.size("w") - F.size(F.array_distinct("w"))).cast("long")
    top_n = F.expr(
        "array_max(transform(array_distinct(w), "
        "x -> size(filter(w, y -> y = x))))"
    ).cast("long")
    n_bg = F.size("bg")
    dup_bg = (n_bg - F.size(F.array_distinct("bg"))).cast("double")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        n_dup.alias("n_dup_words"),
        (n_dup.cast("double") / n).alias("dup_word_ratio"),
        top_n.alias("top_word_n"),
        (top_n.cast("double") / n).alias("top_word_ratio"),
        F.when(n_bg > 0, dup_bg / n_bg).otherwise(0.0).alias("dup_bigram_ratio"),
    )


# BPE-ish pre-tokenization classes: letter runs, digit runs, single
# non-alphanumeric marks (the GPT-2-style split shape, sans merges).
# Two spellings of the same regex: Spark SQL string literals process
# backslash escapes ('\s' → 's'), DuckDB's don't — so the Spark literal
# needs the backslash doubled to reach the regex engine intact.
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
_BPE_RE_SPARK = r"[a-z]+|[0-9]+|[^a-z0-9\\s]"


@query(
    "text_regex_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT)
             AS n_tokens,
           CAST(len(list_filter(regexp_extract_all(lower(text), '{_BPE_RE}'),
                                x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT)
             AS n_alpha,
           CAST(len(list_filter(regexp_extract_all(lower(text), '{_BPE_RE}'),
                                x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT)
             AS n_num,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '{_BPE_RE}')))
             AS BIGINT) AS n_distinct
    FROM documents
    """,
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counting: letter runs / digit runs /
    punctuation marks via one regex pass — the subword-tokenizer-shaped
    statistic (whitespace counting is text_token_stats). All JVM regex,
    no Python."""
    # the four regex projections are the whole cost and run in the scan
    # stage — a single task over a single-row-group fixture file;
    # rebalanced spreads the regex work across the cores (r14, guide
    # §2.5: parallelism where the CPU is, the shuffled payload is just
    # the narrow (doc_id, text) projection)
    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    toks = F.expr(f"regexp_extract_all(lower(text), '{_BPE_RE_SPARK}', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.rlike("^[a-z]+$"))).cast("long").alias(
            "n_alpha"
        ),
        F.size(F.filter(toks, lambda x: x.rlike("^[0-9]+$"))).cast("long").alias(
            "n_num"
        ),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           md5(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 64))
             AS prefix_fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-document and prefix-window content
    hashes over normalized text (rolling-hash family; md5 keeps the oracle
    engine-portable). Feeds dedup_exact.

    r14: rebalanced — the regex normalize + two md5 passes over the full
    text are the whole cost and otherwise run in the one-task scan stage
    of the single-row-group fixture file."""
    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.md5(F.substring(norm, 1, 64)).alias("prefix_fingerprint"),
    )


def _bigram_kernel(batches):
    import pandas as pd

    for pdf in batches:
        out: list[str] = []
        for text in pdf["text"]:
            w = _tokens_py(text)
            out.extend(
                f"{w[i]} {w[i + 1]}" for i in range(len(w) - 1)
            )
        yield pd.DataFrame({"bigram": out})


@query(
    "text_top_bigrams",
    oracle=f"""
    WITH ws AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    bg AS (
      SELECT unnest([w[i] || ' ' || w[i+1]
                     for i in generate_series(1, len(w) - 1)]) AS bigram
      FROM ws WHERE len(w) >= 2
    ),
    counted AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram)
    SELECT bigram, n, rank FROM (
      SELECT bigram, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rank
      FROM counted
    ) WHERE rank <= 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: top-20 word bigrams with a
    deterministic tie-break (count desc, bigram asc) — the language-model
    frequency pass every text pipeline runs before building vocabularies.

    Scale: bigram construction is an Arrow-batched map-side stage (the
    Catalyst transform+explode formulation re-evaluates the token split
    per OUTPUT row — the same O(words × ngrams) trap shingled_docs
    documents); the count partial-aggregates; the ranked top-k is
    orderBy+limit, which compiles to TakeOrderedAndProject (per-partition
    top-20 + driver merge — no single-partition sort over |distinct
    bigrams|, which is corpus-scale cardinality). The rank window then
    runs over the ≤20 surviving rows only.
    """
    docs = rebalanced(
        load_table(spark, sf_dir, "documents").select("text")
    )
    counted = (
        docs.mapInPandas(_bigram_kernel, "bigram string")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counted.orderBy(F.col("n").desc(), F.col("bigram")).limit(20)
    w = W.orderBy(F.col("n").desc(), F.col("bigram"))
    return top.withColumn("rank", F.row_number().over(w))


# vocabulary cap for the rarity scorer: top-K tokens by frequency get exact
# ranks; everything rarer scores as OOV_RANK (the standard capped-vocab LM
# treatment). The fixture vocab is far below the cap, so at test scale the
# score is exact over the full vocabulary.
_RARITY_VOCAB_K = 50_000
_RARITY_OOV_RANK = _RARITY_VOCAB_K + 1


@query(
    "text_rarity_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
      FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
            ORDER BY cnt DESC, tok LIMIT {_RARITY_VOCAB_K})
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(v.rank, {_RARITY_OOV_RANK})) AS BIGINT)
             AS rank_sum,
           CAST(SUM(COALESCE(v.rank, {_RARITY_OOV_RANK})) AS DOUBLE)
             / COUNT(*) AS mean_rarity
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM scoring plumbing with an integer-exact surrogate: build
    a capped frequency-ranked vocabulary, score each document as the mean
    frequency rank of its tokens (OOV → cap+1) — the shape of perplexity
    filtering (common tokens → low rank → "predictable"), without the
    cross-engine float hazard of log(): libm and Math.log may differ in
    the last ulp, but ranks are integers and the mean is one IEEE
    division, so the score hash-matches the oracle exactly.

    Scale: the vocabulary is a capped TakeOrderedAndProject over the
    token counts (never a corpus-wide sort), the rank window runs over
    ≤{_RARITY_VOCAB_K} rows, and the vocab broadcast-joins the exploded
    token stream — per-token payload is one long. Exactly the plumbing a
    real KenLM-style scorer needs; swap the rank map for per-token
    log-prob costs computed ONCE driver-side and shipped in the same
    broadcast to keep engine-exactness.
    """
    toks = rebalanced(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.explode(F.expr(_TOKENS)).alias("tok")
        )
    )
    # per-(doc, token) counts, materialized ONCE: the raw token stream fed
    # both the vocab build and the scoring join, so the tokenizer + explode
    # ran twice; dtc is the same information at |doc|x|distinct-tok| rows
    # (duplicates collapsed map-side) and every branch reads the scratch
    dtc = scratch_parquet(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c")),
        "rarity-dtc",
    )
    counts = dtc.groupBy("tok").agg(F.sum("c").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok")).limit(
        _RARITY_VOCAB_K
    )
    w = W.orderBy(F.col("cnt").desc(), F.col("tok"))
    vocab = top.withColumn("rank", F.row_number().over(w)).select("tok", "rank")
    rank = F.coalesce("rank", F.lit(_RARITY_OOV_RANK))
    return (
        dtc.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * rank).alias("rank_sum"),
        )
        .withColumn(
            "mean_rarity",
            F.col("rank_sum").cast("double") / F.col("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# heavy hitters: Misra-Gries candidates + exact recount
# ---------------------------------------------------------------------------

_HH_TOP = 20  # report the corpus top-20 terms
_HH_MG_CAP = 200  # per-partition Misra-Gries summary capacity


def _misra_gries_partition(batches):
    """Per-partition Misra-Gries(k) summary over the token stream: at
    most _HH_MG_CAP counters survive; any term whose count in this
    partition exceeds n_partition/(cap+1) is guaranteed present."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for toks in pdf["w"]:
            for t in toks:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < _HH_MG_CAP:
                    counters[t] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
    yield pd.DataFrame(
        {"term": list(counters), "lb": list(counters.values())}
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKENS_SQL}) AS term FROM documents
    )
    SELECT term, CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY term
    ORDER BY n DESC, term
    LIMIT {_HH_TOP}
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 terms via the two-phase heavy-hitter pattern: a
    per-partition Misra-Gries(cap=200) summary nominates candidates,
    then ONE exact recount over just those candidates picks the
    winners — results are EXACT (oracle: the true top-20), the sketch
    only bounds the work.

    Why not text_top_bigrams' direct groupBy? That shuffles the FULL
    |vocabulary| (web-corpus vocabularies are billions of n-grams at
    100 TB). Here the first pass emits ≤ cap rows per partition
    (bounded driver collect: cap × partitions), and the recount's
    shuffle carries only candidate-matched tokens after a broadcast
    semi-join prunes the stream. Correctness condition (documented MG
    bound, property-tested): any term with global count
    > Σ_p n_p/(cap+1) = N/(cap+1) survives in some partition's summary —
    size cap ≥ (N/count of the k-th hitter) - 1. The fixture's top-20
    are each ~1000× above that threshold.
    """
    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.expr(_TOKENS).alias("w"))
    cands = toks.mapInPandas(_misra_gries_partition, "term string, lb long")
    # candidate set broadcast DIRECTLY (r12 verdict minor #2): no
    # collect + createDataFrame driver hop — the MG cap already bounds
    # it (≤ cap × partitions rows), and the broadcast ships it without
    # the driver ever materializing the terms
    cand_df = cands.select("term").distinct()
    exploded = docs.select(F.explode(F.expr(_TOKENS)).alias("term"))
    return (
        exploded.join(F.broadcast(cand_df), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(_HH_TOP)
    )


# ---------------------------------------------------------------------------
# classifier evaluation: langid confusion matrix
# ---------------------------------------------------------------------------


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS lang_label,
             {_langid_case(sql=True)} AS predicted_lang
      FROM documents
    )
    SELECT lang_label, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY lang_label) AS row_share
    FROM pred
    GROUP BY lang_label, predicted_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the langid heuristic:
    (true label, predicted) cell counts plus the per-true-label share —
    the model-eval step every filtering classifier in a training
    pipeline needs before its predictions gate data.

    Scale: the prediction rides the scan (pure Catalyst CASE over token
    counts — no shuffle until the cell group-by); the matrix is
    |labels|×|classes| rows, and the row-share window runs over that
    tiny aggregate, not the corpus. Shares are one IEEE division of
    exact integer counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_label"),
        F.expr(_langid_case(sql=False)).alias("predicted_lang"),
    )
    cells = pred.groupBy("lang_label", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("lang_label")
    return cells.select(
        "lang_label",
        "predicted_lang",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias(
            "row_share"
        ),
    )


# ---------------------------------------------------------------------------
# character-distribution quality (Gini impurity)
# ---------------------------------------------------------------------------

# fixed scoring alphabet: per-character counts come from length-difference
# arithmetic (no explode — char-level explode is the classic 100 TB
# anti-pattern: it multiplies the shuffle by average document length)
_GINI_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _gini_exprs() -> tuple[str, str]:
    """(covered_expr, sum_sq_expr) — identical SQL text for Spark and
    DuckDB. c_i = length(text) - length(replace(text, ch, '')); characters
    outside the alphabet form one residual bucket so the masses sum to
    length(text)."""
    counts = [
        f"(length(text) - length(replace(text, '{ch}', '')))"
        for ch in _GINI_ALPHABET
    ]
    covered = " + ".join(counts)
    sq = " + ".join(f"{c} * {c}" for c in counts)
    return covered, sq


_GINI_COVERED, _GINI_SQ = _gini_exprs()

_GINI_SQL = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({_GINI_COVERED} AS BIGINT) AS n_alphabet,
           CAST(
             {_GINI_SQ}
             + (length(text) - ({_GINI_COVERED}))
               * (length(text) - ({_GINI_COVERED}))
             AS BIGINT
           ) AS sum_sq,
           CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(
                       CAST(length(text) AS BIGINT) * length(text)
                       - ({_GINI_SQ}
                          + (length(text) - ({_GINI_COVERED}))
                            * (length(text) - ({_GINI_COVERED})))
                       AS DOUBLE
                     ) / (CAST(length(text) AS BIGINT) * length(text))
           END AS char_gini
    FROM documents
"""


@query("text_char_gini", oracle=_GINI_SQL)
def text_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution quality signal: per-document Gini impurity
    of the character histogram, `1 - sum(c_i^2)/L^2` — low-impurity docs
    are repeated-character junk (keyboard mashing, padding, binary
    spillage), one of the standard cheap quality gates next to
    `text_quality_score`'s ratios. Gini instead of Shannon entropy
    BECAUSE it is oracle-exact: entropy needs libm `ln` (engines differ
    in the last ulp), while Gini is pure integer arithmetic (counts and
    squares) with ONE IEEE division at the end.

    Per-character counts are `length(text) - length(replace(text, ch))`
    over a fixed 37-symbol alphabet plus a residual bucket — 38 fused
    column expressions in one whole-stage-codegen projection, zero
    shuffle, zero Python; the same SQL text is the DuckDB oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars",
        f"CAST({_GINI_COVERED} AS BIGINT) AS n_alphabet",
        f"""CAST(
             {_GINI_SQ}
             + (length(text) - ({_GINI_COVERED}))
               * (length(text) - ({_GINI_COVERED}))
             AS BIGINT
           ) AS sum_sq""",
        f"""CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(
                       CAST(length(text) AS BIGINT) * length(text)
                       - ({_GINI_SQ}
                          + (length(text) - ({_GINI_COVERED}))
                            * (length(text) - ({_GINI_COVERED})))
                       AS DOUBLE
                     ) / (CAST(length(text) AS BIGINT) * length(text))
           END AS char_gini""",
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (round 6)
# ---------------------------------------------------------------------------

_STOP_IN_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS word
      FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents) t
    ),
    marked AS (
      SELECT doc_id, pos, word,
             CASE WHEN word IN ({_STOP_IN_SQL}) THEN 1 ELSE 0 END AS is_stop,
             SUM(CASE WHEN word IN ({_STOP_IN_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM tok
    ),
    phrases AS (
      SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS phrase_len
      FROM marked WHERE is_stop = 0 GROUP BY doc_id, phrase_id
    ),
    words AS (
      SELECT m.word, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(p.phrase_len) AS BIGINT) AS degree
      FROM marked m JOIN phrases p USING (doc_id, phrase_id)
      WHERE m.is_stop = 0
      GROUP BY m.word
    )
    SELECT word, freq, degree,
           CAST(degree AS DOUBLE) / freq AS rake_score
    FROM words
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; a word's score is
    degree/frequency, where degree sums the lengths of every phrase the
    word appears in — words that live in long content phrases outrank
    equally-frequent words that appear alone. The standard cheap
    keyword extractor (no model, no corpus statistics beyond one pass).

    Phrase segmentation WITHOUT string surgery: phrase_id is the
    RUNNING STOPWORD COUNT at each position (a per-doc window sum), so
    consecutive non-stop tokens share an id — the array-native
    formulation both engines express identically (no regex dialect in
    sight). Exact integers end-to-end, one IEEE division for the score.

    Scale: one posexplode pass, one doc-hash window, two map-side
    partial aggs; phrase lengths join back ON (doc, phrase) — all keys
    narrow. Output is |vocabulary| rows (bounded).
    """
    # (r14: a rebalanced input was measured 0.9 -> 1.2-1.4 s — the
    # doc-window shuffle dominates, not the posexplode; reverted)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.expr(_TOKENS)).alias("pos", "word")
    )
    is_stop = F.col("word").isin(*_STOPWORDS).cast("int")
    marked = tok.select(
        "doc_id",
        "pos",
        "word",
        is_stop.alias("is_stop"),
        F.sum(is_stop)
        .over(W.partitionBy("doc_id").orderBy("pos"))
        .alias("phrase_id"),
    )
    content = marked.filter(F.col("is_stop") == 0)
    phrases = content.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("phrase_len")
    )
    return (
        content.join(phrases, ["doc_id", "phrase_id"])
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("phrase_len").cast("long").alias("degree"),
        )
        .select(
            "word",
            "freq",
            "degree",
            (F.col("degree").cast("double") / F.col("freq")).alias(
                "rake_score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (round 6)
# ---------------------------------------------------------------------------

# Patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): plain character classes and bounded quantifiers only — no
# lookaround (RE2 has none), no backtracking-sensitive constructs.
_PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE_RE = r"555-[0-9]{4}"

# The fixture corpus is synthetic word salad with no PII, so the query
# derives a deterministic PII-bearing twin of each text IN BOTH ENGINES
# (the pipeline_corpus_diff precedent): docs with doc_id%5==0 gain an
# email, doc_id%7==0 a phone extension — giving the detector real
# positives AND true negatives to prove on.
_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
"""


@query(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the mandatory pre-training compliance pass: count and
    redact email addresses and phone extensions per document, emitting
    the redacted text's fingerprint (the driver canonicalizer hashes
    fixed-width md5, not full text). Patterns are the dialect-portable
    subset (character classes + bounded quantifiers) so Java regex and
    RE2 scan byte-identically; DuckDB's regexp_replace needs the
    explicit 'g' flag to match Spark's replace-all default.

    Scale: a single narrow scan, zero shuffles, zero Python — three
    regex passes per row inside one WholeStageCodegen projection. At
    100 TB this is the shape you want: embarrassingly parallel,
    pushdown-friendly, output fixed-width per input row.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("t", _PII_EMAIL_RE, "<EMAIL>"),
                _PII_PHONE_RE,
                "<PHONE>",
            )
        ).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# mixed-language / code-switch detection (round 6)
# ---------------------------------------------------------------------------


@query(
    "text_mixed_language",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             {_count_in(_TOKENS_SQL, _MARKERS["en"], True)} AS en_hits,
             {_count_in(_TOKENS_SQL, _MARKERS["db"], True)} AS db_hits,
             {_count_in(_TOKENS_SQL, _MARKERS["ops"], True)} AS ops_hits
      FROM documents
    )
    SELECT doc_id, en_hits, db_hits, ops_hits,
           CAST((en_hits >= 2) AS INT) + CAST((db_hits >= 2) AS INT)
             + CAST((ops_hits >= 2) AS INT) >= 2 AS is_mixed
    FROM m
    """,
)
def text_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch / mixed-language detection — the filtering companion
    to `text_lang_id` (which argmaxes one label per doc and hides the
    blend): emit each language's marker-hit count and flag documents
    where two or more languages clear the evidence floor (>= 2 marker
    hits) — the docs a per-doc language router mislabels and a
    train-mix auditor wants surfaced.

    Same zero-Python shape as the rest of the text family: one
    tokenize, three higher-order-function filters in one codegen
    projection, no shuffle. Exact integers; the flag is pure boolean
    arithmetic, identical in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    hit_cols = {
        lang: F.expr(_count_in(_TOKENS, words, False)).alias(f"{lang}_hits")
        for lang, words in _MARKERS.items()
    }
    m = docs.select("doc_id", *hit_cols.values())
    floor = [
        (F.col(f"{lang}_hits") >= 2).cast("int") for lang in _MARKERS
    ]
    mixed = floor[0]
    for f_ in floor[1:]:
        mixed = mixed + f_
    return m.select(
        "doc_id",
        "en_hits",
        "db_hits",
        "ops_hits",
        (mixed >= 2).alias("is_mixed"),
    )


_PRED_SCALE = 1_000_000_000  # fixed-point scale for transition probabilities


@query(
    "text_bigram_predictability",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS_SQL} AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS bigram
      FROM toks JOIN generate_series(1, 1000000) AS t(i)
        ON i <= len(w) - 1
    ),
    bgc AS (SELECT bigram, CAST(COUNT(*) AS HUGEINT) AS c2 FROM bg GROUP BY bigram),
    w1c AS (SELECT w1, CAST(COUNT(*) AS HUGEINT) AS c1 FROM bg GROUP BY w1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(({_PRED_SCALE} * c2) // c1) AS BIGINT) AS pred_sum_scaled,
           CAST(SUM(({_PRED_SCALE} * c2) // c1) AS DOUBLE)
             / (COUNT(*) * {_PRED_SCALE}) AS mean_predictability
    FROM bg JOIN bgc USING (bigram) JOIN w1c USING (w1)
    GROUP BY bg.doc_id
    """,
)
def text_bigram_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-1 LM predictability: score each document by the mean
    corpus transition probability P(w2|w1) over its bigram positions —
    the bigram step up from text_rarity_score's unigram ranks, and the
    integer-exact stand-in for perplexity filtering (predictable text →
    high mean transition probability).

    Exactness: each position contributes floor(SCALE·c(w1 w2)/c(w1 ·)) —
    integer division (Spark DIV ≡ DuckDB // on positives, parity pinned
    in test_graph.py), summed in decimal, with ONE final IEEE division
    producing the float. No log(), no float accumulation.

    Scale shape: two vocabulary-sized aggregates (bigram counts,
    first-token counts) with map-side partials; the position stream
    then equi-joins both count relations on short string keys and
    reduces per doc_id. The document text is tokenized once; only
    (doc_id, w1, bigram) rows shuffle. At web scale the count relations
    are the LM — they can be bucketed or broadcast when the vocabulary
    is capped, exactly how distributed KenLM count passes are laid out.
    """
    # rebalanced (r14): the tokenizer + bigram explode is the dominant
    # cost and otherwise runs in the one-task scan stage of the
    # single-row-group fixture file — and it feeds THREE plan branches
    # (bgc, w1c, scored), so the one-task stage ran three times
    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    bg = (
        docs.select(
            "doc_id", F.expr(_TOKENS).alias("w")
        )
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i - 1] AS w1,"
                    " concat(w[i - 1], ' ', w[i]) AS bigram))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bigram").alias("bigram"))
    )
    bgc = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c2")
    )
    w1c = bg.groupBy("w1").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c1")
    )
    scored = bg.join(bgc, "bigram").join(w1c, "w1")
    term = F.expr(f"CAST(({_PRED_SCALE} * c2) DIV c1 AS DECIMAL(38,0))")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(term).cast("long").alias("pred_sum_scaled"),
        (
            F.sum(term).cast("double")
            / (F.count(F.lit(1)) * F.lit(_PRED_SCALE)).cast("double")
        ).alias("mean_predictability"),
    )


@query(
    "docs_vocab_growth",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS decile
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    firstw AS (SELECT w, MIN(doc_id) AS first_doc FROM words GROUP BY w),
    fd AS (
      SELECT f.w, d.decile FROM firstw f JOIN d ON d.doc_id = f.first_doc
    ),
    new_per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM fd GROUP BY decile
    ),
    grid AS (SELECT unnest(generate_series(1, 10)) AS decile)
    SELECT CAST(g.decile AS BIGINT) AS decile,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_words,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (
                  ORDER BY g.decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS vocab_size
    FROM grid g LEFT JOIN new_per n ON n.decile = g.decile
    """,
)
def docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: scanning the corpus in
    doc_id order, how many NEVER-SEEN-BEFORE words each decile of
    documents contributes, and the cumulative vocabulary size — the
    diminishing-returns curve that tells a collection effort whether
    more of the same source still buys new coverage.

    Construction: "first seen in decile d" = the decile of the word's
    MIN doc_id — so the running distinct count (inexpressible as a
    window) becomes a plain per-word min + a 10-row prefix sum. All
    counts exact integers; ntile over unique doc_id is deterministic
    in both engines.

    Scale: the word explode reduces map-side to one (word, min doc_id)
    row per distinct word; the decile map is a |docs|-row integer
    relation joined on doc_id; everything after is 10 rows. Decile
    assignment rides global_ntile (functions/ranks.py) — the two-phase
    prefix-sum NTILE, bit-identical to the oracle's global window with
    no single-partition sort.
    """
    from redisgears_spark.functions.ranks import global_ntile

    # (r14: rebalancing this input was measured 1.3 -> 1.9-2.3 s: the
    # ntile machinery reads it three times and each read re-ran the
    # repartition; reverted)
    docs = load_table(spark, sf_dir, "documents")
    d = global_ntile(
        docs.select("doc_id"), 10, "doc_id", "doc_id", "decile"
    )
    words = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("w")
    )
    firstw = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    new_per = (
        firstw.join(d, firstw.first_doc == d.doc_id)
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    grid = spark.range(1, 11).select(F.col("id").alias("decile"))
    filled = grid.join(new_per, "decile", "left").select(
        "decile",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new_words"),
    )
    # prefix sum as a broadcast triangular self-join instead of a
    # partition-less window (r12 verdict minor #3): the 10-row grid
    # never warns "No Partition Defined"; integer sums are
    # order-independent so the value is unchanged
    below = filled.select(
        F.col("decile").alias("b_decile"),
        F.col("n_new_words").alias("b_new"),
    )
    return (
        filled.join(
            F.broadcast(below), F.col("b_decile") <= F.col("decile")
        )
        .groupBy("decile", "n_new_words")
        .agg(F.sum("b_new").cast("long").alias("vocab_size"))
        .select("decile", "n_new_words", "vocab_size")
    )


@query(
    "docs_length_quantiles_by_lang",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           quantile_cont(n_chars, 0.25) AS p25,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.75) AS p75,
           quantile_cont(n_chars, 0.95) AS p95,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def docs_length_quantiles_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Document-length distribution per language: min/p25/p50/p75/p95/
    max of n_chars — the first chart of any corpus audit (a language
    whose p95 sits near a truncation limit was clipped upstream; one
    whose p25 is tiny is boilerplate-heavy).

    Exactness: n_chars is an integer column; interpolated quantiles
    over integers produce the identical lo+(hi-lo)*frac IEEE sequence
    in both engines; no text is read (column pruned to lang, n_chars).

    Scale: single scan, per-language exact-percentile buffers
    (dimension cardinality groups); at extreme per-language counts
    swap quantile_cont for approx_percentile (mergeable t-digest).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.5)").alias("p50"),
        F.expr("percentile(n_chars, 0.75)").alias("p75"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@query(
    "docs_char_class_profile",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS n_chars,
           CAST(SUM(len(regexp_replace(text, '[^a-z]', '', 'g')) )
                AS BIGINT) AS n_lower,
           CAST(SUM(len(regexp_replace(text, '[^A-Z]', '', 'g')))
                AS BIGINT) AS n_upper,
           CAST(SUM(len(regexp_replace(text, '[^0-9]', '', 'g')))
                AS BIGINT) AS n_digit,
           CAST(SUM(len(regexp_replace(text, '[^ ]', '', 'g')))
                AS BIGINT) AS n_space,
           CAST(SUM(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))
                AS BIGINT) AS n_other,
           CAST(SUM(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))
             AS DOUBLE) / SUM(len(text)) AS other_ratio
    FROM documents GROUP BY lang
    """,
)
def docs_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class census per language: lower/upper/digit/space/
    other counts and the "other" ratio — the encoding-damage detector
    (mojibake, HTML entities, control characters all inflate `other`;
    a language whose profile shifts between crawls changed extractors,
    not content).

    Exactness: every count is an integer character tally from the same
    regex alphabet in both engines; the ratio is ONE division.

    Scale: pure codegen projections over the scan (count-by-delete
    regexes, no explode, no Python); one map-side partial aggregate to
    |langs| rows. r14: rebalanced — the five count-by-delete regexes
    over the full text ran in the one-task scan stage of the
    single-row-group fixture file (3.9 s isolated; 0.6 s spread).
    """
    d = rebalanced(load_table(spark, sf_dir, "documents"))

    def n_of(pattern: str):
        return F.sum(
            F.length(F.regexp_replace("text", pattern, ""))
        ).cast("long")

    other = F.sum(
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        n_of("[^a-z]").alias("n_lower"),
        n_of("[^A-Z]").alias("n_upper"),
        n_of("[^0-9]").alias("n_digit"),
        n_of("[^ ]").alias("n_space"),
        other.cast("long").alias("n_other"),
        (
            other.cast("double") / F.sum(F.length("text"))
        ).alias("other_ratio"),
    )


# ---------------------------------------------------------------------------
# round 9 additions: sentence shape, hapax vocabulary health
# ---------------------------------------------------------------------------

# sentence segments: split on terminal-punctuation runs, keep non-empty
# trimmed segments (a trailing '.' yields an empty tail in both engines)
_SENTENCES = (
    "filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> x != '')"
)
_SENTENCES_SQL = (
    "list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'), "
    "x -> trim(x)), x -> x <> '')"
)


@query(
    "text_sentence_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len({_SENTENCES_SQL}) AS BIGINT) AS n_sentences,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_words
      FROM documents
    )
    SELECT doc_id, n_sentences, n_words,
           COALESCE(CAST(n_words AS DOUBLE) / NULLIF(n_sentences, 0), 0.0)
             AS words_per_sentence
    FROM s
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-shape profile per document: sentence count and mean
    sentence length in words — the readability signal quality
    classifiers lean on (machine-generated spam runs either one
    endless sentence or staccato fragments; prose sits in the teens).

    Exactness: both engines split on the same '[.!?]+' regex (Java and
    RE2 agree on this class), trim with the same whitespace set, and
    drop empties — counts are integers, the mean is ONE division with
    a 0.0 sentinel for punctuation-free empty docs.

    Scale: a zero-shuffle codegen projection over the scan — no
    Python, no aggregation; at 100 TB this is scan-bound.
    """
    d = load_table(spark, sf_dir, "documents")
    n_sent = F.expr(f"CAST(size({_SENTENCES}) AS BIGINT)")
    n_words = F.expr(f"CAST(size({_TOKENS}) AS BIGINT)")
    return d.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        F.coalesce(
            n_words.cast("double") / F.nullif(n_sent, F.lit(0)), F.lit(0.0)
        ).alias("words_per_sentence"),
    )


@query(
    "docs_hapax_rate",
    oracle=f"""
    WITH w AS (
      SELECT lang, unnest({_TOKENS_SQL}) AS word FROM documents
    ),
    c AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n
      FROM w GROUP BY lang, word
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_rate
    FROM c GROUP BY lang
    """,
)
def docs_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena share per language: the fraction of the vocabulary
    seen exactly once — the vocabulary-health dial (natural corpora run
    ~40-60 % hapax by Zipf; far below means templated/duplicated text,
    far above means OCR noise or tokenizer breakage).

    Exactness: token counts are integers over the shared \\s+ token
    rule; the rate is ONE division by the vocabulary size.

    Scale: explode reduces map-side into (lang, word) partial counts —
    the shuffle carries the distinct vocabulary, not the corpus; the
    per-lang rollup is dimension-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("lang", F.explode(F.expr(_TOKENS)).alias("word"))
    c = w.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        hapax.cast("long").alias("n_hapax"),
        F.sum("n").cast("long").alias("n_tokens"),
        (hapax.cast("double") / F.count(F.lit(1))).alias("hapax_rate"),
    )


@query(
    "text_word_length_histogram",
    oracle=f"""
    WITH w AS (
      SELECT lang, CAST(len(unnest({_TOKENS_SQL})) AS BIGINT) AS wl
      FROM documents
    )
    SELECT lang, wl AS word_len,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM w GROUP BY lang, wl
    """,
)
def text_word_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-length distribution per language — the tokenizer-health
    fingerprint (a spike at length 1 is punctuation leakage; a heavy
    20+ tail is concatenation/OCR damage; real language curves peak at
    3-8 and are stable enough to detect corpus drift).

    Exactness: integer character counts over the shared token rule.

    Scale: the explode reduces map-side into (lang, len) partial
    counts — a few hundred output rows; text never shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("lang", F.explode(F.expr(_TOKENS)).alias("word")).select(
        "lang", F.length("word").cast("long").alias("word_len")
    )
    return w.groupBy("lang", "word_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_words")
    )


@query(
    "text_freq_of_freq_spectrum",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    tf AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
    fof AS (SELECT f, COUNT(*) AS n_types FROM tf GROUP BY f)
    SELECT CAST(length(ltrim(bin(f), '0')) AS BIGINT) AS f_log2_bucket,
           CAST(SUM(n_types) AS BIGINT) AS n_types,
           CAST(SUM(f * n_types) AS BIGINT) AS n_tokens,
           CAST(MIN(f) AS BIGINT) AS min_f,
           CAST(MAX(f) AS BIGINT) AS max_f
    FROM fof GROUP BY length(ltrim(bin(f), '0'))
    """,
)
def text_freq_of_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum (the Good-Turing table): how
    many vocabulary types occur exactly f times, rolled into log2(f)
    buckets — the smoothing-mass profile every LM tokenizer audit
    starts from (N1/N = unseen-mass estimate; a fat singleton bucket
    means OCR noise or unsegmented text). Complements docs_hapax_rate
    (which reports only f=1) with the full spectrum.

    Exactness: log2 buckets via the bit-length idiom
    (length(ltrim(bin(f),'0'))) — pure integer, both engines identical;
    all other columns are integer counts.

    Scale: two partial-agg shuffles (term counts, then spectrum) on
    skinny (hash, count) rows; no window, no sort — the same shape at
    100 TB with the term-count exchange as the only real cost.
    """
    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.expr(_TOKENS)).alias("w"))
    tf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    fof = tf.groupBy("f").agg(F.count(F.lit(1)).alias("n_types"))
    bucket = F.length(F.expr("ltrim('0', bin(f))")).cast("long")
    return fof.groupBy(bucket.alias("f_log2_bucket")).agg(
        F.sum("n_types").cast("long").alias("n_types"),
        F.sum(F.col("f") * F.col("n_types")).cast("long").alias("n_tokens"),
        F.min("f").cast("long").alias("min_f"),
        F.max("f").cast("long").alias("max_f"),
    )


# ---------------------------------------------------------------------------
# round 10 additions: corpus-shape diagnostics (Zipf, coverage, cohesion)
# ---------------------------------------------------------------------------


@query(
    "docs_zipf_rank_curve",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST({_TOKENS_SQL}) AS token FROM documents
    ),
    f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
          FROM tok GROUP BY 1),
    t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f),
    top AS (
      SELECT token, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
      FROM f ORDER BY freq DESC, token LIMIT 50
    )
    SELECT rank, token, freq,
           rank * freq AS rank_freq,
           CAST(freq AS DOUBLE) / total AS token_share
    FROM top, t
    """,
)
def docs_zipf_rank_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank–frequency curve of the corpus head (top-50 tokens):
    under Zipf's law rank·freq is constant, so `rank_freq` is emitted as
    the EXACT INTEGER product — the constancy check needs no logarithm
    (log-log slope fitting would break cross-engine bit-exactness; the
    product form is the same diagnostic, log-free). A corpus whose
    rank_freq column collapses early is template-dominated; one that
    holds is natural-language-like.

    Scale: map-side token counting, TakeOrderedAndProject for the
    top-50, rank assigned over those 50 rows only (constant fold, not a
    global sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    t = f.agg(F.sum("freq").cast("long").alias("total"))
    top = f.orderBy(F.desc("freq"), F.asc("token")).limit(50)
    w = W.orderBy(F.desc("freq"), F.asc("token"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(t)
        .select(
            "rank",
            "token",
            "freq",
            (F.col("rank") * F.col("freq")).alias("rank_freq"),
            (F.col("freq").cast("double") / F.col("total")).alias(
                "token_share"
            ),
        )
    )


_stop_sql = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@query(
    "docs_stopword_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST({_TOKENS_SQL}) AS token FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN token IN {_stop_sql} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stopword,
           CAST(SUM(CASE WHEN token IN {_stop_sql} THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS stopword_share
    FROM tok GROUP BY source
    """,
)
def docs_stopword_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword mass per source — the classic language-naturalness
    signal (CCNet/Gopher both gate on it): machine-generated or
    template text carries far less function-word mass than natural
    prose. Counts ride integers; the share is one division.

    Scale: explode + map-side conditional count per source; the
    stopword list is a compile-time literal (no join).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.expr(_TOKENS)).alias("token")
    )
    is_stop = F.when(F.col("token").isin(*_STOPWORDS), 1).otherwise(0)
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(is_stop).cast("long").alias("n_stopword"),
        (
            F.sum(is_stop).cast("double") / F.count(F.lit(1))
        ).alias("stopword_share"),
    )


@query(
    "docs_sentence_length_cv",
    oracle=f"""
    WITH s AS (
      SELECT lang, UNNEST({_SENTENCES_SQL}) AS sent FROM documents
    ),
    x AS (
      SELECT lang,
             CAST(len(list_filter(regexp_split_to_array(sent, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS words
      FROM s
    ),
    g AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_sentences,
             CAST(SUM(words) AS BIGINT) AS sw,
             CAST(SUM(CAST(words AS HUGEINT) * CAST(words AS HUGEINT))
                  AS HUGEINT) AS sww
      FROM x GROUP BY 1
    )
    SELECT lang, n_sentences,
           CAST(sw AS DOUBLE) / n_sentences AS mean_words,
           CAST(CAST(n_sentences AS HUGEINT)
                * (CAST(n_sentences AS HUGEINT) * sww
                   - CAST(sw AS HUGEINT) * CAST(sw AS HUGEINT))
                AS DOUBLE)
             / (CAST(n_sentences - 1 AS DOUBLE) * CAST(sw AS DOUBLE)
                * CAST(sw AS DOUBLE)) AS cv2
    FROM g WHERE n_sentences >= 2
    """,
)
def docs_sentence_length_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-length dispersion per language as the SQUARED coefficient
    of variation — cv² = n(nΣx²−(Σx)²)/((n−1)(Σx)²), the log-free,
    sqrt-free form that stays an integer ratio until its single
    division. Uniform machine text has cv² ≈ 0; natural prose sits
    around 0.3–0.7 — a per-language quality gate threshold.

    Scale: sentence explode is map-side (array ops per row), then one
    aggregate to |langs| rows. The n·(nΣx²−(Σx)²) product rides
    decimal(38,0)/HUGEINT (the variance-family discipline), so the
    identity holds at any corpus size; the denominator folds in double
    (each factor exact, products correctly rounded, identical
    evaluation order in both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "lang", F.explode(F.expr(_SENTENCES)).alias("sent")
    )
    words = F.expr(
        "CAST(size(filter(split(sent, '\\\\s+'), t -> t != '')) AS BIGINT)"
    )
    dec = "decimal(38,0)"
    wd = F.col("words").cast(dec)
    g = s.select("lang", words.alias("words")).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        F.sum("words").cast("long").alias("sw"),
        F.sum(wd * wd).cast(dec).alias("sww"),
    )
    n = F.col("n_sentences")
    nd = n.cast(dec)
    swd = F.col("sw").cast(dec)
    return g.filter(n >= 2).select(
        "lang",
        "n_sentences",
        (F.col("sw").cast("double") / n).alias("mean_words"),
        (
            (nd * (nd * F.col("sww") - swd * swd)).cast("double")
            / (
                (n - 1).cast("double")
                * F.col("sw").cast("double")
                * F.col("sw").cast("double")
            )
        ).alias("cv2"),
    )


@query(
    "text_ttr_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST({_TOKENS_SQL}) AS token FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT token) AS DOUBLE) / COUNT(*) AS ttr,
           CAST(COUNT(DISTINCT token) AS DOUBLE)
             / sqrt(CAST(COUNT(*) AS DOUBLE)) AS root_ttr
    FROM tok GROUP BY source
    """,
)
def text_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level type–token ratio per source (text_token_stats is the
    per-document cut; this is the pooled vocabulary-richness ledger).
    Root-TTR (Guiraud's R = V/√N) corrects plain TTR's length bias so
    sources of different volume compare fairly. sqrt is IEEE
    correctly-rounded in both engines, so the floats stay bit-identical
    (contrast log, which is not and is banned from oracle paths).

    Scale: explode + per-source distinct aggregate — the distinct is the
    one shuffle, on (source, token).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.expr(_TOKENS)).alias("token")
    )
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count_distinct(F.col("token")).cast("long").alias("n_distinct"),
        (
            F.count_distinct(F.col("token")).cast("double")
            / F.count(F.lit(1))
        ).alias("ttr"),
        (
            F.count_distinct(F.col("token")).cast("double")
            / F.sqrt(F.count(F.lit(1)).cast("double"))
        ).alias("root_ttr"),
    )


@query(
    "text_cooccurrence_lift",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, UNNEST({_TOKENS_SQL}) AS token FROM documents
      )
    ),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
           FROM tok GROUP BY 1),
    v AS (SELECT token, df FROM df ORDER BY df DESC, token LIMIT 30),
    tv AS (SELECT t.doc_id, t.token FROM tok t JOIN v USING (token)),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    p AS (
      SELECT a.token AS token_a, b.token AS token_b,
             CAST(COUNT(*) AS BIGINT) AS cooc_docs
      FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2
    )
    SELECT p.token_a, p.token_b, p.cooc_docs,
           va.df AS df_a, vb.df AS df_b,
           CAST(p.cooc_docs * d.n_docs AS DOUBLE) / (va.df * vb.df) AS lift
    FROM p
    JOIN v va ON va.token = p.token_a
    JOIN v vb ON vb.token = p.token_b, d
    """,
)
def text_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level co-occurrence lift between head-vocabulary tokens:
    lift(a,b) = P(a,b)/(P(a)P(b)) computed in the cross-multiplied
    integer form cooc·D/(df_a·df_b) — PMI without the logarithm, same
    ordering, bit-exact. Lift ≫ 1 marks collocations (phrases the
    tokenizer should keep together); lift < 1 marks topical repulsion.

    Scale: the pair join is restricted to the top-30-df vocabulary
    BEFORE the self-join (a 30-row broadcast filter), so per-document
    fan-out is bounded by 30²/2 regardless of corpus size — the
    unbounded version of this query is exactly the all-pairs shape the
    dedup-economics verdict banned.
    """
    # (r14: a rebalanced tokenizer input was measured flat-to-worse —
    # the distinct + 30-token broadcast filter dominate; reverted)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("token")
    ).distinct()
    df = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    v = df.orderBy(F.desc("df"), F.asc("token")).limit(30)
    tv = tok.join(F.broadcast(v.select("token")), "token")
    d = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    a = tv.select(F.col("doc_id"), F.col("token").alias("token_a"))
    b = tv.select(F.col("doc_id").alias("doc_b"), F.col("token").alias("token_b"))
    p = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("token_a") < F.col("token_b")),
        )
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cooc_docs"))
    )
    va = v.select(F.col("token").alias("token_a"), F.col("df").alias("df_a"))
    vb = v.select(F.col("token").alias("token_b"), F.col("df").alias("df_b"))
    return (
        p.join(F.broadcast(va), "token_a")
        .join(F.broadcast(vb), "token_b")
        .crossJoin(d)
        .select(
            "token_a",
            "token_b",
            "cooc_docs",
            "df_a",
            "df_b",
            (
                (F.col("cooc_docs") * F.col("n_docs")).cast("double")
                / (F.col("df_a") * F.col("df_b"))
            ).alias("lift"),
        )
    )


@query(
    "docs_trigram_uniqueness_hist",
    oracle="""
    WITH x AS (
      SELECT CAST(length(text) - 2 AS BIGINT) AS n_tri,
             CAST(len(list_distinct(
               list_transform(range(1, length(text) - 1),
                              i -> substr(text, CAST(i AS INTEGER), 3))
             )) AS BIGINT) AS n_uniq
      FROM documents WHERE length(text) >= 3
    )
    SELECT (n_uniq * 10) // n_tri AS uniq_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(n_uniq) AS BIGINT) AS DOUBLE)
             / CAST(SUM(n_tri) AS BIGINT) AS pooled_uniqueness
    FROM x GROUP BY 1
    """,
)
def docs_trigram_uniqueness_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Character-trigram uniqueness histogram — the compression-ratio
    proxy quality filters use without running a compressor: distinct
    trigrams over total trigrams per document, bucketed by the integer
    division (uniq·10)//total so bucket edges can't sit on float seams.
    Highly repetitive (template/spam) documents land in the low
    buckets; the pooled ratio per bucket is one division of exact sums.

    Scale: the trigram set is computed per row with array expressions
    (no explode, no shuffle of trigram rows); the histogram aggregate
    is map-side to ≤11 rows. r14: rebalanced — the per-row trigram
    array build is the whole cost and otherwise runs in the one-task
    scan stage of the single-row-group fixture file.
    """
    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    x = docs.filter(F.length("text") >= 3).select(
        (F.length("text") - 2).cast("long").alias("n_tri"),
        F.expr(
            "CAST(size(array_distinct(transform("
            "sequence(1, length(text) - 2), "
            "i -> substr(text, i, 3)))) AS BIGINT)"
        ).alias("n_uniq"),
    )
    return (
        x.withColumn("uniq_bucket", F.expr("(n_uniq * 10) div n_tri"))
        .groupBy("uniq_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.sum("n_uniq").cast("long").cast("double")
                / F.sum("n_tri").cast("long")
            ).alias("pooled_uniqueness"),
        )
    )


@query(
    "docs_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST({_TOKENS_SQL}) AS token FROM documents
    ),
    f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
          FROM tok GROUP BY 1),
    r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token)
                 AS rank FROM f),
    t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens,
                 CAST(COUNT(*) AS BIGINT) AS vocab_size FROM f)
    SELECT k AS top_k,
           (SELECT CAST(SUM(freq) AS BIGINT) FROM r WHERE rank <= k)
             AS covered_tokens,
           t.total_tokens,
           t.vocab_size,
           CAST((SELECT CAST(SUM(freq) AS BIGINT) FROM r WHERE rank <= k)
                AS DOUBLE) / t.total_tokens AS coverage_share
    FROM (VALUES (CAST(10 AS BIGINT)), (CAST(100 AS BIGINT)),
                 (CAST(1000 AS BIGINT))) AS ks(k), t
    """,
)
def docs_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-vocabulary coverage curve: what share of all token
    occurrences do the top 10 / 100 / 1000 types cover? The table a
    tokenizer-budget decision reads (a 1k vocab covering 99 % means BPE
    merges buy little; 60 % means they buy a lot).

    Scale: the per-k head sums are TakeOrderedAndProject over the
    vocabulary relation (vocabulary-sized, not corpus-sized — the only
    rank consumer is a top-k), never a corpus sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    t = f.agg(
        F.sum("freq").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    parts = []
    for k in (10, 100, 1000):
        head = (
            f.orderBy(F.desc("freq"), F.asc("token"))
            .limit(k)
            .agg(F.sum("freq").cast("long").alias("covered_tokens"))
        )
        parts.append(
            head.crossJoin(t).select(
                F.lit(k).cast("long").alias("top_k"),
                "covered_tokens",
                "total_tokens",
                "vocab_size",
                (
                    F.col("covered_tokens").cast("double")
                    / F.col("total_tokens")
                ).alias("coverage_share"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionAll(part)
    return out


@query(
    "docs_token_length_profile",
    oracle=f"""
    WITH tok AS (
      SELECT lang, UNNEST({_TOKENS_SQL}) AS token FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(length(token)) AS BIGINT) AS char_sum,
           CAST(MAX(length(token)) AS BIGINT) AS max_token_len,
           CAST(SUM(length(token)) AS DOUBLE) / COUNT(*)
             AS avg_token_len
    FROM tok GROUP BY lang
    """,
)
def docs_token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and max token length per language — the tokenizer-budget
    scout (languages with long average tokens fragment differently
    under BPE; a max_token_len outlier is usually concatenation junk).
    Integer sums, one division.

    Scale: explode + map-side aggregate to |langs| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.expr(_TOKENS)).alias("token"))
    return tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.length("token")).cast("long").alias("char_sum"),
        F.max(F.length("token")).cast("long").alias("max_token_len"),
        (
            F.sum(F.length("token")).cast("double") / F.count(F.lit(1))
        ).alias("avg_token_len"),
    )


@query(
    "docs_numeric_token_share",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST({_TOKENS_SQL}) AS token FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN regexp_matches(token, '^[0-9]+$')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
           CAST(SUM(CASE WHEN regexp_matches(token, '^[0-9]+$')
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS numeric_share
    FROM tok GROUP BY source
    """,
)
def docs_numeric_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of purely numeric tokens per source — the table/log
    contamination signal (C4 dropped pages drowning in digits; a source
    whose numeric share spikes is shipping CSV dumps as prose). Counts
    ride integers; the share is one division.

    Scale: explode + map-side conditional count; the regex runs
    JVM-side inside codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.expr(_TOKENS)).alias("token"))
    is_num = F.when(F.col("token").rlike("^[0-9]+$"), 1).otherwise(0)
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(is_num).cast("long").alias("n_numeric"),
        (F.sum(is_num).cast("double") / F.count(F.lit(1))).alias(
            "numeric_share"
        ),
    )


@query(
    "docs_source_diversity",
    oracle="""
    WITH q AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS q
      FROM documents GROUP BY 1, 2
    ),
    g AS (
      SELECT lang,
             CAST(SUM(q) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_sources,
             CAST(SUM(q * q) AS BIGINT) AS sq
      FROM q GROUP BY 1
    )
    SELECT lang, n_docs, n_sources,
           CAST(sq AS DOUBLE) / (n_docs * n_docs) AS source_hhi,
           CAST(n_docs * n_docs AS DOUBLE) / sq AS effective_sources
    FROM g
    """,
)
def docs_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source diversity per language via the inverse participation ratio:
    effective_sources = (Σq)²/Σq² — the entropy-free diversity number (a
    language drawing equally from s sources scores exactly s; one
    dominant source collapses it toward 1). The log-free twin of a
    Shannon diversity check, so it keeps the exact-oracle contract; the
    HHI is the same statistic inverted.

    Scale: two map-side aggregates; each float is one division of exact
    integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    q = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("q")
    )
    g = q.groupBy("lang").agg(
        F.sum("q").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sq"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_sources",
        (
            F.col("sq").cast("double")
            / (F.col("n_docs") * F.col("n_docs"))
        ).alias("source_hhi"),
        (
            (F.col("n_docs") * F.col("n_docs")).cast("double")
            / F.col("sq")
        ).alias("effective_sources"),
    )


@query(
    "docs_lang_source_matrix",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
         srcs AS (SELECT DISTINCT source FROM documents),
         obs AS (
           SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1, 2
         )
    SELECT l.lang, s.source,
           CAST(COALESCE(o.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(CASE WHEN o.n_docs IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_gap
    FROM langs l CROSS JOIN srcs s
    LEFT JOIN obs o ON o.lang = l.lang AND o.source = s.source
    """,
)
def docs_lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL language × source coverage matrix including empty cells
    (is_gap = 1) — the completeness audit a multilingual corpus
    curator runs before promising coverage: an observed-cells-only
    rollup cannot show which (lang, source) combinations are missing,
    and at 100 TB a silent gap is indistinguishable from a filter bug
    without this table.

    Scale: the cross join multiplies two DISTINCT dimension relations
    (|langs|·|sources| cells — dimension-sized by construction, the
    one place a cross join is the honest plan); the observed counts
    join back dimension-keyed.
    """
    docs = load_table(spark, sf_dir, "documents")
    langs = docs.select("lang").distinct()
    srcs = docs.select("source").distinct()
    obs = docs.groupBy(
        F.col("lang").alias("o_lang"), F.col("source").alias("o_source")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        langs.crossJoin(srcs)
        .join(
            obs,
            (F.col("lang") == F.col("o_lang"))
            & (F.col("source") == F.col("o_source")),
            "left",
        )
        .select(
            "lang",
            "source",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_docs"),
            F.when(F.col("n").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_gap"),
        )
    )


@query(
    "docs_rare_token_burden",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST({_TOKENS_SQL}) AS token FROM documents
    ),
    freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY 1
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN freq.f <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(SUM(CASE WHEN freq.f <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS rare_burden
    FROM tok t JOIN freq ON freq.token = t.token
    GROUP BY t.source
    """,
)
def docs_rare_token_burden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of token occurrences whose type appears ≤2 times in the
    WHOLE corpus, per source — the OCR-noise / mojibake signal (garbled
    text mints one-off types; clean prose reuses the vocabulary). The
    complement of hapax rate: that counts rare TYPES, this weighs their
    burden on each source's token stream.

    Scale: one global frequency aggregate, then a token-keyed join back
    — both relations carry (token, small-int) rows only; the corpus
    text never shuffles twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.expr(_TOKENS)).alias("token"))
    freq = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    rare = F.when(F.col("f") <= 2, 1).otherwise(0)
    return (
        tok.join(freq, "token")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(rare).cast("long").alias("n_rare"),
            (F.sum(rare).cast("double") / F.count(F.lit(1))).alias(
                "rare_burden"
            ),
        )
    )


@query(
    "docs_cross_lang_token_leakage",
    oracle=f"""
    WITH lt AS (
      SELECT DISTINCT lang, token FROM (
        SELECT lang, UNNEST({_TOKENS_SQL}) AS token FROM documents
      )
    ),
    spread AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM lt GROUP BY 1
    ),
    tok AS (
      SELECT lang, UNNEST({_TOKENS_SQL}) AS token FROM documents
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN s.n_langs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN s.n_langs >= 2 THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS leakage_share
    FROM tok t JOIN spread s ON s.token = t.token
    GROUP BY t.lang
    """,
)
def docs_cross_lang_token_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How much of each language's token stream is vocabulary shared
    with ANOTHER language? High leakage means language-ID boundaries
    are soft (code-switching, loanwords, or mislabeled documents) and
    per-language statistics contaminate each other — the check run
    before trusting any per-lang quality gate.

    Scale: the distinct (lang, token) relation is vocabulary-sized; the
    spread join back is token-keyed with small-int payloads.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.expr(_TOKENS)).alias("token"))
    spread = tok.distinct().groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_langs")
    )
    shared = F.when(F.col("n_langs") >= 2, 1).otherwise(0)
    return (
        tok.join(spread, "token")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(shared).cast("long").alias("n_shared"),
            (F.sum(shared).cast("double") / F.count(F.lit(1))).alias(
                "leakage_share"
            ),
        )
    )


@query(
    "docs_prefix_boilerplate_share",
    oracle="""
    WITH p AS (
      SELECT source, md5(substr(lower(text), 1, 32)) AS pf
      FROM documents
    ),
    g AS (
      SELECT pf, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY 1
    ),
    tagged AS (
      SELECT p.source, CASE WHEN g.c >= 2 THEN 1 ELSE 0 END AS boiler
      FROM p JOIN g ON g.pf = p.pf
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(boiler) AS BIGINT) AS n_shared_prefix,
           CAST(SUM(boiler) AS DOUBLE) / COUNT(*) AS boilerplate_share
    FROM tagged GROUP BY 1
    """,
)
def docs_prefix_boilerplate_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leading-boilerplate audit: the share of each source's documents
    whose first 32 characters are shared with at least one other doc —
    scraped nav bars, license headers, and template intros show up here
    long before full-document dedup fires (the prefix is the cheapest
    boilerplate fingerprint; C4 used line-level hashes, this is the
    head-of-doc cut of the same idea).

    Scale: the join key is a 16-byte md5 of a 32-char prefix — the text
    never shuffles; the rollup is |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    pf = F.md5(F.substring(F.lower("text"), 1, 32))
    p = docs.select("source", pf.alias("pf"))
    g = p.groupBy("pf").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tagged = p.join(g, "pf").select(
        "source", (F.col("c") >= 2).cast("long").alias("boiler")
    )
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("boiler").cast("long").alias("n_shared_prefix"),
        (F.sum("boiler").cast("double") / F.count(F.lit(1))).alias(
            "boilerplate_share"
        ),
    )


@query(
    "docs_sentence_len_percentiles_by_lang",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang, UNNEST({_SENTENCES_SQL}) AS sent
      FROM documents
    ),
    wl AS (
      SELECT lang, doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(sent),
                  '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
             row_number() OVER (PARTITION BY lang ORDER BY
               CAST(len(list_filter(regexp_split_to_array(lower(sent),
                    '\\s+'), x -> x <> '')) AS BIGINT), doc_id, sent)
               AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM s
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_sentences,
           CAST(MAX(CASE WHEN rnk = GREATEST(1, (25 * n + 99) // 100)
                    THEN n_words END) AS BIGINT) AS p25_words,
           CAST(MAX(CASE WHEN rnk = GREATEST(1, (50 * n + 99) // 100)
                    THEN n_words END) AS BIGINT) AS p50_words,
           CAST(MAX(CASE WHEN rnk = GREATEST(1, (75 * n + 99) // 100)
                    THEN n_words END) AS BIGINT) AS p75_words
    FROM wl GROUP BY 1
    """,
)
def docs_sentence_len_percentiles_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language sentence-length quartiles (words per sentence) as
    EXACT type-1 order statistics — the segmentation sanity check before
    language-specific length gates: a language whose p50 sits at 2 words
    has a broken splitter (or a chat-log corpus), and a filter tuned on
    English p-values mis-fires on it.

    Exactness: the repo's terminal-punctuation sentence rule
    (_SENTENCES) and whitespace word rule, ranks on the deterministic
    (n_words, doc_id, sentence) order, cutoffs at ceil(q·n).

    Scale: one lang exchange carries the rank window (|langs| is tiny;
    per-lang volume is the skew note — the two-phase swap applies as in
    _take_lang_quota if a single language dominates).
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "lang", F.explode(F.expr(_SENTENCES)).alias("sent")
    )
    n_words = F.size(
        F.expr(
            "filter(split(lower(sent), '\\\\s+'), x -> x != '')"
        )
    ).cast("long")
    w = W.partitionBy("lang").orderBy(n_words, "doc_id", "sent")
    wl = s.select(
        "lang",
        n_words.alias("n_words"),
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n"),
    )
    def cut(q):
        return F.max(
            F.when(
                F.col("rnk")
                == F.greatest(
                    F.lit(1), F.expr(f"({q} * n + 99) div 100")
                ),
                F.col("n_words"),
            )
        ).cast("long")
    return wl.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_sentences"),
        cut(25).alias("p25_words"),
        cut(50).alias("p50_words"),
        cut(75).alias("p75_words"),
    )


@query(
    "docs_token_repeat_ratio_by_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, UNNEST({_TOKENS_SQL}) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY 1, 2, 3
    ),
    per AS (
      SELECT doc_id, source,
             CAST(MAX(c) AS BIGINT) AS max_tok,
             CAST(SUM(c) AS BIGINT) AS n_tok
      FROM cnt GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(max_tok) AS BIGINT) AS sum_max_token,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(max_tok) AS DOUBLE) / SUM(n_tok) AS pooled_repeat_ratio
    FROM per GROUP BY 1
    """,
)
def docs_token_repeat_ratio_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-repetition profile per source: the pooled ratio of each
    document's MOST frequent token to its token count — the keyword-spam
    / degenerate-generation signal (a source whose top token carries 30%
    of its token mass is stuffing or boilerplate). Pooled as Σmax/Σn —
    one exact division per source, not an average of per-doc floats.

    Scale: the (doc, token) count is the one explode shuffle (tokens
    never leave their partition after it); per-doc and per-source
    rollups are map-side partial aggregates.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.explode(F.expr(_TOKENS)).alias("tok")
    )
    cnt = t.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per = cnt.groupBy("doc_id", "source").agg(
        F.max("c").cast("long").alias("max_tok"),
        F.sum("c").cast("long").alias("n_tok"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("max_tok").cast("long").alias("sum_max_token"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        (F.sum("max_tok").cast("double") / F.sum("n_tok")).alias(
            "pooled_repeat_ratio"
        ),
    )


@query(
    "docs_incremental_vocab_novelty",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source, unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    base_vocab AS (
      SELECT DISTINCT w FROM words WHERE source NOT IN ('src18', 'src19')
    ),
    incr AS (
      SELECT source, w,
             CAST(COUNT(*) AS BIGINT) AS occ,
             MAX(CASE WHEN b.w IS NULL THEN 1 ELSE 0 END) AS is_novel
      FROM (SELECT source, w FROM words
            WHERE source IN ('src18', 'src19')) i
      LEFT JOIN base_vocab b USING (w)
      GROUP BY source, w
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           CAST(SUM(occ) AS BIGINT) AS total_tokens,
           CAST(SUM(is_novel) AS BIGINT) AS novel_tokens,
           CAST(SUM(CASE WHEN is_novel = 1 THEN occ ELSE 0 END) AS BIGINT)
             AS novel_occurrences,
           CAST(SUM(is_novel) AS DOUBLE) / COUNT(*) AS novel_share
    FROM incr GROUP BY source
    """,
)
def docs_incremental_vocab_novelty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental vocabulary novelty: when the src18/src19 increment
    lands (the same increment scenario as pipeline_bpe_extend /
    dedup_incremental_batch / dedup_incremental_streamed), how much NEW
    vocabulary does each new source actually contribute against the
    saved base vocabulary? Per increment source: distinct tokens, total
    token occurrences, never-seen-in-base tokens, their occurrence
    mass, and the novel share — the go/no-go diagnostic for whether a
    new crawl source extends coverage or re-treads the corpus (and the
    sizing input for pipeline_bpe_extend's continued merges: a ~0
    novel share means the frozen-prefix vocabulary already covers the
    increment).

    Exactness: counts are exact integers; novel_share is one IEEE
    division — full hash-exact DuckDB oracle.

    Scale: in production the base vocabulary is SAVED STATE (one
    (token) relation, refreshed by the same associative min/count merge
    as docs_vocab_growth's first-seen table) — only the increment is
    tokenized. The join is vocabulary × increment-vocabulary on the
    token hash partitioning; no broadcast hint (a 100 TB corpus's
    vocabulary is fact-sized — the pipeline_funnel_by_lang lesson), AQE
    picks the strategy when the increment side is small. The final
    aggregate is per-source — 2 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source").isin("src18", "src19")
    words = docs.select(
        "source", F.explode(F.expr(_TOKENS)).alias("w")
    )
    base_vocab = (
        words.filter(~is_new).select("w").distinct()
        .withColumn("in_base", F.lit(1))
    )
    incr = (
        words.filter(is_new)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
        .join(base_vocab, "w", "left")
        .withColumn(
            "is_novel",
            F.when(F.col("in_base").isNull(), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
    )
    return incr.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
        F.sum("occ").cast("long").alias("total_tokens"),
        F.sum("is_novel").cast("long").alias("novel_tokens"),
        F.sum(
            F.when(F.col("is_novel") == 1, F.col("occ")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("novel_occurrences"),
        (
            F.sum("is_novel").cast("double") / F.count(F.lit(1))
        ).alias("novel_share"),
    )
