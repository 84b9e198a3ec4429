"""Fuzzy entity resolution: SymSpell-style edit-distance linkage.

Record linkage ("are Customer#000000012 and Customer#000000013 the same
entity up to a typo?") is the classic data-cleaning operator a
training-data / MDM pipeline runs before dedup. The naive formulation is
an all-pairs `levenshtein` — O(n²) comparisons, which no blocking-free
engine survives at 100 TB. The scale-correct shape is the public
SymSpell / FastSS deletion-neighborhood algorithm: every string of
length L expands to its L one-character-deletion variants (plus itself);
two strings within edit distance 1 (substitution, insertion, or
deletion) necessarily SHARE at least one variant, so candidate
generation is a plain equi-join on the variant string — a hash shuffle
on a short key, linear in corpus size — and the exact `levenshtein`
check runs only on the candidate pairs.

Reference parity: RedisGears has no string-similarity operator; a
migrating user gets this as part of the Spark-native cleaning layer
(same additive role as the dedup/similarity families, SURVEY §2 LLM
table). Both engines run the identical expansion + verify, so the
operator carries a full exact DuckDB oracle despite being a "fuzzy"
match: the candidate set and the distance are both deterministic.

Scale shape: variants per row = length+1 (about 19 here) — the shuffle
is |rows|·(L+1) short strings, NOT |rows|². The verify join is
candidates-only. No Python anywhere: expansion is a Catalyst
`transform(sequence(...))`, distance is the built-in JVM `levenshtein`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redisgears_spark.operators.registry import query
from redisgears_spark.sources.keyspace import load_table

# One fixed upper bound for the deletion-position series in BOTH engines
# (DuckDB's generate_series cannot be correlated to a column inside a
# lateral join); positions past the string length are filtered. 40 comfortably
# covers the fixture's 18-char names; a guard in the Spark builder raises
# loudly if a longer name ever appears rather than silently missing pairs.
_MAX_NAME_LEN = 40

# corpus size up to which the broadcast variant self-join beats the
# grouped numpy verify kernel (measured r14: join 1.4 s vs kernel 2.6 s
# at 15k customers; kernel 12 s vs join 43 s at 150k — the crossover
# sits near the broadcast threshold, ~50k rows of variants x 19)
_JOIN_PATH_MAX_ROWS = 50_000

_FUZZY_ORACLE = f"""
WITH pos AS (SELECT i FROM generate_series(1, {_MAX_NAME_LEN}) AS t(i)),
variants AS (
  SELECT DISTINCT c_custkey, c_name,
         substr(c_name, 1, i - 1) || substr(c_name, i + 1) AS v
  FROM customer JOIN pos ON i <= length(c_name)
  UNION
  SELECT c_custkey, c_name, c_name AS v FROM customer
),
cand AS (
  SELECT DISTINCT a.c_custkey AS ka, b.c_custkey AS kb,
                  a.c_name AS na, b.c_name AS nb
  FROM variants a JOIN variants b ON a.v = b.v AND a.c_custkey < b.c_custkey
),
pairs AS (
  SELECT ka, kb FROM cand WHERE levenshtein(na, nb) <= 1
)
SELECT ka AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(MIN(kb) AS BIGINT) AS nearest_neighbor
FROM (SELECT ka, kb FROM pairs UNION ALL SELECT kb, ka FROM pairs) s(ka, kb)
GROUP BY ka
"""


def _match_kernel(batches):
    """Per-group edit-distance-≤1 verification, vectorized.

    Input rows: one variant group each, `ms: list<struct<c_custkey,
    c_name>>` (k ≥ 2 members sharing one deletion variant). Output:
    oriented (ka < kb) matched key pairs, with multiplicity across
    groups (the caller dedups).

    Within a shared-variant group, `levenshtein(na, nb) <= 1` is
    equivalent to: lengths differ (by exactly 1 — then the shorter
    member IS the variant and the longer deletes one char to reach it)
    OR equal lengths with char-hamming <= 1. Group pair indices come
    from a cached `np.triu_indices` table; the hamming test is one
    chunked uint32 char-matrix compare over all of the task's pairs —
    no per-pair Python, no join.
    """
    import numpy as np
    import pyarrow as pa

    triu_cache: dict = {}
    chunk = 1 << 21  # pairs per compare chunk (~300 MB traffic at U40)

    for batch in batches:
        ms = batch.column(0)
        if ms.offset != 0:  # sliced list arrays: fall back to a copy
            ms = pa.concat_arrays([ms])
        offsets = ms.offsets.to_numpy()
        values = ms.values
        keys = values.field(0).to_numpy(zero_copy_only=False)
        names_obj = values.field(1).to_numpy(zero_copy_only=False)
        if keys.size == 0:
            continue
        chars = names_obj.astype(np.str_)  # '<U<maxlen>', NUL-padded
        lens = np.char.str_len(chars)
        mat = chars.view(np.uint32).reshape(chars.size, -1)

        a_parts, b_parts = [], []
        for i in range(offsets.size - 1):
            s, e = int(offsets[i]), int(offsets[i + 1])
            k = e - s
            if k < 2:
                continue
            pair = triu_cache.get(k)
            if pair is None:
                pair = np.triu_indices(k, 1)
                triu_cache[k] = pair
            a_parts.append(pair[0] + s)
            b_parts.append(pair[1] + s)
        if not a_parts:
            continue
        ia = np.concatenate(a_parts)
        ib = np.concatenate(b_parts)

        out_a, out_b = [], []
        for lo in range(0, ia.size, chunk):
            ca, cb = ia[lo:lo + chunk], ib[lo:lo + chunk]
            la, lb = lens[ca], lens[cb]
            ldiff = np.abs(la - lb)
            if (ldiff > 1).any():
                raise ValueError(
                    "fuzzy-link variant group carries members whose "
                    "lengths differ by more than one deletion"
                )
            match = ldiff == 1  # shorter == variant, longer deletes to it
            eq = ~match
            if eq.any():
                diffs = (mat[ca[eq]] != mat[cb[eq]]).sum(axis=1)
                m = np.zeros(match.size, dtype=bool)
                m[np.flatnonzero(eq)[diffs <= 1]] = True
                match |= m
            ka, kb = keys[ca[match]], keys[cb[match]]
            out_a.append(np.minimum(ka, kb))
            out_b.append(np.maximum(ka, kb))
        ka = np.concatenate(out_a) if out_a else np.empty(0, np.int64)
        kb = np.concatenate(out_b) if out_b else np.empty(0, np.int64)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ka, type=pa.int64()), pa.array(kb, type=pa.int64())],
            names=["ka", "kb"],
        )


@query("customer_fuzzy_link", oracle=_FUZZY_ORACLE)
def customer_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer count of edit-distance-≤1 name neighbors plus the
    smallest neighboring key — the linkage summary a cleaning pipeline
    uses to route records into manual review / auto-merge.

    Candidate generation is the SymSpell deletion-neighborhood equi-join
    (module docstring); `levenshtein ≤ 1` verifies candidates only.
    The verify runs ON THE JOIN OUTPUT, before dedup: a pair can collide
    on several shared variants, so the distance is re-computed per
    collision — but it is a JVM built-in over ≤{_MAX_NAME_LEN}-char
    strings and collisions per pair are bounded by the variant count
    (≤ L+1), whereas deduping first would shuffle the full (ka, kb, na,
    nb) tuple. Verifying first means the dedup `DISTINCT` carries only
    the two integer keys — the widest exchange shrinks ~3× (names are
    functionally dependent on the keys and never need to survive it).

    Scale: two shuffles (variant equi-join, integer-pair distinct that
    AQE coalesces into the final per-key aggregate); the variant key is
    ≤ {_MAX_NAME_LEN} chars so the exchange is narrow. Names longer
    than the shared position bound raise loudly instead of silently
    dropping candidate positions.
    """
    # The fixture table is one small parquet file → one input partition;
    # the variant Generate and the levenshtein probe would run
    # single-threaded on it (measured: 5.8 s for the expansion alone).
    # One cheap 15k-row repartition parallelizes every stage after it;
    # at real scale the scan already has many partitions and this is a
    # near-no-op key redistribution.
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .repartition(spark.sparkContext.defaultParallelism, "c_custkey")
    )
    guarded = cust.withColumn(
        "c_name",
        F.expr(
            f"CASE WHEN length(c_name) > {_MAX_NAME_LEN} THEN"
            f" raise_error('customer_fuzzy_link: name longer than the"
            f" {_MAX_NAME_LEN}-char deletion-variant bound')"
            f" ELSE c_name END"
        ),
    )
    variants = guarded.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.expr(
                "array_distinct(concat("
                " transform(sequence(1, length(c_name)),"
                "   i -> concat(substring(c_name, 1, i - 1),"
                "               substring(c_name, i + 1, length(c_name)))),"
                " array(c_name)))"
            )
        ).alias("v"),
    )
    # r14: candidate verification runs as a vectorized numpy kernel
    # over each variant's member group instead of a variants⋈variants
    # self-join — at 10x the bench fixture the join enumerated ~108M
    # candidate occurrences through hash-join machinery (43 s on 32
    # cores; the 8-core 100x leg read 235x its sf0.01 time). One
    # shuffle groups the variant rows; the kernel (_match_kernel)
    # generates each group's k² pairs with cached triu indices and
    # verifies them with ONE chunked char-matrix compare. The match SET
    # is provably the join's: a pair is emitted iff it shares a variant
    # (the same completeness property), and within a shared-variant
    # group `levenshtein <= 1` reduces exactly to the kernel's test —
    # members differ in length by at most 1 (group lengths are |v| and
    # |v|+1); a cross-length pair always matches (the shorter member IS
    # the variant, the longer deletes one char to reach it, lev = 1),
    # and an equal-length pair matches iff char-hamming <= 1 (an
    # equal-length levenshtein-1 edit is exactly one substitution).
    # Pinned against F.levenshtein on randomized groups in
    # tests/test_linkage.py.
    # Strategy switch (measured crossover, r14): at small corpora the
    # all-JVM broadcast self-join wins (the variant relation broadcasts
    # and candidates stream through one codegen stage: 1.4 s vs the
    # kernel's 2.6 s at the 15k-customer bench fixture); past the
    # broadcast scale the grouped kernel wins 3.5x (12 s vs 43 s at
    # 150k customers) because the join enumerates every candidate
    # occurrence through hash-probe machinery. Both paths verify the
    # same candidate set with the same predicate — the equality is
    # pinned by the oracle and the kernel-vs-levenshtein test.
    n_cust = load_table(spark, sf_dir, "customer").count()
    if n_cust <= _JOIN_PATH_MAX_ROWS:
        a = variants.alias("a")
        b = variants.alias("b")
        matched = (
            a.join(
                b,
                (F.col("a.v") == F.col("b.v"))
                & (F.col("a.c_custkey") < F.col("b.c_custkey")),
            )
            .filter(
                F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1
            )
            .select(
                F.col("a.c_custkey").alias("ka"),
                F.col("b.c_custkey").alias("kb"),
            )
            .distinct()
        )
    else:
        members = (
            variants.groupBy("v")
            .agg(
                F.collect_list(
                    F.struct("c_custkey", "c_name")
                ).alias("ms")
            )
            .filter(F.size("ms") >= 2)
            .select("ms")
        )
        matched = members.mapInArrow(_match_kernel, "ka long, kb long").distinct()
    # Dedup the (ka < kb) matches BEFORE the symmetric explode (r14): a
    # pair can collide on several shared variants, and the fixture's
    # dense digit names make matches plentiful (36M at 10x bench scale)
    # — deduping the oriented form shuffles each matched pair once,
    # and the per-key aggregate's map-side partials then reduce the
    # exploded rows to |keys|-bounded partials before the final
    # exchange.
    undirected = matched.select(
        F.explode(
            F.array(
                F.struct(F.col("ka"), F.col("kb")),
                F.struct(
                    F.col("kb").alias("ka"), F.col("ka").alias("kb")
                ),
            )
        ).alias("p")
    ).select("p.ka", "p.kb")
    return undirected.groupBy(F.col("ka").alias("c_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.min("kb").cast("long").alias("nearest_neighbor"),
    )
