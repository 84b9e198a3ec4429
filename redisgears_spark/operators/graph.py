"""Graph analytics over relational facts: co-purchase graph + PageRank.

The co-purchase graph ("parts that appear in the same order") is the
canonical retail/recommendation graph; PageRank over it ranks parts by
how central they are to multi-item baskets. The reference engine runs
arbitrary per-record functions but has no graph layer — this is the
Spark-native capability a migrating user gains (same role the CC label
propagation plays for dedup, dedup.py:192).

Determinism: PageRank is iterative float math in every textbook, which
is NOT reproducible across engines (sum order) — so this implementation
runs ENTIRELY in scaled integers: ranks are fixed-point at SCALE=1e12,
each contribution is floor(rank·85 / (100·deg)), and the damping base
is floor(0.15·SCALE). Integer sums are associative, so every engine,
partitioning, and retry produces bit-identical ranks — which is why
this iterative algorithm can carry a full exact DuckDB oracle (the
oracle unrolls the same 5 iterations as chained CTEs) instead of the
weaker rows-only check iterative ops usually get.

Per-node accumulation rides decimal(38,0) / HUGEINT: a hub node's rank
is bounded by 0.15·SCALE + 0.85·Σ neighbors, which at 1e9-node scale
can exceed int64 — same wrap-risk discipline as the z-score operator
(relational.py events_user_zscore). The hot per-edge quotient runs in
BIGINT behind a loud raise_error guard instead (see _RANK_GUARD:
decimal there measured ~3x slower for arithmetic that stays far below
the guard on any non-pathological graph).

The edge index is MATERIALIZED per invocation to a fresh scratch
parquet (sources.keyspace.scratch_parquet): the 5 PageRank iterations
(and the degree join) scan one materialized adjacency instead of
re-deriving the basket explode per iteration, but nothing persists
across invocations or processes — every call computes from the
lineitem parquet. (The r12 fingerprint-keyed /tmp index served
precomputed adjacency to later *processes* and was removed in r13.)
A DataFrame persist() is NOT a substitute here: two lessons measured
at sf0.1 and kept as policy — (a) an eager localCheckpoint
materializes through the RDD path without AQE (1.3 s → 15-24 s),
(b) in-memory cache reuse is execution-path-dependent, while a
parquet scratch file serves every path identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redisgears_spark.operators.registry import query
from redisgears_spark.sources.keyspace import load_table, scratch_parquet

_SCALE = 1_000_000_000_000  # fixed-point rank scale (1e12)
_BASE = _SCALE * 15 // 100  # (1-d)·SCALE with d = 0.85
_ITERS = 5
_DEC = "decimal(38,0)"


def _oracle_sql() -> str:
    """Unrolled 5-iteration PageRank as chained CTEs — generated by the
    same loop shape the Spark side runs, so both engines execute the
    identical integer recurrence."""
    parts = [
        """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS HUGEINT) AS deg
      FROM edges GROUP BY src
    ),
    pr0 AS (
      SELECT p_partkey AS node, CAST(%(scale)d AS HUGEINT) AS rank
      FROM part
    )""" % {"scale": _SCALE}
    ]
    for k in range(1, _ITERS + 1):
        parts.append(
            """,
    pr%(k)d AS (
      SELECT n.node,
             CAST(%(base)d AS HUGEINT) + COALESCE(SUM(
               (p.rank * 85) // (100 * d.deg)
             ), CAST(0 AS HUGEINT)) AS rank
      FROM pr%(prev)d n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN pr%(prev)d p ON p.node = e.src
      LEFT JOIN deg d ON d.node = e.src
      GROUP BY n.node
    )""" % {"k": k, "prev": k - 1, "base": _BASE}
        )
    parts.append(
        f"""
    SELECT pr{_ITERS}.node AS part_key,
           CAST(COALESCE(deg.deg, 0) AS BIGINT) AS degree,
           CAST(pr{_ITERS}.rank AS BIGINT) AS pagerank_scaled
    FROM pr{_ITERS} LEFT JOIN deg ON deg.node = pr{_ITERS}.node
    """
    )
    return "".join(parts)


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase pairs (pa < pb) via basket explode, not a
    fact self-join: one shuffle on orderkey, C(basket,2) pairs per order
    generated in-task (the orders_market_basket reshape);
    pairs-per-order is bounded by basket size, not table size.

    r13: TWO chained explodes + a pa<pb filter instead of exploding a
    nested transform/slice/struct expression. Generate evaluates its
    input expression per OUTPUT row, so the one-shot pair-array build
    was O(k²) higher-order-function work per emitted pair (the same
    trap the jaccard rewrite measured at 14 s); plain column explodes
    emit k² candidate rows with no per-row lambda evaluation and the
    filter halves them — measured 2.4 → 1.0 s warm for the same
    1.196 M distinct pairs at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    return (
        baskets.select(F.explode("parts").alias("pa"), "parts")
        .select("pa", F.explode("parts").alias("pb"))
        .filter(F.col("pa") < F.col("pb"))
        .distinct()
    )


def _node_deg(edges: DataFrame) -> DataFrame:
    """(node, deg) from the materialized (src, dst) index — one
    map-side-partial count over the scratch scan, never a re-derivation
    from the fact table (the symmetric edge set means out-degree IS
    degree)."""
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast(_DEC).alias("deg")
    )


def _edge_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric (src, dst) adjacency table.

    Built per invocation and materialized to a fresh scratch parquet
    (executor-parallel write, never driver-collected); the caller's
    iterations — including fresh plans and write-path executions — scan
    that materialization. Nothing is reused across invocations.

    r14 single-pass build (guide §2.4, measured at sf0.1/32 cores): the
    former `pairs.select(pa,pb).unionAll(pairs.select(pb,pa))`
    re-derived the WHOLE pairs subtree (basket shuffle + explode +
    distinct) once per union branch — Catalyst materializes nothing —
    then paid a degree aggregate plus an edges⋈deg join to attach deg.
    Both directions now explode in-task from each distinct pair (a
    2-struct array — O(1) per row, not the O(k²) Generate trap), and
    the index is NARROW (src, dst — no deg column, guide §2.3): the
    pagerank iterations never read per-edge deg, and the two consumers
    that need degrees aggregate/broadcast-join the node-sized deg table
    off this scratch for ~0.2 s, so attaching deg per edge paid a
    2.4 M-row window or join for nothing. The hash repartition on src
    sits DIRECTLY below the write with no operator above it, because
    anything whose required distribution subsumes it (a window over
    src was measured doing this) lets the planner swap in its own
    AQE-coalescible exchange — the scratch came out as ONE file and
    every downstream scan ran single-task (8.6 s assortativity; 4.0 s
    with the layout preserved)."""
    pairs = _pairs(spark, sf_dir)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("src"), F.col("pb").alias("dst")
                ),
                F.struct(
                    F.col("pb").alias("src"), F.col("pa").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return scratch_parquet(
        sym.repartition(spark.sparkContext.defaultParallelism, "src"),
        label="graph-edges",
    )


# int64 wraps silently at rank*85 > 2^63; the z-score operator's answer
# is decimal everywhere, but decimal arithmetic measured ~3x slower per
# iteration on the hot 2.4M-row quotient — so the quotient runs in
# BIGINT behind a LOUD per-row guard (raise_error, one integer compare
# per edge), and only the per-node accumulation stays decimal. A graph
# whose rank mass concentrates past the guard fails with a clear
# message instead of producing silently-wrapped ranks.
_RANK_GUARD = (2**63 - 1) // 85

# edge count up to which the 5 damped iterations run as ONE executor
# task (numpy gather/scatter over the edge list — ~16 bytes/edge, so
# 5M edges ≈ 80 MB; the single-task policy of dedup.connected_components
# applied to pagerank). Crossover MEASURED r14 at sf0.1 (2.39 M edges,
# local[32], noop sink, best-of-3): the distributed loop pays 5
# sequential broadcast-build jobs + 5 edge-scan aggregates (~0.65-0.8 s
# each) for integer work the kernel does in ~0.1 s total — end-to-end
# 5.3 s -> 2.9 s with the kernel. The loop's per-iteration fixed cost
# dominates at every size the one-task read can hold; above the limit
# the distributed loop below is the 100 TB path (per-iteration work is
# then corpus-scale and fans out; sf1 has ~24M edges).
_PR_LOCAL_EDGE_LIMIT = 5_000_000


def _pagerank_local_kernel(batches):
    """Single-task twin of the distributed iteration loop: identical
    integer algebra on the same (src, dst) edge list, so ranks are
    bit-identical (integer sums are associative; the quotient is the
    same positive-operand truncating int64 division as the BIGINT DIV).

    Input rows (Arrow batches): edges as (src, dst); part-catalog keys
    ride the same stream as (key, -1) marker rows (part keys are
    positive) — no driver-side collect. Output: the operator's full
    result (connected ∪ isolated).

    Exact integer accumulation without a sort: each contribution c is
    split into 31-bit halves (lo = c & (2^31-1), hi = c >> 31) and each
    half is folded per destination with `np.bincount(weights=...)`.
    bincount sums in float64, and a sum of NON-NEGATIVE integers is
    EXACT as long as the running total stays below 2^53 (every partial
    sum is then an exactly-representable integer); the guards below
    raise loudly long before either half approaches that bound, and the
    recombined inflow = lo + (hi << 31) stays well inside int64.

    Guards, mirroring the distributed path's fail-loud policy:
    * rank > _RANK_GUARD raises before the quotient (same bound the
      per-row CASE enforces in the loop);
    * a lo-half sum ≥ 2^52 or a hi-half sum ≥ 2^31 raises instead of
      risking precision loss / int64 wrap (either implies a per-node
      inflow ≥ ~2^62 — the same magnitude the loop's decimal
      accumulation exists for; the message says so).
    """
    import numpy as np
    import pyarrow as pa

    src_l, dst_l = [], []
    for batch in batches:
        src_l.append(batch.column(0).to_numpy(zero_copy_only=False))
        dst_l.append(batch.column(1).to_numpy(zero_copy_only=False))
    src_all = (
        np.concatenate(src_l).astype(np.int64)
        if src_l
        else np.empty(0, np.int64)
    )
    dst_all = (
        np.concatenate(dst_l).astype(np.int64)
        if dst_l
        else np.empty(0, np.int64)
    )
    is_cat = dst_all == -1
    cat = src_all[is_cat]
    pa_ = src_all[~is_cat]
    pb_ = dst_all[~is_cat]

    out = {"part_key": [], "degree": [], "pagerank_scaled": []}
    if pa_.size:
        # Node ids index working arrays directly when the id space is
        # compact (catalog keys are dense by construction); a sparse id
        # space factorizes through np.unique first — same algebra, one
        # extra O(E log E) mapping.
        max_id = int(
            max(pa_.max(), pb_.max(), cat.max() if cat.size else 0)
        )
        if max_id < (1 << 24):
            width = max_id + 1
            src_m = np.concatenate([pa_, pb_])
            dst_m = np.concatenate([pb_, pa_])
            cat_m = cat
            ids = None
        else:
            ids = np.unique(np.concatenate([pa_, pb_, cat]))
            width = ids.size
            a = np.searchsorted(ids, pa_)
            b = np.searchsorted(ids, pb_)
            src_m = np.concatenate([a, b])
            dst_m = np.concatenate([b, a])
            cat_m = np.searchsorted(ids, cat)
        # deg over the symmetric edge set; the iterated node set is
        # deg ∩ part (the oracle's part-seeded pr0 — orphan sources
        # contribute nothing, exactly the loop's filtered-deg semi-join)
        deg = np.bincount(src_m, minlength=width).astype(np.int64)
        present = deg > 0
        in_part = np.zeros(width, dtype=bool)
        in_part[cat_m] = True

        rank = np.full(width, _SCALE, dtype=np.int64)
        live = present & in_part  # pr_k membership (pr_0 = deg ∩ part)
        lo_mask = np.int64((1 << 31) - 1)
        for _ in range(_ITERS):
            active = live & in_part  # c_tbl = pr ⋈ filtered deg
            r_act = rank[active]
            if r_act.size and r_act.max() > _RANK_GUARD:
                raise ValueError(
                    "pagerank rank exceeds the int64 quotient guard; "
                    "rerun with decimal ranks"
                )
            c = np.zeros(width, dtype=np.int64)
            c[active] = (r_act * 85) // (100 * deg[active])
            ec = c[src_m]
            ea = active[src_m]
            lo = np.bincount(
                dst_m, weights=(ec & lo_mask), minlength=width
            )
            hi = np.bincount(dst_m, weights=(ec >> 31), minlength=width)
            if (lo.size and lo.max() >= float(2**52)) or (
                hi.size and hi.max() >= float(2**31)
            ):
                raise ValueError(
                    "pagerank inflow exceeds the int64 accumulation "
                    "guard; rerun with decimal ranks"
                )
            inflow = lo.astype(np.int64) + (hi.astype(np.int64) << 31)
            got = np.bincount(dst_m, weights=ea, minlength=width)
            live = got > 0
            rank = np.where(live, _BASE + inflow, rank)
        keep = live & in_part
        out["part_key"].append(
            np.flatnonzero(keep).astype(np.int64) if ids is None else ids[keep]
        )
        out["degree"].append(deg[keep])
        out["pagerank_scaled"].append(rank[keep])
        isolated = cat[~present[cat_m]]
    else:
        isolated = cat
    out["part_key"].append(isolated)
    out["degree"].append(np.zeros(isolated.size, dtype=np.int64))
    out["pagerank_scaled"].append(
        np.full(isolated.size, _BASE, dtype=np.int64)
    )
    yield pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(v), type=pa.int64()) for v in out.values()],
        names=list(out.keys()),
    )


def _contribution():
    return F.expr(
        f"CASE WHEN rank > {_RANK_GUARD}L THEN"
        f" raise_error(concat('pagerank rank exceeds the int64 quotient"
        f" guard (', CAST(rank AS STRING), '); rerun with decimal ranks'))"
        f" ELSE CAST((CAST(rank AS BIGINT) * 85)"
        f" DIV (100 * CAST(deg AS BIGINT)) AS DECIMAL(38,0)) END"
    )


@query("part_copurchase_pagerank", oracle=_oracle_sql())
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (5 damped iterations,
    d=0.85, fixed-point integers — see module docstring for why this
    iterative op still carries an exact oracle).

    Scale shape: the adjacency index (src, dst, deg) is built once per
    corpus and served from parquet (module docstring); each iteration
    is then one join against the EXPLICITLY BROADCAST rank table + one
    aggregate shuffle on dst — the rank table is dimension-sized
    (|nodes|), and without the hint the optimizer is free to broadcast
    the far larger edge side instead (measured: five serialized 2.4M-row
    driver broadcasts, ~3 s/iteration). At |nodes| beyond broadcast
    limits the hint comes off and the edge index is bucketed on src
    (sources/bucketed.py layout) so the per-iteration join co-locates
    without moving edges. Lineage grows linearly in iterations — a
    production run at hundreds of iterations would localCheckpoint
    every ~20 rounds. Isolated parts (never co-ordered) keep the
    damping base rank via the LEFT join from the full part catalog.
    """
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node")
    )

    # Compact graph (r14): up to _PR_LOCAL_EDGE_LIMIT edges the whole
    # 5-iteration recurrence runs as ONE executor task over the edge
    # list (the single-task policy of dedup.connected_components)
    # — the distributed loop below pays 5 sequential broadcast-build
    # jobs + 5 edge-scan aggregates of per-job fixed cost for integer
    # gather/scatter a numpy kernel finishes in ~0.2 s. Only the
    # UNDIRECTED pair list is materialized and shipped (the kernel
    # symmetrizes in-task — half the transfer bytes of the full edge
    # index); part-catalog keys ride the same input stream as (key, -1)
    # marker rows, so the kernel needs no driver-side gather. Ranks are
    # bit-identical (integer sums are associative, the quotient is the
    # same truncating int64 division, and both overflow guards fail
    # loudly).
    pairs = scratch_parquet(_pairs(spark, sf_dir), label="graph-pairs")
    n_edges = 2 * pairs.count()  # parquet-metadata count; sizes the strategy
    if n_edges <= _PR_LOCAL_EDGE_LIMIT:
        # coalesce, not repartition: the one kernel task reads the
        # scratch files directly (narrow) instead of paying a
        # pair-list shuffle into a single reducer; mapInArrow hands
        # the columns to numpy zero-copy (a pandas conversion measured
        # ~4x slower for this transfer-bound job)
        stream = pairs.select(
            F.col("pa").alias("src"), F.col("pb").alias("dst")
        ).unionByName(
            part.select(
                F.col("node").alias("src"),
                F.lit(-1).cast("long").alias("dst"),
            )
        )
        return stream.coalesce(1).mapInArrow(
            _pagerank_local_kernel,
            "part_key long, degree long, pagerank_scaled long",
        )

    # Huge graph: the distributed loop over the materialized symmetric
    # index (the pairs scratch explodes both directions once — same
    # layout discipline as _edge_index: hash repartition on src
    # directly below the write so downstream scans stay wide).
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("src"), F.col("pb").alias("dst")
                ),
                F.struct(
                    F.col("pb").alias("src"), F.col("pa").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = scratch_parquet(
        sym.repartition(spark.sparkContext.defaultParallelism, "src"),
        label="graph-edges",
    )

    # the node-degree table is read 5 + 2 times below (one per-iteration
    # contribution build + the seed and final joins) — scratch the 25 k-row
    # relation once instead of re-aggregating the 2.4 M-row edge scratch
    # per reference.
    #
    # The semi-join against the part catalog pins the ITERATED NODE SET
    # to part-seeded nodes (the oracle's pr0): if lineitem.l_partkey
    # ever carried orphans w.r.t. part, a deg-seeded iteration would add
    # nodes the oracle never ranks AND count their contributions, which
    # the oracle's `LEFT JOIN pr` NULL-skips. Filtering deg's ROWS (its
    # VALUES still count every edge, orphan neighbors included — same
    # as the oracle's unfiltered deg CTE) removes orphan sources from
    # every c_tbl (their contributions drop out of the inner join,
    # matching the oracle's NULL-skip) and orphan dsts from the final
    # projection. Bit-identical on orphan-free fixtures; oracle-exact
    # even with orphans.
    deg = scratch_parquet(
        _node_deg(edges).join(F.broadcast(part), "node", "semi"),
        label="graph-deg",
    )

    # The iteration runs over NON-ISOLATED nodes only (r13): the edge set
    # is symmetric, so every node with an outgoing edge also has an
    # incoming one — contrib's groupBy(dst) therefore covers exactly the
    # non-isolated node set every round, and the per-iteration LEFT join
    # against the full part catalog (5 extra join stages) is unnecessary.
    # Isolated parts hold rank = BASE from iteration 1 on (no inflow,
    # they contribute to nobody), so they re-enter once, at the end, as a
    # constant-rank anti-join — bit-identical to iterating them.
    #
    # r13: the damped quotient c = floor(rank·85 / (100·deg)) depends only
    # on the SOURCE node, so it is computed once per node on the
    # dimension-sized rank table (node-sized join + CASE + decimal DIV)
    # and the per-edge work in every iteration is just the broadcast
    # lookup + SUM — the former per-edge quotient evaluated the guarded
    # decimal arithmetic 2.4 M times per iteration for 25 k distinct
    # (rank, deg) inputs.
    pr = deg.select("node", F.lit(_SCALE).cast(_DEC).alias("rank"))
    for _ in range(_ITERS):
        c_tbl = pr.join(deg, "node").select(
            "node", _contribution().alias("c")
        )
        contrib = (
            edges.join(F.broadcast(c_tbl), edges.src == c_tbl.node)
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(_BASE).cast(_DEC) + F.col("inflow")).alias("rank"),
        )
    connected = pr.join(deg, "node").select(
        F.col("node").alias("part_key"),
        F.col("deg").cast("long").alias("degree"),
        F.col("rank").cast("long").alias("pagerank_scaled"),
    )
    isolated = part.join(deg, "node", "left_anti").select(
        F.col("node").alias("part_key"),
        F.lit(0).cast("long").alias("degree"),
        F.lit(_BASE).cast("long").alias("pagerank_scaled"),
    )
    return connected.unionAll(isolated)


_TRI_MIN_SUPPORT = 2  # co-purchase support floor for the triangle subgraph

_TRI_ORACLE = f"""
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb
  HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MIN_SUPPORT}
),
tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.pa = e1.pb
  JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
member AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM member GROUP BY node
"""


@query("part_copurchase_triangles", oracle=_TRI_ORACLE)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the support-pruned co-purchase
    graph — the local clustering signal behind "parts bought together as
    a bundle" (a triangle means three parts that each pairwise co-occur
    in ≥{_TRI_MIN_SUPPORT} orders).

    Triangle enumeration on the RAW co-purchase graph is the textbook
    scale trap: every order's basket is a clique, wedges grow as
    Σ deg², and a 100 TB fact table would enumerate billions of wedge
    candidates. Two structural decisions keep it linear-ish:

    * the support floor (≥{_TRI_MIN_SUPPORT} distinct orders) prunes the
      one-off co-occurrence noise FIRST — a 34× edge reduction at
      sf0.01, and the ratio grows with scale as one-off pairs dominate;
    * edges stay ORIENTED (pa < pb), the standard compact-forward
      trick: each triangle is generated exactly once as
      (a<b<c), never six times, so the wedge join and the closing
      equi-join both run on the oriented edge relation with no
      post-hoc dedup.

    Plan: one basket shuffle on orderkey, one pair-support aggregate,
    then the wedge equi-join on the shared endpoint and the closing
    join on (a,c); every exchange after the baskets carries only
    integer node ids. At larger scale the oriented-edge relation can be
    re-oriented by ascending degree (each edge pointing to the
    higher-degree endpoint) to bound wedge fan-out by sqrt(|E|) — noted
    here because the fixture graph is too small for it to matter.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket explode, not a fact self-join (the _edge_index shape): pairs
    # are generated in-task from each order's sorted distinct parts, so a
    # pair lands at most once per order and COUNT(*) IS the distinct-order
    # support — no count_distinct shuffle of orderkeys
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # r13: the pruned oriented edge set is referenced THREE times by the
    # wedge/closing joins — materialize it once (the support filter makes
    # it small) instead of re-running the basket explode + pair aggregate
    # under each join branch
    edges = scratch_parquet(
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) ->"
                    " transform(slice(parts, i + 2, size(parts) - i - 1),"
                    " y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _TRI_MIN_SUPPORT)
        .select("pa", "pb"),
        "tri-edges",
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("a"),
            F.col("e1.pb").alias("b"),
            F.col("e2.pb").alias("c"),
        )
    )
    # one pass over tri: explode the three roles instead of a 3-way union
    # of projections, which re-evaluated the whole triangle join per leg
    member = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return member.groupBy(F.col("node").alias("part_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


@query(
    "part_copurchase_degree_hist",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT pa AS src FROM pairs
      UNION ALL
      SELECT pb AS src FROM pairs
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM edges GROUP BY src
    ),
    b AS (
      SELECT length(ltrim(bin(degree), '0')) AS bucket, degree FROM deg
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(1 << (bucket - 1) AS BIGINT) AS degree_lo,
           CAST((1 << bucket) - 1 AS BIGINT) AS degree_hi,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(degree) AS BIGINT) AS sum_degree
    FROM b GROUP BY bucket
    """,
)
def part_copurchase_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph — the
    power-law / hub-structure check run before any graph algorithm (a
    heavy-tailed histogram says "salt the hub joins"; pagerank and
    triangle counting both read their cost off this table).

    Exactness: degree is an integer edge count over the SAME distinct
    pair derivation as the pagerank oracle; the bucket is the integer
    bit-length (bin()-string trick, no float log); bounds are shifts.
    Degree >= 1 by construction (a node appears only via an edge), so
    the 0 bucket cannot occur.

    Scale: one straight-line chain (r13) — basket explode → distinct
    pairs → per-node count → ~20-bucket histogram; no edge-index scratch
    materialization, no degree join (the histogram needs only degrees,
    and degree(node) = |pairs touching node| — counting the pair table's
    two endpoint columns IS the degree of the symmetric edge set).
    """
    pairs = _pairs(spark, sf_dir)
    ends = pairs.select(F.col("pa").alias("src")).unionAll(
        pairs.select(F.col("pb").alias("src"))
    )
    deg = ends.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    bucket = F.length(
        F.expr("TRIM(LEADING '0' FROM bin(degree))")
    ).cast("long")
    return (
        deg.select(bucket.alias("bucket"), "degree")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("degree").cast("long").alias("sum_degree"),
        )
        .select(
            "bucket",
            F.expr("shiftleft(1L, cast(bucket as int) - 1)")
            .cast("long")
            .alias("degree_lo"),
            (F.expr("shiftleft(1L, cast(bucket as int))") - 1)
            .cast("long")
            .alias("degree_hi"),
            "n_nodes",
            "sum_degree",
        )
    )


@query(
    "part_copurchase_jaccard",
    oracle="""
    WITH op AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n FROM op GROUP BY part),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM op a JOIN op b ON a.cust = b.cust AND a.part < b.part
      GROUP BY a.part, b.part
      HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b, inter,
           (da.n + db.n - inter) AS union_n,
           CAST(inter AS DOUBLE) / (da.n + db.n - inter) AS jaccard
    FROM pairs
    JOIN deg da ON pairs.part_a = da.part
    JOIN deg db ON pairs.part_b = db.part
    """,
)
def part_copurchase_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item similarity over customer sets: Jaccard between the
    buyer sets of each part pair with >= 3 shared buyers — the
    "customers who bought X also bought Y" table behind co-purchase
    recommendations, normalized so popular parts don't dominate raw
    co-counts (the lift analog of orders_market_basket, set-based).

    Exactness: buyer sets are DISTINCT (customer, part) pairs;
    intersection and degrees are integer counts; Jaccard is ONE
    division.

    Scale: pairs fan out per customer as |parts-per-buyer|² — bounded
    by basket size (a behavioral constant), NOT corpus size, the same
    wedge argument as part_copurchase_degree_hist; the >= 3 support
    HAVING prunes inside the aggregate, and the degree joins are
    unhinted (AQE broadcasts the |parts|-sized side only while it is
    actually small — the dedup-family lesson).

    r14 pair generation: buyer part-SETS are built once per customer
    (collect_set — the distinct lands inside the basket aggregate) and
    pairs explode in-task via TWO CHAINED COLUMN EXPLODES + a pa<pb
    filter — the `_pairs` shape, zero per-output-row lambda work. This
    is NOT the r13-rejected rewrite: that one exploded a nested
    transform/slice/struct pair-array expression, which Generate
    re-evaluates per OUTPUT row (O(k⁴) per buyer, 5.3 → 14.1 s); plain
    column explodes emit k² candidate rows with no re-evaluation. vs
    the r13 self-join form this drops the distinct aggregate, the
    scratch write and the two shuffle-by-cust join sides — the
    map-side-partial pair aggregate consumes in-task rows instead
    (guide §2.1/§2.4), measured 4.4 → 2.3 s at sf0.1 on 32 cores.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    # repartition BELOW the scratch write (the graph-edges row-group
    # lesson): AQE coalesces the aggregate feeding the write to 1-2
    # one-row-group files, and a row group cannot split, so the k²
    # explode + pair aggregate ran near-single-task (measured 7.1 s for
    # the pair aggregate off a 2-file scratch vs 1.6 s off 32 files)
    baskets = scratch_parquet(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(F.collect_set("l_partkey").alias("parts"))
        .repartition(spark.sparkContext.defaultParallelism),
        "copurchase-baskets",
    )
    deg = baskets.select(F.explode("parts").alias("part")).groupBy(
        "part"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .filter(F.col("inter") >= 3)
    )
    da = deg.select(F.col("part").alias("part_a"), F.col("n").alias("n_a"))
    db = deg.select(F.col("part").alias("part_b"), F.col("n").alias("n_b"))
    union_n = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        pairs.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "inter",
            union_n.alias("union_n"),
            (F.col("inter").cast("double") / union_n).alias("jaccard"),
        )
    )


@query(
    "part_copurchase_clusters",
    oracle="""
    WITH RECURSIVE op AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n FROM op GROUP BY part),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM op a JOIN op b ON a.cust = b.cust AND a.part < b.part
      GROUP BY a.part, b.part
      HAVING COUNT(*) >= 3
    ),
    jp AS (
      SELECT part_a, part_b FROM pairs
      JOIN deg da ON pairs.part_a = da.part
      JOIN deg db ON pairs.part_b = db.part
      WHERE CAST(inter AS DOUBLE) / (da.n + db.n - inter) >= 0.1
    ),
    edges AS (
      SELECT part_a AS src, part_b AS dst FROM jp
      UNION ALL
      SELECT part_b, part_a FROM jp
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT node AS part_id, MIN(r) AS cluster_id,
           (MIN(r) = node) AS is_exemplar
    FROM reach GROUP BY node
    """,
)
def part_copurchase_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitute/bundle families: connected components over the
    co-purchase similarity graph (Jaccard >= 0.1, support >= 3) —
    "these parts sell to the same buyers" resolved transitively into
    assortment families, with the min-part-id exemplar per family (the
    dedup_clusters machinery pointed at a product graph instead of a
    document graph).

    Exactness: the edge set is the exact-integer Jaccard filter over
    distinct buyer sets; components reach the same min-label fixpoint
    as the oracle's recursive CTE (the connected_components contract,
    shared with dedup_clusters).

    Scale: the wedge join is bounded by basket size; the component fold
    reuses connected_components, one single-task union-find.
    """
    from redisgears_spark.operators.dedup import connected_components

    pairs = (
        part_copurchase_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.1)
        .select(
            F.col("part_a").alias("a_id"), F.col("part_b").alias("b_id")
        )
    )
    return connected_components(pairs).select(
        F.col("doc_id").alias("part_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_exemplar"),
    )


@query(
    "part_copurchase_assortativity",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY 1
    ),
    xy AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e
      JOIN deg da ON da.node = e.src
      JOIN deg db ON db.node = e.dst
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
               AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
               AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
               AS syy
      FROM xy
    )
    SELECT n AS n_directed_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(CAST(n AS HUGEINT) * sxy
                - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
             / sqrt(CAST(CAST(n AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                         AS DOUBLE)
                    * CAST(CAST(n AS HUGEINT) * syy
                           - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
                           AS DOUBLE)) AS assortativity
    FROM s
    """,
)
def part_copurchase_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson correlation
    of endpoint degrees over all directed edges. Positive = hubs buy
    with hubs (assortative, typical of social graphs); negative = hubs
    anchor leaves (typical of catalogs — accessories attach to a hero
    product). Complements part_copurchase_degree_hist: the histogram
    says hubs exist, this says how they wire.

    Exactness: degree sums ride decimal(38,0)/HUGEINT through the
    Pearson identity; sqrt and one division are the only float ops.

    Scale: degrees come from the materialized edge index (both
    directions already present, so each undirected edge contributes its
    (x,y) and (y,x) — the standard undirected estimator). The source
    endpoint's degree already RIDES each indexed edge (r13: x is the
    `deg` column, no join), so only the dst side joins the node-sized
    degree relation — one broadcastable join instead of two, and no
    full-edge degree re-aggregation for x. The final fold is a scalar
    aggregate.
    """
    edges = _edge_index(spark, sf_dir)
    # the deg table is node-sized (≈25 k rows at sf0.1) — scratch it once
    # and BROADCAST-join both endpoints (r14: deg no longer rides each
    # edge; two broadcast lookups over one edge scan replace the 2.4 M-row
    # per-edge deg column, guide §2.3/§3.1)
    deg = scratch_parquet(
        _node_deg(edges).select(
            "node", F.col("deg").cast("long").alias("d")
        ),
        label="graph-deg",
    )
    xy = (
        edges.join(
            F.broadcast(
                deg.select(F.col("node").alias("sn"), F.col("d").alias("x"))
            ),
            F.col("src") == F.col("sn"),
        )
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("dn"), F.col("d").alias("y"))
            ),
            F.col("dst") == F.col("dn"),
        )
        .select("x", "y")
    )
    xd = F.col("x").cast(_DEC)
    yd = F.col("y").cast(_DEC)
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * yd).cast(_DEC).alias("sxy"),
        F.sum(xd * xd).cast(_DEC).alias("sxx"),
        F.sum(yd * yd).cast(_DEC).alias("syy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    nd = F.col("n").cast(_DEC)
    sxd = F.col("sx").cast(_DEC)
    syd = F.col("sy").cast(_DEC)
    num = (nd * F.col("sxy") - sxd * syd).cast("double")
    vx = (nd * F.col("sxx") - sxd * sxd).cast("double")
    vy = (nd * F.col("syy") - syd * syd).cast("double")
    return s.crossJoin(nn).select(
        F.col("n").alias("n_directed_edges"),
        "n_nodes",
        (num / F.sqrt(vx * vy)).alias("assortativity"),
    )
