"""Behavioral tests for the approximate pipeline operators (ANN, MinHash)
— properties the oracle can't check: recall against the exact baseline,
and no-false-positive guarantees from the exact-verify stages."""

from __future__ import annotations

import pytest

from redisgears_spark.operators import QUERIES
from redisgears_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard
from redisgears_spark.operators.similarity import (
    sim_ann_ivf,
    sim_ann_ivfpq,
    sim_ann_lsh,
    sim_ann_pq,
    sim_topk_bruteforce,
)


def _pairs(df, a="q_id", b="n_id"):
    return {(r[a], r[b]) for r in df.collect()}


@pytest.fixture(scope="module")
def truth(spark, sf_dir):
    return _pairs(sim_topk_bruteforce(spark, sf_dir))


@pytest.mark.parametrize(
    "ann", [sim_ann_lsh, sim_ann_ivf, sim_ann_pq, sim_ann_ivfpq]
)
def test_ann_recall_beats_floor(ann, spark, sf_dir, truth):
    """Both ANN paths must recover most of the exact top-5 neighbor set
    (deterministic pipelines → recall is a fixed number per fixture;
    currently 0.775 LSH / 0.8 IVF at sf0.001 — floor set with margin)."""
    got = _pairs(ann(spark, sf_dir))
    recall = len(truth & got) / len(truth)
    assert recall >= 0.7, f"recall {recall:.3f} below floor"


@pytest.mark.parametrize(
    "ann", [sim_ann_lsh, sim_ann_ivf, sim_ann_pq, sim_ann_ivfpq]
)
def test_ann_scores_are_exact(ann, spark, sf_dir):
    """Candidates are approximate; their *scores* must not be — every
    returned cosine must equal the exact quantized cosine the brute-force
    path computes for the same pair."""
    exact = {
        (r["q_id"], r["n_id"]): r["cosine"]
        for r in sim_topk_bruteforce(spark, sf_dir).collect()
    }
    for r in ann(spark, sf_dir).collect():
        key = (r["q_id"], r["n_id"])
        if key in exact:
            assert r["cosine"] == exact[key]


class TestMultimodalStages:
    def test_resize_preserves_aspect_and_bounds(self, spark, sf_dir):
        from redisgears_spark.operators.multimodal import media_table, resize_images

        out = resize_images(media_table(spark, sf_dir), max_side=64).collect()
        assert out
        for r in out:
            assert 1 <= r["out_width"] <= 64 and 1 <= r["out_height"] <= 64
            # no upscaling; dims follow the single-scale-factor contract
            assert r["out_width"] <= r["width"] and r["out_height"] <= r["height"]
            scale = min(1.0, 64 / max(r["width"], r["height"]))
            assert r["out_width"] == max(1, int(r["width"] * scale))
            assert r["out_height"] == max(1, int(r["height"] * scale))
            assert len(r["resized"]) >= 1

    def test_feature_checksum_matches_payload_crc(self, spark, sf_dir):
        """The crc32 checksum column is outside the SQL oracle (DuckDB has
        no crc32) — pin it here against a driver-side recomputation."""
        import zlib

        from redisgears_spark.operators.multimodal import (
            extract_features,
            media_table,
        )

        media = media_table(spark, sf_dir)
        payloads = {
            r["doc_id"]: bytes(r["payload"]) for r in media.collect()
        }
        feats = extract_features(media).collect()
        assert len(feats) == len(payloads)
        for r in feats:
            expect = zlib.crc32(payloads[r["doc_id"]]) & 0x7FFFFFFF
            assert r["checksum"] == expect

    def test_frame_sampling_deterministic_fanout(self, spark, sf_dir):
        from redisgears_spark.operators.multimodal import (
            _FRAME_SIZE,
            _FRAME_STRIDE,
            media_table,
            sample_frames,
        )

        media = media_table(spark, sf_dir)
        frames = sample_frames(media).collect()
        by_doc: dict = {}
        for r in frames:
            by_doc.setdefault(r["doc_id"], []).append(r)
        sizes = {r["doc_id"]: r["n"] for r in media.selectExpr(
            "doc_id", "length(payload) as n").collect()}
        for doc_id, rows in by_doc.items():
            expect = len(range(0, max(1, sizes[doc_id] // _FRAME_SIZE), _FRAME_STRIDE))
            assert len(rows) == expect
            for r in rows:
                assert r["frame_offset"] == r["frame_idx"] * _FRAME_SIZE


def test_minhash_candidates_no_false_positives(spark, sf_dir):
    """The LSH candidate set is verified with exact Jaccard, so every
    emitted pair must also appear in the exhaustive exact-Jaccard result
    with the identical score (subset relation = no false positives;
    the exhaustive pass is the ground truth)."""
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    approx = dedup_minhash_lsh(spark, sf_dir).collect()
    assert approx, "MinHash found no near-dup pairs on the fixture"
    for r in approx:
        key = (r["a_id"], r["b_id"])
        assert key in exact, f"false positive {key}"
        assert r["jaccard"] == exact[key]


def test_dedup_clusters_fixpoint_and_survivors(spark, sf_dir):
    """Connected-components contract: (a) the labeling is a fixpoint —
    both endpoints of every near-dup edge carry the same cluster_id;
    (b) cluster_id is the min doc_id of the component (so exactly one
    survivor per cluster, and it is the smallest id)."""
    from redisgears_spark.operators.dedup import dedup_clusters

    pairs = dedup_ngram_jaccard(spark, sf_dir).collect()
    labels = {
        r["doc_id"]: (r["cluster_id"], r["is_survivor"])
        for r in dedup_clusters(spark, sf_dir).collect()
    }
    assert pairs, "fixture has no near-dup pairs"
    for r in pairs:
        assert labels[r["a_id"]][0] == labels[r["b_id"]][0], (
            f"edge ({r['a_id']},{r['b_id']}) spans two clusters"
        )
    by_cluster: dict[int, list[int]] = {}
    for doc_id, (cid, _) in labels.items():
        by_cluster.setdefault(cid, []).append(doc_id)
    for cid, members in by_cluster.items():
        assert cid == min(members)
        survivors = [d for d in members if labels[d][1]]
        assert survivors == [cid]


def test_lsh_clusters_refine_exact_clusters(spark, sf_dir):
    """The LSH-candidate clustering must REFINE the exact clustering:
    every LSH cluster's members share one exact cluster (LSH pairs are a
    subset of exact pairs, so LSH can split clusters but never merge
    across exact-cluster boundaries)."""
    from redisgears_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_lsh,
    )

    exact = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(spark, sf_dir).collect()
    }
    lsh_rows = dedup_clusters_lsh(spark, sf_dir).collect()
    assert lsh_rows, "LSH path found no clusters on the fixture"
    by_lsh_cluster: dict[int, set[int]] = {}
    for r in lsh_rows:
        by_lsh_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    for cid, members in by_lsh_cluster.items():
        exact_cids = {exact[d] for d in members}
        assert len(exact_cids) == 1, (
            f"LSH cluster {cid} spans exact clusters {exact_cids}"
        )


def test_embedding_lsh_pairs_no_false_positives(spark, sf_dir):
    """Embedding LSH candidates are verified with the same exact quantized
    cosine as the brute-force path, so every emitted pair must appear in
    dedup_embedding_cosine's output with the identical score."""
    from redisgears_spark.operators.dedup import dedup_exact  # noqa: F401
    from redisgears_spark.operators.similarity import embedding_lsh_pairs

    from redisgears_spark.operators import QUERIES

    exact = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in QUERIES["dedup_embedding_cosine"](spark, sf_dir).collect()
    }
    approx = embedding_lsh_pairs(spark, sf_dir).collect()
    assert approx, "embedding LSH found no near-dup pairs on the fixture"
    for r in approx:
        key = (r["a_id"], r["b_id"])
        assert key in exact, f"false positive {key}"
        assert r["cosine"] == exact[key]


def test_embedding_clusters_refine_exact(spark, sf_dir):
    """Semantic-dedup clusters from LSH candidates must refine the
    exhaustive clustering: members of one LSH cluster always share one
    exact cluster (subset edges can split, never merge)."""
    from redisgears_spark.operators.dedup import connected_components
    from redisgears_spark.operators.similarity import (
        dedup_embedding_clusters,
    )
    from redisgears_spark.operators import QUERIES

    exact_pairs = QUERIES["dedup_embedding_cosine"](spark, sf_dir).select(
        "a_id", "b_id"
    )
    exact = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(exact_pairs).collect()
    }
    rows = dedup_embedding_clusters(spark, sf_dir).collect()
    assert rows, "embedding clustering found nothing on the fixture"
    by_cluster: dict[int, set[int]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    for cid, members in by_cluster.items():
        exact_cids = {exact[m] for m in members}
        assert len(exact_cids) == 1, (
            f"LSH cluster {cid} spans exact clusters {exact_cids}"
        )


def test_pack_shards_prefix_sum_invariant(spark, sf_dir):
    """The two-phase distributed prefix sum must reproduce the exclusive
    running sum exactly, whatever partitioning Spark picked — the
    bit-exactness contract behind the bucket-offset decomposition."""
    from redisgears_spark.operators.pipeline import _SHARD_BUDGET

    pdf = (
        QUERIES["pipeline_pack_shards"](spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    running = pdf["n_tokens"].cumsum().shift(1, fill_value=0)
    assert (pdf["token_offset"] == running).all()
    assert (pdf["shard_id"] == pdf["token_offset"] // _SHARD_BUDGET).all()


def test_pack_shards_empty_corpus(spark, tmp_path):
    """An empty documents table yields an empty, correctly-typed frame
    (not a TypeError from min/max returning NULL)."""
    empty_dir = tmp_path / "sf_empty"
    empty_dir.mkdir()
    spark.createDataFrame([], "doc_id long, text string").write.parquet(
        str(empty_dir / "documents.parquet")
    )
    out = QUERIES["pipeline_pack_shards"](spark, str(empty_dir))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "n_tokens",
        "token_offset",
        "shard_id",
    ]


def test_distributed_cc_converges_on_long_chains(spark):
    """connected_components labels every node of a 200-node chain with
    the chain minimum, whichever orientation each edge is given in: the
    union-find reads each pair once, with no symmetric copy."""
    from redisgears_spark.operators import dedup

    for edges in (
        [(i, i + 1) for i in range(200)],
        [(i + 1, i) for i in range(200)],
    ):
        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        out = dedup.connected_components(pairs).collect()
        assert len(out) == 201
        assert all(r["cluster_id"] == 0 for r in out)
        assert sum(r["is_survivor"] for r in out) == 1


def test_connected_components_builds_without_a_job(spark):
    """Building connected_components runs no Spark job: no scratch write
    of the pair list and no count to size it."""
    from redisgears_spark.operators.dedup import connected_components
    from tests.test_sources import _jobs_run_by

    pairs = spark.createDataFrame([(1, 2), (3, 2)], "a_id long, b_id long")
    assert _jobs_run_by(spark, lambda: connected_components(pairs)) == []


def test_shuffle_pack_prefix_sum_invariant(spark, sf_dir):
    """Same contract as pack_shards, over the shuffled order: sorting the
    output by (md5(doc_id), doc_id) must reproduce the exclusive running
    sum exactly."""
    from redisgears_spark.operators.pipeline import _SHARD_BUDGET

    pdf = QUERIES["pipeline_shuffle_pack"](spark, sf_dir).toPandas()
    import hashlib

    pdf["h"] = [
        hashlib.md5(str(d).encode()).hexdigest() for d in pdf["doc_id"]
    ]
    pdf = pdf.sort_values(["h", "doc_id"]).reset_index(drop=True)
    running = pdf["n_tokens"].cumsum().shift(1, fill_value=0)
    assert (pdf["token_offset"] == running).all()
    assert (pdf["shard_id"] == pdf["token_offset"] // _SHARD_BUDGET).all()


def test_multimodal_embed_deterministic_and_dedup_ready(spark, sf_dir):
    """The stubbed encoder must be deterministic (same payload → same
    vector, across runs and partitionings), unit-normalized, and exact-dup
    payloads must land on identical vectors — what makes the output
    consumable by the embedding-dedup stack. The REGISTERED query is a
    scalar projection (driver-canonicalizable: no array columns), so the
    array shape is checked on `embed_payloads` directly."""
    from redisgears_spark.operators.multimodal import (
        embed_payloads,
        media_table,
    )

    out = QUERIES["multimodal_embed"](spark, sf_dir)
    # registered projection: scalar-only columns, values pin the vector
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "model", "dim", "emb_md5", "norm_sq_q6",
    ]
    assert not any("array" in f.dataType.simpleString() for f in out.schema)
    rows = {r["doc_id"]: (r["emb_md5"], r["norm_sq_q6"]) for r in out.collect()}
    again = {
        r["doc_id"]: (r["emb_md5"], r["norm_sq_q6"])
        for r in QUERIES["multimodal_embed"](spark, sf_dir).collect()
    }
    assert rows == again  # deterministic
    # unit-normalized: squared norm in micro units == 1_000_000 exactly
    assert all(n == 1_000_000 for _, n in rows.values())
    # internal API keeps the embeddings-table array shape
    emb = embed_payloads(media_table(spark, sf_dir))
    v = emb.limit(1).collect()[0]["embedding"]
    assert len(v) == 16
    # identical payloads map to identical vectors; distinct ones diverge
    from redisgears_spark.operators.multimodal import _embed_payload

    assert _embed_payload(b"same bytes") == _embed_payload(b"same bytes")
    assert _embed_payload(b"same bytes") != _embed_payload(b"other bytes")


def test_approx_percentiles_within_sketch_bound(spark, sf_dir):
    """The quantile sketch must land within its documented rank-error
    bound of the exact per-group percentiles (q06b's exact formulation
    recomputed here at matching quantiles)."""
    approx = {
        r["l_returnflag"]: (r["p50"], r["p95"], r["p99"])
        for r in QUERIES["q06d_approx_percentiles"](spark, sf_dir).collect()
    }
    from redisgears_spark.sources.keyspace import load_table
    import pyspark.sql.functions as F

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["ps"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.5, 0.95, 0.99))"
            ).alias("ps")
        )
        .collect()
    }
    # rank error 1/10000 on ~20k rows/group ≈ a couple of neighbors; a
    # loose relative value-tolerance is the stable cross-SF assertion
    for flag, (a50, a95, a99) in approx.items():
        e50, e95, e99 = exact[flag]
        for a, e in ((a50, e50), (a95, e95), (a99, e99)):
            assert abs(a - e) / e < 0.05, (flag, a, e)


def test_synthetic_partsupp_well_formed(spark, sf_dir):
    """The synthetic partsupp must behave like the real relation: exactly
    4 DISTINCT suppliers per part (the offset rule must not collide mod
    |supplier|), every ps_suppkey resolvable against supplier, and
    cost/qty in their documented ranges — all deterministic."""
    from redisgears_spark.operators.tpch_full import synthetic_partsupp
    from redisgears_spark.sources.keyspace import load_table
    import pyspark.sql.functions as F

    ps = synthetic_partsupp(spark, sf_dir)
    n_part = load_table(spark, sf_dir, "part").count()
    n_supp = load_table(spark, sf_dir, "supplier").count()
    assert ps.count() == 4 * n_part
    per_part = ps.groupBy("ps_partkey").agg(
        F.countDistinct("ps_suppkey").alias("d")
    )
    assert per_part.filter(F.col("d") != 4).count() == 0
    rng = ps.agg(
        F.min("ps_suppkey"), F.max("ps_suppkey"),
        F.min("ps_availqty"), F.max("ps_availqty"),
        F.min("ps_supplycost_cents"), F.max("ps_supplycost_cents"),
    ).collect()[0]
    assert rng[0] >= 0 and rng[1] < n_supp
    assert rng[2] >= 1 and rng[3] <= 9999
    assert rng[4] >= 100 and rng[5] <= 100000
    # dangling-key check: anti-join against supplier is empty
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    dangling = ps.join(
        supp, ps.ps_suppkey == supp.s_suppkey, "left_anti"
    )
    assert dangling.count() == 0


def test_misra_gries_bound_and_candidates(spark, sf_dir):
    """The MG phase's documented guarantees: (a) every per-partition
    lower bound is <= the term's true global count; (b) every term whose
    true count exceeds N/(cap+1) appears among the candidates — the
    condition that makes the exact-recount result the TRUE top-k."""
    import pyspark.sql.functions as F

    from redisgears_spark.operators.text import (
        _HH_MG_CAP,
        _TOKENS,
        _misra_gries_partition,
    )
    from redisgears_spark.sources.keyspace import load_table, rebalanced

    docs = rebalanced(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.expr(_TOKENS).alias("w"))
    cands = toks.mapInPandas(
        _misra_gries_partition, "term string, lb long"
    )
    # summaries respect the partition cap
    per_part = cands.groupBy().agg(F.count(F.lit(1))).collect()[0][0]
    true_counts = {
        r["term"]: r["n"]
        for r in docs.select(F.explode(F.expr(_TOKENS)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(true_counts.values())
    cand_rows = cands.collect()
    cand_terms = {r["term"] for r in cand_rows}
    # (a) MG lower bounds never exceed the truth (per-partition lb <=
    # partition count <= global count)
    for r in cand_rows:
        assert r["lb"] <= true_counts[r["term"]], r
    # (b) no heavy term is missed
    thresh = n_total / (_HH_MG_CAP + 1)
    for term, n in true_counts.items():
        if n > thresh:
            assert term in cand_terms, (term, n, thresh)


def test_dedup_segments_reconstruction_invariant(spark, sf_dir):
    """Self-check independent of the oracle: a document that lost no
    segments must reconstruct to exactly its whitespace-normalized
    original text (the engines could only agree AND be wrong together if
    reassembly itself were broken)."""
    import pyspark.sql.functions as F

    from redisgears_spark.operators import QUERIES
    from redisgears_spark.sources.keyspace import load_table

    out = {r["doc_id"]: r for r in QUERIES["dedup_segments"](spark, sf_dir).collect()}
    docs = {
        r["doc_id"]: r["norm"]
        for r in load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_join(
                F.expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"),
                " ",
            ).alias("norm"),
        )
        .collect()
    }
    intact = [d for d, r in out.items() if r["n_dup_segs"] == 0]
    assert intact, "every fixture doc lost a segment?!"
    for d in intact:
        assert out[d]["clean_text"] == docs[d], d
    # and a doc that DID lose segments is shorter than its original
    lossy = [d for d, r in out.items() if r["n_dup_segs"] > 0]
    assert lossy
    for d in lossy[:20]:
        assert len(out[d]["clean_text"]) < len(docs[d])


def test_bpe_train_matches_reference_implementation(spark, sf_dir):
    """pipeline_bpe_train must learn EXACTLY the merge sequence a
    straightforward single-machine BPE (Sennrich-style, same
    count-desc/lexicographic tie-break) learns — an
    independent-implementation oracle for an iterative algorithm."""
    from collections import Counter

    import pyspark.sql.functions as F

    from redisgears_spark.operators import QUERIES
    from redisgears_spark.operators.pipeline import _BPE_MERGES
    from redisgears_spark.operators.text import _TOKENS
    from redisgears_spark.sources.keyspace import load_table

    got = [
        (r["round"], r["left"], r["right"], r["pair_count"])
        for r in QUERIES["pipeline_bpe_train"](spark, sf_dir)
        .orderBy("round")
        .collect()
    ]
    assert len(got) == _BPE_MERGES

    # independent reference on the collected word-frequency dict
    wf = Counter()
    for r in (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.expr(_TOKENS)).alias("w"))
        .collect()
    ):
        wf[r["w"]] += 1
    words = {w: list(w) for w in wf}
    want = []
    for rnd in range(_BPE_MERGES):
        counts: Counter = Counter()
        for w, syms in words.items():
            f = wf[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        want.append((rnd, l, r, n))
        for w, syms in words.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[w] = res
    assert got == want


def test_bpe_apply_token_bounds(spark, sf_dir):
    """Apply-side invariants: per document, the BPE token count lies
    between the word count (every word ≥1 token) and the non-space
    character count (8 merges can only compress char-level), and the
    encoding matches a direct reference application of the same
    merges."""
    import pyspark.sql.functions as F

    from redisgears_spark.operators import QUERIES
    from redisgears_spark.operators.text import _TOKENS
    from redisgears_spark.sources.keyspace import load_table

    out = {r["doc_id"]: r for r in QUERIES["pipeline_bpe_apply"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_TOKENS).alias("w"),
        F.expr(f"aggregate({_TOKENS}, 0, (a, x) -> a + length(x))").alias(
            "n_chars"
        ),
    ).collect()
    merges = [
        (r["left"], r["right"])
        for r in QUERIES["pipeline_bpe_train"](spark, sf_dir)
        .orderBy("round")
        .collect()
    ]

    def encode(word):
        syms = list(word)
        for lft, rgt in merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
                    res.append(lft + rgt)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return len(syms)

    for d in docs:
        r = out[d["doc_id"]]
        assert len(d["w"]) == r["n_ws_tokens"]
        assert r["n_ws_tokens"] <= r["n_bpe_tokens"] <= d["n_chars"], r
    # exact per-doc re-encode on a sample
    for d in docs[:20]:
        want = sum(encode(t) for t in d["w"])
        assert out[d["doc_id"]]["n_bpe_tokens"] == want


def test_temperature_mix_flattens_between_natural_and_uniform(spark, sf_dir):
    """alpha=0.5 sampling must sit between the natural mix and the
    uniform one: each language's sampled SHARE is closer to uniform than
    its natural share (head languages shrink, tail languages grow), and
    quotas never exceed availability."""
    from redisgears_spark.sources.keyspace import load_table

    out = QUERIES["pipeline_temperature_mix"](spark, sf_dir).toPandas()
    natural = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
    )
    sampled = out.groupby("lang").size()
    assert (sampled <= natural[sampled.index]).all()
    n_langs = len(natural)
    nat_share = natural / natural.sum()
    smp_share = sampled / sampled.sum()
    uniform = 1.0 / n_langs
    for lang in sampled.index:
        # strictly-between check with float slack for quota flooring
        lo = min(nat_share[lang], uniform) - 0.02
        hi = max(nat_share[lang], uniform) + 0.02
        assert lo <= smp_share[lang] <= hi, (lang, smp_share[lang])


def test_char_gini_bounds_and_masses(spark, sf_dir):
    out = QUERIES["text_char_gini"](spark, sf_dir).toPandas()
    assert ((out["char_gini"] >= 0) & (out["char_gini"] < 1)).all()
    # histogram masses must be consistent: sum_sq <= n_chars^2 and
    # alphabet coverage can't exceed the text length
    assert (out["n_alphabet"] <= out["n_chars"]).all()
    assert (out["sum_sq"] <= out["n_chars"] ** 2).all()
    # the fixture corpus is word text, not mash — impurity should be high
    assert out["char_gini"].median() > 0.5


def test_int8_quantize_error_bound(spark, sf_dir):
    """Reconstruction error of 255-level scalar quantization is bounded
    by one quantization step per dimension: (hi - lo) / 254."""
    out = QUERIES["embeddings_int8_quantize"](spark, sf_dir).toPandas()
    assert out["code"].between(0, 254).all()
    span = out.groupby("dim")["x"].agg(["min", "max"])
    step = ((span["max"] - span["min"]) / 254.0).rename("step")
    merged = out.merge(step, left_on="dim", right_index=True)
    assert (merged["abs_err"] <= merged["step"] + 1e-12).all()


def test_unimax_budget_allocation_properties(spark, sf_dir):
    """UNIMAX invariants: every language quota respects the epoch cap
    (here 1 epoch = its full size); the scarcest languages are taken
    whole; the budget is spent exactly when the corpus can fill it; and
    the Python greedy equals an independent re-derivation."""
    from redisgears_spark.operators.pipeline import (
        _UNIMAX_EPOCHS,
        unimax_quotas,
    )
    from redisgears_spark.sources.keyspace import load_table

    natural = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
        .to_dict()
    )
    out = QUERIES["pipeline_unimax_budget"](spark, sf_dir).toPandas()
    sampled = out.groupby("lang").size().to_dict()
    budget = (sum(natural.values()) * 4) // 5
    assert sum(sampled.values()) == budget  # corpus can fill the budget
    for lang, q in sampled.items():
        assert q <= natural[lang] * _UNIMAX_EPOCHS
    # languages below the final fair share are taken whole
    quotas = unimax_quotas(list(natural.items()), budget, _UNIMAX_EPOCHS)
    assert quotas == sampled
    smallest = min(natural, key=lambda k: natural[k])
    assert sampled[smallest] == natural[smallest]


def test_abc_classes_partition_by_cumulative_share(spark, sf_dir):
    out = QUERIES["orders_abc_analysis"](spark, sf_dir).toPandas()
    out = out.sort_values("revenue_rank").reset_index(drop=True)
    # classes are contiguous A..B..C in rank order
    classes = "".join(out["abc_class"])
    assert classes == "A" * classes.count("A") + "B" * classes.count(
        "B"
    ) + "C" * classes.count("C")
    total = out["revenue_microcents"].sum()
    a_share = out.loc[out["abc_class"] == "A", "revenue_microcents"].sum() / total
    assert a_share <= 0.70 + 0.01
    ab = out.loc[out["abc_class"] != "C", "revenue_microcents"].sum() / total
    assert ab <= 0.90 + 0.01
    # all three classes are populated (the fixture revenue is near-uniform,
    # so A holds ~70% of parts; the cuts, not the skew, are the contract)
    assert set(out["abc_class"]) == {"A", "B", "C"}


# --- independent pure-Python pins for the round-6 late batch ---------------


def _lev1(a: str, b: str) -> bool:
    """Edit distance <= 1 without the DP table (length diff <= 1 cases)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # one insertion: first mismatch, skip one char of the longer side
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def test_fuzzy_link_matches_bruteforce(spark, sf_dir):
    """SymSpell candidate generation must lose NOTHING against the
    all-pairs edit-distance-1 ground truth (deletion neighborhoods are
    complete for distance 1, not just precise)."""
    import duckdb

    from redisgears_spark.operators.linkage import customer_fuzzy_link

    con = duckdb.connect()
    names = dict(
        con.execute(
            f"SELECT c_custkey, c_name FROM '{sf_dir}/customer.parquet'"
        ).fetchall()
    )
    con.close()
    keys = sorted(names)
    want: dict[int, list[int]] = {}
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            if _lev1(names[ka], names[kb]):
                want.setdefault(ka, []).append(kb)
                want.setdefault(kb, []).append(ka)
    got = {
        r["c_custkey"]: (r["n_neighbors"], r["nearest_neighbor"])
        for r in customer_fuzzy_link(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, nbrs in want.items():
        assert got[k] == (len(nbrs), min(nbrs)), k


def test_fuzzy_link_kernel_path_matches_join_path(spark, sf_dir, monkeypatch):
    """r14: the grouped numpy verify kernel (large-corpus path) must
    produce exactly the broadcast self-join path's result."""
    from redisgears_spark.operators import linkage as L

    join_rows = {
        tuple(r) for r in L.customer_fuzzy_link(spark, sf_dir).collect()
    }
    monkeypatch.setattr(L, "_JOIN_PATH_MAX_ROWS", 0)
    kernel_rows = {
        tuple(r) for r in L.customer_fuzzy_link(spark, sf_dir).collect()
    }
    assert join_rows == kernel_rows and join_rows


def test_fuzzy_match_kernel_equals_levenshtein_on_adversarial_groups():
    """The kernel's per-group test (cross-length auto-match +
    equal-length hamming <= 1) must equal levenshtein <= 1 on groups
    built the way the operator builds them (members sharing a deletion
    variant), including multibyte chars and duplicate names."""
    import numpy as np
    import pyarrow as pa

    from redisgears_spark.operators.linkage import _match_kernel

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rng = np.random.default_rng(11)
    alphabet = list("abcd") + ["é", "ß"]
    groups = []
    key = 0
    for _ in range(200):
        v = "".join(rng.choice(alphabet, size=int(rng.integers(2, 7))))
        members = []
        for _ in range(int(rng.integers(2, 6))):
            key += 1
            if rng.random() < 0.3:
                members.append((key, v))  # shorter member == the variant
            else:
                pos = int(rng.integers(0, len(v) + 1))
                ch = str(rng.choice(alphabet))
                members.append((key, v[:pos] + ch + v[pos:]))
        groups.append(members)

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(
                [
                    [{"c_custkey": k, "c_name": n} for k, n in g]
                    for g in groups
                ],
                type=pa.list_(
                    pa.struct(
                        [("c_custkey", pa.int64()), ("c_name", pa.string())]
                    )
                ),
            )
        ],
        names=["ms"],
    )
    got = set()
    for out in _match_kernel(iter([batch])):
        got |= set(
            zip(out.column(0).to_pylist(), out.column(1).to_pylist())
        )
    want = set()
    for g in groups:
        for i in range(len(g)):
            for j in range(i + 1, len(g)):
                if lev(g[i][1], g[j][1]) <= 1:
                    ka, kb = g[i][0], g[j][0]
                    want.add((min(ka, kb), max(ka, kb)))
    assert got == want and want


def test_span_coverage_matches_pure_python(spark, sf_dir):
    import duckdb

    from redisgears_spark.operators.dedup import (
        _SPAN_TOKENS,
        dedup_span_coverage,
    )

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    owners: dict[tuple, set[int]] = {}
    spans: dict[int, list[tuple]] = {}
    for doc_id, text in docs:
        toks = text.lower().split()
        row = [
            tuple(toks[i: i + _SPAN_TOKENS])
            for i in range(len(toks) - _SPAN_TOKENS + 1)
        ]
        spans[doc_id] = row
        for sp in row:
            owners.setdefault(sp, set()).add(doc_id)
    got = {
        r["doc_id"]: (r["n_spans"], r["n_shared_spans"])
        for r in dedup_span_coverage(spark, sf_dir).collect()
    }
    want = {
        d: (len(row), sum(1 for sp in row if len(owners[sp]) >= 2))
        for d, row in spans.items()
        if row
    }
    assert got == want


def test_bigram_predictability_matches_pure_python(spark, sf_dir):
    import duckdb
    from collections import Counter

    from redisgears_spark.operators.text import (
        _PRED_SCALE,
        text_bigram_predictability,
    )

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    bigrams: dict[int, list[tuple]] = {}
    bgc: Counter = Counter()
    w1c: Counter = Counter()
    for doc_id, text in docs:
        toks = text.lower().split()
        row = list(zip(toks, toks[1:]))
        bigrams[doc_id] = row
        for w1, w2 in row:
            bgc[(w1, w2)] += 1
            w1c[w1] += 1
    got = {
        r["doc_id"]: (r["n_bigrams"], r["pred_sum_scaled"])
        for r in text_bigram_predictability(spark, sf_dir).collect()
    }
    want = {
        d: (
            len(row),
            sum(_PRED_SCALE * bgc[bg] // w1c[bg[0]] for bg in row),
        )
        for d, row in bigrams.items()
        if row
    }
    assert got == want


def test_dedup_economics_lsh_contained_in_exact(spark, sf_dir):
    """The LSH-bounded modes of the dedup-economics operators are
    containment-bounded by their exact twins: the banded candidate set is a
    subset of the all-pairs set (same shingles, exact verify), so (a) every
    threshold-histogram bucket's LSH n_pairs <= exact n_pairs, and (b) every
    source's LSH n_near_dup <= exact n_near_dup with identical n_docs.
    High-Jaccard buckets (>= the banding recall knee) must be near-complete:
    the fixture's bucket-8+ counts match exactly."""
    exact_h = {
        r["bucket"]: r["n_pairs"]
        for r in QUERIES["dedup_threshold_histogram"](spark, sf_dir).collect()
    }
    lsh_h = {
        r["bucket"]: r["n_pairs"]
        for r in QUERIES["dedup_threshold_histogram_lsh"](spark, sf_dir).collect()
    }
    assert lsh_h, "LSH histogram empty on the fixture"
    for bucket, n in lsh_h.items():
        assert bucket in exact_h, f"LSH-only bucket {bucket} (false positives)"
        assert n <= exact_h[bucket], (bucket, n, exact_h[bucket])
    # banding with 8 bands of 4 rows catches jaccard ~>= 0.3 w.h.p. — the
    # fixture's high buckets (0.8+) must be fully recalled
    for bucket in (8, 9, 10):
        if bucket in exact_h:
            assert lsh_h.get(bucket) == exact_h[bucket], (
                f"high bucket {bucket} under-recalled: "
                f"{lsh_h.get(bucket)} vs {exact_h[bucket]}"
            )

    exact_nd = {
        r["source"]: (r["n_docs"], r["n_near_dup"])
        for r in QUERIES["docs_near_dup_rate_by_source"](spark, sf_dir).collect()
    }
    lsh_nd = {
        r["source"]: (r["n_docs"], r["n_near_dup"])
        for r in QUERIES["docs_near_dup_rate_by_source_lsh"](spark, sf_dir).collect()
    }
    assert set(lsh_nd) == set(exact_nd)
    for src, (n_docs, n_nd) in lsh_nd.items():
        assert n_docs == exact_nd[src][0]
        assert n_nd <= exact_nd[src][1], (src, n_nd, exact_nd[src][1])


def test_lang_rebalance_hashcut_containment_and_size(spark, sf_dir):
    """The hash-cut twin vs the exact top-K rebalance (the LSH-twin
    precedent: registered scale twin + containment pin): both selections
    are prefixes of the SAME per-language md5 order, so one must always
    contain the other; the twin's per-language size is K ± sampling
    error (1-in-4 sample at fixture scale → wide but bounded)."""
    from collections import Counter

    from redisgears_spark.operators import QUERIES

    exact = QUERIES["pipeline_lang_rebalance"](spark, sf_dir).collect()
    twin = QUERIES["pipeline_lang_rebalance_hashcut"](spark, sf_dir).collect()
    ce = Counter(r["lang"] for r in exact)
    k = min(ce.values())
    se: dict[str, set] = {}
    st: dict[str, set] = {}
    for r in exact:
        se.setdefault(r["lang"], set()).add(r["doc_id"])
    for r in twin:
        st.setdefault(r["lang"], set()).add(r["doc_id"])
    assert set(se) == set(st)  # every language is represented
    for lang in se:
        a, b = se[lang], st[lang]
        # prefix-of-the-same-order structure: strict containment
        assert a <= b or b <= a, (lang, len(a), len(b))
        # size within ±40% of the quota at the fixture's sample size
        assert abs(len(b) - k) <= max(2, int(0.4 * k)), (lang, len(b), k)


def test_stratified_split_hashcut_shares_and_partition(spark, sf_dir):
    """The hash-cut split twin: every doc gets exactly one split, every
    language appears in 'train', and per-language shares sit within
    sampling tolerance of 80/10/10 (the exact split's shares are the
    oracle-checked reference; the twin trades exact sizes for a
    sort-free plan)."""
    from collections import Counter

    from redisgears_spark.operators import QUERIES

    rows = QUERIES["pipeline_stratified_split_hashcut"](
        spark, sf_dir
    ).collect()
    n_docs = QUERIES["pipeline_stratified_split"](spark, sf_dir).count()
    assert len(rows) == n_docs  # total function: every doc assigned once
    counts = Counter((r["lang"], r["split"]) for r in rows)
    totals = Counter(r["lang"] for r in rows)
    for lang, n in totals.items():
        tr = counts.get((lang, "train"), 0) / n
        va = counts.get((lang, "val"), 0) / n
        assert 0.55 <= tr <= 0.95, (lang, tr)
        assert va <= 0.25, (lang, va)


def _pure_python_bpe(wf, n_rounds, words=None, offset=0):
    """Independent Sennrich loop (count-desc/lexicographic tie-break) —
    returns (merges, final word-state). Deliberately re-implemented here
    rather than imported, so the operator and its oracle can't share a
    bug."""
    from collections import Counter

    if words is None:
        words = {w: list(w) for w in wf}
    out = []
    for rnd in range(n_rounds):
        counts: Counter = Counter()
        for w, syms in words.items():
            f = wf[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((offset + rnd, l, r, n))
        words = {w: _pp_apply(syms, l, r) for w, syms in words.items()}
    return out, words


def _pp_apply(syms, l, r):
    res, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            res.append(l + r)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def _word_counter(spark, sf_dir, source_pred=None):
    from collections import Counter

    import pyspark.sql.functions as F

    from redisgears_spark.operators.text import _TOKENS
    from redisgears_spark.sources.keyspace import load_table

    docs = load_table(spark, sf_dir, "documents")
    if source_pred is not None:
        docs = docs.filter(source_pred)
    wf = Counter()
    for r in docs.select(F.explode(F.expr(_TOKENS)).alias("w")).collect():
        wf[r["w"]] += 1
    return wf


def test_bpe_extend_matches_incremental_reference(spark, sf_dir):
    """pipeline_bpe_extend == an independent pure-Python incremental
    run: train 8 merges on the base corpus, replay them on the union
    (recording each pair's union-time support), continue 4 more."""
    import pyspark.sql.functions as F

    from collections import Counter

    from redisgears_spark.operators import QUERIES
    from redisgears_spark.operators.pipeline import (
        _BPE_EXTEND_MERGES,
        _BPE_MERGES,
        _BPE_NEW_SOURCES,
    )

    got = [
        (r["round"], r["left"], r["right"], r["pair_count"], r["phase"])
        for r in QUERIES["pipeline_bpe_extend"](spark, sf_dir)
        .orderBy("round")
        .collect()
    ]

    base_wf = _word_counter(
        spark, sf_dir, ~F.col("source").isin(list(_BPE_NEW_SOURCES))
    )
    union_wf = _word_counter(spark, sf_dir)
    base_merges, _ = _pure_python_bpe(base_wf, _BPE_MERGES)
    words = {w: list(w) for w in union_wf}
    want = []
    rnd = 0
    for _i, l, r, _n in base_merges:
        cnt = 0
        for w, syms in words.items():
            f = union_wf[w]
            for a, b in zip(syms, syms[1:]):
                if a == l and b == r:
                    cnt += f
        want.append((rnd, l, r, cnt, "base"))
        words = {w: _pp_apply(syms, l, r) for w, syms in words.items()}
        rnd += 1
    ext, _ = _pure_python_bpe(union_wf, _BPE_EXTEND_MERGES, words, rnd)
    want.extend((i, l, r, n, "ext") for (i, l, r, n) in ext)
    assert got == want
    # the increment genuinely moved at least one count (the scenario is
    # non-degenerate on this fixture)
    base_counts = {(l, r): n for (_i, l, r, n) in base_merges}
    assert any(
        base_counts[(l, r)] != n
        for (_i, l, r, n, ph) in got
        if ph == "base"
    )


def test_bpe_extend_empty_increment_is_training_continuation(
    spark, sf_dir
):
    """Greedy BPE is sequential, so freeze-and-continue with an EMPTY
    increment must equal training longer from scratch: base phase ==
    pipeline_bpe_train's merges bit-for-bit (counts included), ext
    phase == rounds 8-11 of a 12-round from-scratch reference run."""
    from redisgears_spark.operators import QUERIES
    from redisgears_spark.operators.pipeline import (
        _BPE_EXTEND_MERGES,
        _BPE_MERGES,
        _bpe_extend,
    )

    got = [
        (r["round"], r["left"], r["right"], r["pair_count"], r["phase"])
        for r in _bpe_extend(spark, sf_dir, ()).orderBy("round").collect()
    ]
    train = [
        (r["round"], r["left"], r["right"], r["pair_count"])
        for r in QUERIES["pipeline_bpe_train"](spark, sf_dir)
        .orderBy("round")
        .collect()
    ]
    assert [(i, l, r, n) for (i, l, r, n, ph) in got if ph == "base"] == train

    union_wf = _word_counter(spark, sf_dir)
    longer, _ = _pure_python_bpe(union_wf, _BPE_MERGES + _BPE_EXTEND_MERGES)
    assert [(i, l, r, n) for (i, l, r, n, ph) in got if ph == "ext"] == longer[
        _BPE_MERGES:
    ]


def _random_docs_dir(tmp_path, seed=11):
    """Synthetic documents.parquet: base sources draw from one word
    pool; the increment source ('newsrc') has a partially DISJOINT
    vocabulary (never-seen symbols) plus heavy repetition designed to
    shift pair supports — the shapes that stress frozen-prefix replay
    (a base merge whose union support collapses, ext merges dominated
    by the increment). Includes single-char words and a doc of pure
    whitespace-separated repeats."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    base_pool = ["alpha", "beta", "gamma", "delta", "ab", "a", "bb"]
    new_pool = ["zzyzx", "qq", "zq", "zzz", "alpha"]
    rows = []
    for i in range(40):
        words = [rng.choice(base_pool) for _ in range(rng.randrange(3, 12))]
        rows.append((i, " ".join(words), "en", f"src{i % 3}"))
    for i in range(40, 60):
        words = [rng.choice(new_pool) for _ in range(rng.randrange(3, 12))]
        rows.append((i, " ".join(words), "en", "newsrc"))
    rows.append((60, "zzz zzz zzz zzz zzz zzz zzz zzz", "en", "newsrc"))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    )
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    d = tmp_path / "randdocs"
    d.mkdir(exist_ok=True)
    pdf.to_parquet(d / "documents.parquet")
    return str(d)


def test_bpe_extend_random_corpus_matches_reference(spark, tmp_path):
    """pipeline_bpe_extend on a GENERATED corpus whose increment has a
    partially disjoint vocabulary: the operator must equal the
    independent pure-Python incremental reference, including base
    merges whose union-time support the increment shifted and ext
    merges drawn from never-seen symbols."""
    import pyspark.sql.functions as F

    from redisgears_spark.operators.pipeline import (
        _BPE_EXTEND_MERGES,
        _BPE_MERGES,
        _bpe_extend,
    )

    sfd = _random_docs_dir(tmp_path)
    got = [
        (r["round"], r["left"], r["right"], r["pair_count"], r["phase"])
        for r in _bpe_extend(spark, sfd, ("newsrc",))
        .orderBy("round")
        .collect()
    ]

    base_wf = _word_counter(spark, sfd, F.col("source") != "newsrc")
    union_wf = _word_counter(spark, sfd)
    base_merges, _ = _pure_python_bpe(base_wf, _BPE_MERGES)
    words = {w: list(w) for w in union_wf}
    want = []
    rnd = 0
    for _i, l, r, _n in base_merges:
        cnt = 0
        for w, syms in words.items():
            f = union_wf[w]
            for a, b in zip(syms, syms[1:]):
                if a == l and b == r:
                    cnt += f
        want.append((rnd, l, r, cnt, "base"))
        words = {w: _pp_apply(syms, l, r) for w, syms in words.items()}
        rnd += 1
    ext, _ = _pure_python_bpe(union_wf, _BPE_EXTEND_MERGES, words, rnd)
    want.extend((i, l, r, n, "ext") for (i, l, r, n) in ext)
    assert got == want
    # the scenario is non-degenerate: at least one ext merge involves a
    # symbol the base corpus never produced
    base_syms = set()
    for w in base_wf:
        base_syms.update(w)
    assert any(
        any(ch not in base_syms for ch in (l + r))
        for (_i, l, r, _n, ph) in got
        if ph == "ext"
    ), got


def test_bpe_incremental_state_matches_full_recount():
    """r14 incremental trainer: after every merge the maintained pair
    counter must EQUAL a fresh _local_pair_counts over the mutated
    state (zero-count pairs deleted), and the merge sequence must match
    the naive recount-every-round loop — including overlapping pairs
    ('aaaa' counts (a,a) three times, merges non-overlapping) and
    count ties broken lexicographically."""
    from redisgears_spark.operators.pipeline import (
        _apply_merge,
        _apply_merge_tracked,
        _bpe_state,
        _local_bpe_rounds,
        _local_pair_counts,
    )

    freq = {
        "aaaa": 3,      # overlapping pair runs
        "abab": 2,
        "banana": 2,
        "bandana": 1,
        "cd": 5,        # ties with ce below on count
        "ce": 5,
        "abcd": 1,
    }

    # naive reference loop (the pre-r14 implementation, verbatim)
    nf = dict(freq)
    nwords = {w: list(w) for w in nf}
    want = []
    for i in range(8):
        counts = _local_pair_counts(nf, nwords)
        if not counts:
            break
        (lft, rgt), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((i, lft, rgt, int(n)))
        for w, syms in nwords.items():
            nwords[w] = _apply_merge(syms, lft, rgt)

    iwords = {w: list(w) for w in freq}
    got = _local_bpe_rounds(dict(freq), iwords, 8)
    assert got == want
    assert iwords == nwords  # identical final symbol state

    # invariant: maintained counts == fresh recount after EVERY merge
    sf = dict(freq)
    swords = {w: list(w) for w in sf}
    counts, index = _bpe_state(sf, swords)
    for _i, lft, rgt, _n in want:
        _apply_merge_tracked(sf, swords, counts, index, lft, rgt)
        assert dict(counts) == dict(_local_pair_counts(sf, swords))


def test_nearest_subcentroid_matches_row_loop():
    """The one PQ / IVF-PQ code assignment, on plain numpy with no Spark
    job: each row's code is its nearest centroid by L2, as a per-row loop
    finds it, and a tie (a duplicated centroid) goes to the lower index."""
    import numpy as np

    from redisgears_spark.operators.similarity import _nearest_subcentroid

    rng = np.random.default_rng(11)
    C = rng.normal(size=(16, 4))
    C[9] = C[3]
    X = np.vstack([rng.normal(size=(64, 4)), C[3], C[3] + 1e-3])

    def nearest(x):
        d = [float(((x - c) ** 2).sum()) for c in C]
        return min(range(len(C)), key=lambda k: (d[k], k))

    got = _nearest_subcentroid(X, C)
    assert got.tolist() == [nearest(x) for x in X]
    assert got[-2:].tolist() == [3, 3]
