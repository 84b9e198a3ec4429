"""Streaming ANN index — IVF-cell-routed vector ingest on the stateful
runtime pattern (the live half of operators/similarity's batch IVF, the
same way StreamingMinHashRuntime is the live half of the batch LSH
family).

Reference analog: the reference's stream consumers keep per-consumer
state that survives restarts (redisgears_core/src/stream_reader.rs:112-150
frontier/state discipline); here the state is a vector index instead of
counters, maintained per IVF cell by Structured Streaming's state store.

Design:

  * **Routing, not re-training.** The coarse quantizer (16 L2-normalized
    centroids) is trained ONCE by the batch trainer
    (operators/similarity._ivf_centroids — seeded Lloyd, exact-integer
    partials, deterministic under any partitioning) and handed to the
    runtime. Incoming vectors are assigned executor-side to their argmax
    cell — the SAME `(V @ C.T).argmax` kernel as the batch corpus
    assignment — so a vector ingested live lands in exactly the inverted
    list the batch build would have put it in.
  * **State = inverted lists.** The stateful operator groups by `cell`;
    each cell's state is its inverted list {vec_id → quantized vector}.
    A re-ingested vec_id REPLACES its entry (dict semantics), which makes
    ingestion idempotent under exactly-once replays and restart-resumable
    from the checkpoint. Per-cell state is O(|corpus|/cells); at 100 TB
    you scale cells with the corpus (cells ≈ √N is the IVF norm) and the
    state store hash-partitions cells across executors. `max_per_cell`
    bounds state for firehose sources (keeps the most recent ids —
    recall then degrades gracefully to the retained window).
  * **Exactness contract (pinned in tests/test_streaming_ann.py):** the
    quantization (round-half-away-from-zero micro-units — Spark SQL
    round's HALF_UP), the cell assignment, the probe selection, and the
    rescore expression are all bit-compatible with the batch sim_ann_ivf
    path, so `topk()` over a streamed-in corpus returns BIT-IDENTICAL
    rows (ids, ranks, IEEE cosine) to batch sim_ann_ivf over the same
    parquet — no reconciliation epsilon between the live index and a
    batch rebuild.
  * **Query = one Spark job.** topk() explodes the latest committed
    inverted lists (JVM-side), joins the broadcast probe table (|queries|
    × nprobe rows), rescores with the batch path's Catalyst cosine
    (exact-integer dot, one IEEE division), and window-top-ks. No driver
    loop over vectors; the driver only assigns probe cells for the
    bounded query set (nprobe·|queries| pairs).
"""

from __future__ import annotations

import json as _json
from functools import partial
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.window import Window as W

from redisgears_spark.engine import GearsEngine, GearsError
from redisgears_spark.streaming.stateful import _StatefulRuntime


def _quant_half_up(v):
    """Quantize float64 → int64 micro-units with round-half-away-from-zero
    — the numpy twin of the batch path's Spark SQL
    `cast(round(x * 1e6) as bigint)` (BigDecimal HALF_UP). numpy's own
    `round` is half-EVEN and would diverge on exact .5 boundaries.

    Domain note (pinned in tests/test_streaming_ann.py): floor(d+0.5)
    is NOT universally BigDecimal-HALF_UP — the classic counterexample
    d = 0.49999999999999994 (the largest double < 0.5) has d+0.5 round
    to 1.0, so floor gives 1 where HALF_UP of d gives 0. It IS exact
    for every d this engine can produce, because d = double(float32) ×
    1e6 carries ≤ 44 significant bits (24-bit f32 mantissa × 20-bit
    1e6) while the counterexamples need a full 53-bit mantissa ending
    …just-below a half-integer. Feed this function float64s derived
    from float32 payloads (the embedding column's type), not arbitrary
    doubles."""
    import numpy as np

    d = v * 1e6
    return np.where(
        d >= 0, np.floor(d + 0.5), np.ceil(d - 0.5)
    ).astype("int64")


def _probe_score_kernel(
    batches: Iterator[pd.DataFrame], bc, exclude_self: bool
) -> Iterator[pd.DataFrame]:
    import numpy as np

    from redisgears_spark.operators.similarity import _block_cosine

    ids, Qm, probes = bc.value
    for pdf in batches:
        for cell, vec_ids, qs in zip(
            pdf["cell"], pdf["vec_ids"], pdf["qs"]
        ):
            qidx = probes.get(int(cell))
            if not qidx or len(vec_ids) == 0:
                continue
            n_id = np.asarray(vec_ids, dtype="int64")
            N = np.vstack(
                [np.asarray(x, dtype="int64") for x in qs]
            )
            cos = _block_cosine(Qm[qidx], N)
            qq = np.repeat(ids[qidx], len(n_id))
            nn = np.tile(n_id, len(qidx))
            cc = cos.ravel()
            if exclude_self:
                keep = qq != nn
                qq, nn, cc = qq[keep], nn[keep], cc[keep]
            yield pd.DataFrame(
                {"q_id": qq, "n_id": nn, "cosine": cc}
            )


def _make_router(centroids, vec_field: str, id_field: str):
    """mapInPandas kernel: parse the JSON vector payload, assign its IVF
    cell (argmax dot against the fixed centroids — ties to the lowest
    cell index, same as the batch assign), quantize. Runs executor-side
    over Arrow batches; the centroid matrix (16×64 float64) ships in the
    task closure."""

    def route(batches):
        import numpy as np

        from redisgears_spark.streaming.stateful import (
            _CTL_DELETE,
            _CTL_FIELD,
        )
        import warnings

        # silence np.fromstring's DeprecationWarning ONCE per task (a
        # per-row catch_warnings context manipulates global filter
        # state on every record — pure overhead in the hot parse loop);
        # matched by message so nothing unrelated is masked
        warnings.filterwarnings(
            "ignore", category=DeprecationWarning, message=r".*fromstring.*"
        )
        C = np.asarray(centroids, dtype="float64")
        dim = C.shape[1]
        for pdf in batches:
            # parse the batch first, then assign every cell with ONE
            # (batch × dim) @ (dim × cells) matmul instead of a per-row
            # C @ v (guide §4.2: hand whole batches to the vectorized
            # library). np.fromstring over the trimmed "[...]" payload
            # is the fast numeric parse of the JSON array — the payload
            # is a flat double array by construction — but it silently
            # TRUNCATES on unparseable content (and is deprecated), so
            # any length mismatch falls back to a strict json.loads
            # parse that raises loudly instead of misrouting the vector.
            vids: list[int] = []
            ids: list[int] = []
            dels: list[bool] = []
            vecs: list = []
            for fields, rec_id in zip(pdf["fields"], pdf["id"]):
                f = dict(fields) if fields is not None else {}
                payload = f.get(vec_field)
                vid = f.get(id_field)
                if payload is None or vid is None:
                    continue
                v = np.fromstring(
                    payload[1:-1], dtype="float64", sep=","
                )
                if v.shape[0] != dim:
                    v = np.asarray(_json.loads(payload), dtype="float64")
                    if v.shape[0] != dim:
                        raise GearsError(
                            f"vector payload for {id_field}={vid} has "
                            f"{v.shape[0]} components, index dim is {dim}"
                        )
                vecs.append(v)
                vids.append(int(vid))
                ids.append(int(rec_id))
                # a `del` tombstone carries the vector so it routes to
                # the same cell its insert landed in (the stream-deletion
                # path every stateful runtime honors); q = [] marks it
                dels.append(f.get(_CTL_FIELD) == _CTL_DELETE)
            if not vecs:
                yield pd.DataFrame(
                    {
                        "cell": pd.Series([], dtype="int64"),
                        "vec_id": pd.Series([], dtype="int64"),
                        "q": pd.Series([], dtype="object"),
                        "id": pd.Series([], dtype="int64"),
                    }
                )
                continue
            V = np.vstack(vecs)
            cells = (V @ C.T).argmax(axis=1)  # ties → lowest cell index
            Q = _quant_half_up(V)
            q_col = [
                [] if d else Q[i].tolist() for i, d in enumerate(dels)
            ]
            yield pd.DataFrame(
                {
                    "cell": pd.Series(cells, dtype="int64"),
                    "vec_id": pd.Series(vids, dtype="int64"),
                    "q": pd.Series(q_col, dtype="object"),
                    "id": pd.Series(ids, dtype="int64"),
                }
            )

    return route


def _make_cell_reducer(max_per_cell: int | None):
    def reducer(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from redisgears_spark.streaming.stateful import _ordered_frame

        (cell,) = key
        if state.exists:
            (inv_json,) = state.get
            inv: dict[str, list[int]] = _json.loads(inv_json)
        else:
            inv = {}
        frame = _ordered_frame(pdfs)
        if len(frame):
            for vid, q in zip(frame["vec_id"], frame["q"]):
                if len(q) == 0:  # routed `del` tombstone
                    inv.pop(str(int(vid)), None)
                    continue
                inv[str(int(vid))] = [int(x) for x in q]
            if max_per_cell is not None and len(inv) > max_per_cell:
                # bounded-state mode: retain the max_per_cell HIGHEST
                # vec_ids (deterministic, replay-stable — "most recent"
                # under monotonically assigned ids)
                keep = sorted(inv, key=int)[-max_per_cell:]
                inv = {k: inv[k] for k in keep}
        state.update((_json.dumps(inv),))
        ids = sorted(int(k) for k in inv)
        qs = [inv[str(i)] for i in ids]
        if qs:
            import numpy as np

            Q = np.asarray(qs, dtype="int64")
            nqs = (Q * Q).sum(axis=1).tolist()  # exact: |q| ≤ 1e6 ⇒ no wrap
        else:
            nqs = []
        yield pd.DataFrame(
            [
                {
                    "cell": int(cell),
                    "n_vectors": len(ids),
                    "vec_ids": ids,
                    "qs": qs,
                    "nqs": nqs,
                }
            ]
        )

    return reducer


class StreamingAnnIvfRuntime(_StatefulRuntime):
    """Continuously-maintained IVF ANN index over a vector stream.

    Records carry the vector as a JSON float array in
    ``fields[vec_field]`` and its id in ``fields[id_field]``. See the
    module docstring for the routing/state/exactness contract.
    """

    _STEM = "ann"
    _QUERY_NAME = "streaming_ann_ivf"
    _OUTPUT_SCHEMA = (
        "cell long, n_vectors bigint, vec_ids array<bigint>, "
        "qs array<array<bigint>>, nqs array<bigint>"
    )
    _STATE_SCHEMA = "inv string"
    _ROUTED_SCHEMA = "cell long, vec_id long, q array<bigint>, id bigint"
    _GROUP = "cell"  # sink snapshots key on the cell space
    _NO_LATEST = (
        "StreamingAnnIvfRuntime has no per-key stats snapshot — use "
        "inverted_lists() / topk()"
    )
    _NO_EXPIRY = (
        "TTL expiry is not supported for the streaming ANN runtime "
        "(state is an index, not per-key stats); use max_per_cell "
        "for bounded state, stop()/flush() to clear"
    )

    def __init__(
        self,
        engine: GearsEngine,
        spool_dir: str,
        work_dir: str,
        centroids,
        source_adapter=None,
        vec_field: str = "vec",
        id_field: str = "vec_id",
        max_per_cell: int | None = None,
        files_per_trigger: int | None = None,
    ):
        super().__init__(engine, spool_dir, work_dir, source_adapter,
                         files_per_trigger=files_per_trigger)
        import numpy as np

        self.centroids = np.asarray(centroids, dtype="float64")
        self.vec_field = vec_field
        self.id_field = id_field
        self.max_per_cell = max_per_cell
        # bounded key space: state keys are the IVF cells
        self._state_key_cap = len(self.centroids)

    def _reducer(self) -> Callable:
        return _make_cell_reducer(self.max_per_cell)

    def _router(self) -> Callable:
        return _make_router(self.centroids, self.vec_field, self.id_field)

    def inverted_lists(self) -> DataFrame | None:
        """Latest committed inverted list per cell (highest epoch wins —
        update mode re-emits a cell's full list whenever it changes), or
        None before the first commit."""
        df = self._sink_df()
        if df is None:
            return None
        return (
            df.groupBy("cell")
            .agg(
                F.max_by(
                    F.struct("n_vectors", "vec_ids", "qs", "nqs"),
                    F.col("epoch"),
                ).alias("s")
            )
            .select("cell", "s.*")
        )

    def _scored_candidates(
        self,
        queries: list[tuple[int, list[float]]],
        nprobe: int,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Shared probe-and-rescore stage for topk()/range_search():
        (q_id, n_id, cosine) for every candidate in the probed cells.

        The driver assigns probe cells for the |queries| vectors (the
        query set is bounded by definition; the CORPUS never touches the
        driver) and broadcasts the quantized query matrix plus the
        cell→queries probe map; each inverted-list row rescores its
        whole cell against its probing queries with ONE int64 numpy
        matmul (`_block_cosine` — the identical IEEE op sequence as the
        batch path's Catalyst expression, bit-exact). r13: the former
        shape exploded the lists into |cell|·|probing queries| JVM rows
        and evaluated an interpreted `aggregate()` dot per pair — and
        AQE coalesced the small post-groupBy shuffle to ONE partition,
        so the whole rescore ran in a single task (measured 4.2 s for
        2 000×200 pairs at dim 64; the kernel does the same flops in
        one vectorized matmul per cell)."""
        import numpy as np

        inv = self.inverted_lists()
        if inv is None:
            raise GearsError(
                "streaming ANN index is empty — ingest vectors and "
                "process_available() first"
            )
        C = self.centroids
        cell_probes: dict[int, list[int]] = {}
        q_ids, qmat = [], []
        for qi, (q_id, vec) in enumerate(queries):
            v = np.asarray(vec, dtype="float64")
            dots = C @ v
            order = np.argsort(-dots, kind="stable")[:nprobe]
            for c in order:
                cell_probes.setdefault(int(c), []).append(qi)
            q_ids.append(int(q_id))
            qmat.append(_quant_half_up(v))
        spark = self.spark
        dim = C.shape[1]
        Q = (
            np.vstack(qmat).astype("int64")
            if qmat
            else np.zeros((0, dim), dtype="int64")
        )
        bc = spark.sparkContext.broadcast(
            (np.asarray(q_ids, dtype="int64"), Q, cell_probes)
        )
        cand = inv.select("cell", "vec_ids", "qs").mapInPandas(
            partial(_probe_score_kernel, bc=bc, exclude_self=bool(exclude_self)),
            "q_id long, n_id long, cosine double",
        )
        if nprobe < len(C):
            # argmax routing puts each corpus vector in exactly ONE
            # inverted list, so (q_id, n_id) can repeat only through the
            # probe table — and that has one row per (q, cell). With an
            # exhaustive probe the pairs are unique by construction;
            # skipping the dedup drops a whole shuffle from the
            # range-screen path.
            cand = cand.dropDuplicates(["q_id", "n_id"])
        return cand

    def topk(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 5,
        nprobe: int = 10,
    ) -> DataFrame:
        """Top-k nearest neighbours for a bounded query set against the
        live index — one Spark job, bit-compatible with batch
        sim_ann_ivf (see _scored_candidates for the probe/rescore
        contract)."""
        scored = self._scored_candidates(queries, nprobe)
        w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "cosine", "rank")
        )

    def range_search(
        self,
        queries: list[tuple[int, list[float]]],
        threshold: float,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Every indexed vector with cosine >= threshold against each
        query — the range-query twin of topk(), same probe/rescore
        machinery. With nprobe = number of cells (the default) the probe
        is EXHAUSTIVE: argmax routing partitions the corpus across
        cells, so probing all cells scans every indexed vector exactly
        once and the result is EXACT (bit-identical cosines to the batch
        brute-force path) — no recall loss, while the corpus is still
        read from the index's quantized lists. At production scale pass
        nprobe < cells for the usual IVF recall/cost trade, or keep the
        exhaustive probe when the increment is small (screening a new
        batch against the corpus costs |corpus| dot products either
        way; the index supplies locality and the quantized layout).

        Self-pairs are NOT excluded (a range query's id space is the
        caller's concern — batch-vs-corpus screens use disjoint id
        sets)."""
        if nprobe is None:
            nprobe = len(self.centroids)
        scored = self._scored_candidates(
            queries, nprobe, exclude_self=False
        )
        return scored.filter(F.col("cosine") >= threshold)
