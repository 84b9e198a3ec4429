"""Pins the benchmark's own arithmetic and inputs: generator determinism,
the percentile / geomean / batch-count helpers, span self time, and the
metric names BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pytest

import fixture
import probes
import run
import stats
import wl_tfcall
import wl_trigger_stream
from spans import Span, Tracer, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_fixture_same_seed_same_tables():
    a, b = fixture.generate(3, 0.001), fixture.generate(3, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)


def test_fixture_seed_changes_tables():
    a, b = fixture.generate(3, 0.001), fixture.generate(4, 0.001)
    assert not a["lineitem"].equals(b["lineitem"])
    assert a["region"].equals(b["region"])


def test_fixture_keys_are_consistent():
    t = fixture.generate(5, 0.001)
    n_ord = t["orders"].num_rows
    assert max(t["lineitem"]["l_orderkey"].to_pylist()) < n_ord
    assert max(t["orders"]["o_custkey"].to_pylist()) < t["customer"].num_rows
    assert t["lineitem"].num_rows == 4 * n_ord


def test_fixture_documents_have_the_measured_shape():
    docs = fixture.generate(6, 0.01)["documents"]["text"].to_pylist()
    marked = [t for t in docs if t.endswith(" " + fixture.DUP_MARK)]
    assert len(marked) == len(docs) // 20
    assert len(set(docs)) == len(docs)  # near copies, no exact ones
    originals = set(docs)
    assert all(t[: -len(fixture.DUP_MARK) - 1] in originals for t in marked)
    words = [len(t.split()) for t in docs if t not in marked]
    assert min(words) >= 10 and max(words) <= 99


def test_tfcall_call_sequence_is_seeded():
    take = lambda s, c: list(itertools.islice(wl_tfcall._ops(s, c, "timed", 100, 10), 50))
    assert take(1, 0) == take(1, 0)
    assert take(1, 0) != take(1, 1)
    assert take(1, 0) != take(2, 0)


def test_stream_events_are_seeded():
    ts = np.full(20, 10**6)
    a = wl_trigger_stream._events(np.random.default_rng(9), 100, 20, ts)
    b = wl_trigger_stream._events(np.random.default_rng(9), 100, 20, ts)
    assert a.equals(b)
    assert a["event_id"].to_pylist() == list(range(100, 120))


def test_percentile_matches_numpy_linear():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for q in (0, 10, 50, 90, 95, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_beyond_and_batches_beyond():
    values = list(range(1, 101))  # p90 = 90.1
    assert stats.beyond(values, 90) == 10
    # ten samples above p90, but all in two batches
    batches = [0] * 95 + [1] * 5
    assert stats.batches_beyond(values, batches, 90) == 2


def _span(sid, parent, start, end):
    return Span("s", "t", sid, parent, start, end)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps its sibling
        _span(4, 1, 9.0, 12.0),  # runs past its parent (async child)
        _span(5, 2, 1.5, 2.0),
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - (5.0 + 1.0))
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[4] == pytest.approx(3.0)
    assert got[5] == pytest.approx(0.5)


def test_tracer_links_parents_and_off_records_nothing():
    tr = Tracer(True)
    with tr.span("a", trace_id="op1") as a:
        with tr.span("b") as b:
            pass
    assert b.parent_id == a.span_id and b.trace_id == "op1"
    off = Tracer(False)
    with off.span("a") as s:
        s.attrs.update(jobs=1)
    assert off.spans == []


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(
        probes.LAYER_METRICS
    )
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "rate_per_s", "typical_ms", "tail_ms",
    }
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert isinstance(bench["run_seconds"], int)
