"""Tests of the benchmark's own arithmetic and instrumentation.

    python3 -m pytest perfbench -q -p no:cacheprovider

None of these start Spark.
"""

import json
import os

import pytest

import corpus
import run
import stats
from spans import Tracer, self_times


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    value, pct = stats.tail([float(x) for x in range(1, 101)])
    assert value == 90.0  # 91..100 lie beyond it
    assert pct == 90.0
    value, pct = stats.tail(list(range(11, 0, -1)))
    assert (value, round(pct, 2)) == (1, 9.09)
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_slice_rate_is_a_median_over_equal_slices():
    ops = [(i * 0.1, (i + 1) * 0.1) for i in range(100)]  # 10 ops/s
    assert stats.slice_rate(ops, 0.0, 10.0, 10) == pytest.approx(10.0)
    # one stalled slice (a single 1 s op) moves one slice, not the median
    stalled = [op for op in ops if not 3.0 <= op[0] < 4.0] + [(3.0, 4.0)]
    assert stats.slice_rate(stalled, 0.0, 10.0, 10) == pytest.approx(10.0)
    assert len(stalled) / 10.0 < 10.0  # count / wall would have dropped


def test_slice_rate_splits_an_op_across_the_slices_it_spans():
    # 1.5 ops per 1 s slice: each 2/3 s op straddles a boundary in turn
    ops = [(i * 2 / 3, (i + 1) * 2 / 3) for i in range(6)]
    assert stats.slice_rate(ops, 0.0, 4.0, 4) == pytest.approx(1.5)
    with pytest.raises(ValueError):
        stats.slice_rate(ops, 1.0, 1.0, 4)


def test_self_time_is_the_span_minus_what_its_children_cover():
    spans = [
        (0, "parent", 0.0, 10.0, None, 1),
        (1, "a", 1.0, 3.0, 0, 1),
        (2, "b", 2.0, 5.0, 0, 1),    # overlaps a: [1, 5) counted once
        (3, "c", 8.0, 12.0, 0, 1),   # clipped to the parent: [8, 10)
        (4, "a.child", 1.5, 2.5, 1, 1),
    ]
    selfs = self_times(spans)
    assert selfs == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


def test_tracer_records_nested_spans_with_op_ids():
    clock = iter(range(100)).__next__
    tr = Tracer(clock=clock)
    tr.op = 7
    outer = tr.open("outer")
    inner = tr.open("inner")
    tr.close(inner)
    tr.close(outer)
    assert [s[1:] for s in tr.spans] == [
        ["outer", 0, 3, None, 7], ["inner", 1, 2, 0, 7]]


def _attrs(mods):
    """Every attribute instrument() may replace, as stored on its owner."""
    owners = [mods["session"], mods["build"], mods["query"],
              mods["query"].IndexReader, mods["query"]._DECODED_CACHE]
    return [(id(o), dict(vars(o))) for o in owners]


@pytest.mark.parametrize("ships_scorers", [False, True])
def test_traced_run_restores_every_wrapped_attribute(ships_scorers):
    mods = run.import_engine()
    before = _attrs(mods)
    tr = Tracer()
    tr.op = 0
    run.instrument(tr, mods, ships_scorers=ships_scorers)
    assert tr.installed
    assert mods["query"].tokenize("hello worlds") == ["hello", "world"]
    assert mods["query"]._DECODED_CACHE.get(("absent",)) is None
    assert "get" in vars(mods["query"]._DECODED_CACHE)
    tr.restore()
    assert not tr.installed
    assert _attrs(mods) == before
    assert [s[1] for s in tr.spans] == ["lexer.tokenize"]
    assert tr.counts[(0, "cache.gets")] == 1
    assert tr.counts[(0, "cache.hits")] == 0


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_inputs_are_a_function_of_the_seed():
    a, b, c = corpus.Generator(5), corpus.Generator(5), corpus.Generator(6)
    ta, tb, tc = a.turns(500), b.turns(500), c.turns(500)
    assert ta.equals(tb) and not ta.equals(tc)
    assert a.queries((10, 400), 20) == b.queries((10, 400), 20)
    assert list(a.stream(20, 50)) == list(b.stream(20, 50))
    edits = a.edits(ta, 40)
    assert edits.equals(b.edits(tb, 40))
    after = corpus.apply_edits(ta, edits)
    assert len(after) == len(ta)
    assert (after.set_index(["conv_id", "turn_idx"]).loc[
        list(zip(edits.conv_id, edits.turn_idx)), "text"].tolist()
        == edits.text.tolist())
