"""Tests for the benchmark's own helpers, on a tiny corpus (no Spark).

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import types
from itertools import islice

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.spans import Span, Tracer, self_times, subtree_self_by_name
from perfbench.stats import MIN_BEYOND, Tally, percentile, samples_beyond, summary

WORDS = ["cat", "salmon", "fresh", "river", "ocean", "swim"]
COUNTS = [50, 20, 10, 5, 2, 1]


def test_hot_pool_is_fixed_and_cycles_follow_the_seed():
    pool = inputs.hot_pool(WORDS, COUNTS)
    assert pool == inputs.hot_pool(WORDS, COUNTS)
    assert len(pool) == inputs.POOL_SIZE
    assert all(1 <= len(c.split()) <= 4 and set(c.split()) <= set(WORDS) for _, c in pool)
    a = list(islice(inputs.hot_cycles(3, pool), 2))
    assert a == list(islice(inputs.hot_cycles(3, pool), 2))
    assert a != list(islice(inputs.hot_cycles(4, pool), 2))
    assert a[0] != a[1]
    # Zipf popularity in exact shares per cycle, whatever the seed
    counts = inputs.zipf_counts()
    assert sum(counts) == inputs.HOT_CYCLE and counts == sorted(counts, reverse=True)
    for seed in (3, 4):
        for cycle in islice(inputs.hot_cycles(seed, pool), 2):
            assert [cycle.count(q) for q in pool] == counts


def test_tail_list_is_fixed_and_blocks_follow_the_seed():
    tail = inputs.tail_list(WORDS)
    assert tail == inputs.tail_list(WORDS)
    assert len(tail) == inputs.TAIL_SIZE and len({q for q, _ in tail}) == inputs.TAIL_SIZE
    assert all(2 <= len(c.split()) <= 3 and set(c.split()) <= set(WORDS) for _, c in tail)
    per_pass = inputs.TAIL_SIZE // inputs.TAIL_BLOCK
    a = list(islice(inputs.tail_blocks(5, WORDS), 2 * per_pass))
    assert a == list(islice(inputs.tail_blocks(5, WORDS), 2 * per_pass))
    assert a != list(islice(inputs.tail_blocks(6, WORDS), 2 * per_pass))
    assert all(len(b) == inputs.TAIL_BLOCK for b in a)
    passes = [sum(a[i:i + per_pass], []) for i in (0, per_pass)]
    assert passes[0] != passes[1]
    assert all(sorted(p) == sorted(tail) for p in passes)


def test_surface_words_drop_markers_and_stop_words(tmp_path):
    text = ["the cat marker0 eats", "cat salmon marker1", "and salmon salmon"]
    pq.write_table(pa.table({"text": text}), tmp_path / "part-0000.parquet")
    words, counts = inputs._surface_words(str(tmp_path))
    assert words == ["cat", "eats", "salmon"]
    assert counts == [2, 1, 3]


def test_percentile_needs_ten_samples_beyond_it():
    assert samples_beyond(1000, 99) == MIN_BEYOND
    assert percentile(list(range(1, 1001)), 99) == 990
    with pytest.raises(ValueError):
        percentile(list(range(999)), 99)
    assert percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)
    assert percentile([5.0] * 20 + [1.0], 50) == 5.0


def test_summary_reports_median_quartiles_and_best():
    s = summary([4.0, 1.0, 3.0, 2.0, 5.0])
    assert (s["n"], s["median"], s["best"]) == (5, 3.0, 1.0)
    assert s["q1"] <= s["median"] <= s["q3"]
    assert summary([4.0])["q1"] == summary([4.0])["q3"] == 4.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("search_local", "serving", 0.0, 10.0),
        Span("tokenize", "tokenizer", 1.0, 2.0, parent=0),
        Span("maxscore_topk", "wand", 3.0, 8.0, parent=0),
        Span("decode_term_streams", "serving", 4.0, 6.0, parent=2),
        Span("read_row_group", "serving", 8.5, 9.5, parent=0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 1.0, 3.0, 2.0, 1.0])
    by_name, wall, n = subtree_self_by_name(spans, "search_local")
    assert (wall, n) == (10.0, 1)
    assert sum(by_name.values()) == pytest.approx(wall)


def test_self_time_merges_overlapping_children_and_clips():
    spans = [
        Span("root", "x", 0.0, 10.0),
        Span("a", "x", 1.0, 4.0, parent=0),
        Span("b", "x", 3.0, 5.0, parent=0),  # overlaps a: union is 1..5
        Span("c", "x", 9.0, 12.0, parent=0),  # clipped to 9..10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 4.0 - 1.0)
    # spans outside a "root" tree do not count toward its layers
    by_name, wall, n = subtree_self_by_name(spans + [Span("other", "x", 20.0, 21.0)], "root")
    assert "other" not in by_name and n == 1


def test_tracer_wraps_restores_and_nests():
    mod = types.ModuleType("mod")
    mod.outer = lambda x: mod.inner(x) + 1
    mod.inner = lambda x: x * 2

    t = Tracer()
    orig = mod.inner
    t.wrap(mod, "outer", "outer", "a")
    t.wrap(mod, "inner", "inner", "b", after=lambda sp, a, k, r: sp.attrs.update(r=r))
    t.qid = "q1"
    assert mod.outer(3) == 7
    t.restore()
    assert mod.inner is orig
    assert [(s.name, s.parent, s.qid) for s in t.spans] == [("outer", None, "q1"), ("inner", 0, "q1")]
    assert t.spans[1].attrs == {"r": 6}
    assert t.counts() == {"outer": 1, "inner": 1}


def test_tally_counts_wrong_answers_and_errors_as_failures():
    t = Tally()
    assert t.check("q1", [[1, 7, 0.5]], [[1, 7, 0.5]])
    assert not t.check("q2", [[1, 7, 0.5]], [[1, 8, 0.5]])
    t.error("q3", RuntimeError("boom"))
    assert (t.attempted, t.failed) == (3, 2)
    assert t.failed_frac == pytest.approx(2 / 3)
    assert len(t.first_failures) == 2 and "boom" in t.first_failures[1]
    assert Tally().failed_frac == 0.0
