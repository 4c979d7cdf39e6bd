"""Span self-time arithmetic, the tail percentile rule and the input
generator, without Spark."""

from __future__ import annotations

import pytest

from perfbench import datagen, metrics
from perfbench.trace import Span, Tracer, covered, self_jobs, self_times


def _span(name, start, end, parent=None, children=(), jobs=0):
    return Span(name, start, end, parent=parent, children=list(children), jobs=jobs)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4  # overlap counted once
    assert covered([(1, 2), (4, 6)], 0, 10) == 3  # disjoint
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4  # clipped to the parent
    assert covered([(3, 3), (7, 6)], 0, 10) == 0  # empty intervals


def test_self_time_with_nested_and_overlapping_children():
    spans = [
        _span("root", 0.0, 10.0, children=(1, 2, 3), jobs=9),
        _span("a", 1.0, 4.0, parent=0, children=(4,), jobs=3),
        _span("b", 3.0, 6.0, parent=0, jobs=2),  # overlaps a
        _span("c", 8.0, 12.0, parent=0, jobs=1),  # runs past the parent's end
        _span("a1", 2.0, 3.0, parent=1, jobs=3),
    ]
    st = self_times(spans)
    assert st == pytest.approx([10 - (5 + 2), 3 - 1, 3, 4, 1])
    assert self_jobs(spans) == [3, 0, 2, 1, 3]


def test_self_times_of_sequential_spans_sum_to_the_root():
    spans = [
        _span("root", 0.0, 6.0, children=(1, 2)),
        _span("a", 0.5, 2.5, parent=0, children=(3,)),
        _span("b", 3.0, 5.5, parent=0),
        _span("a1", 1.0, 2.0, parent=1),
    ]
    assert sum(self_times(spans)) == pytest.approx(6.0)


def test_tracer_records_parents_ops_and_jobs():
    now = iter(range(100))
    jobs = iter([0, 0, 2, 5, 5, 5])
    t = Tracer(job_count=lambda: next(jobs), clock=lambda: float(next(now)))
    t.op = "q"
    with t.span("outer"):
        f = t.wrap(lambda x: x + 1, "inner")
        assert f(1) == 2
    outer, inner = t.spans
    assert inner.parent == 0 and outer.children == [1]
    assert outer.op == inner.op == "q"
    assert (outer.jobs, inner.jobs) == (5, 2)
    assert self_jobs(t.spans) == [3, 2]
    assert t.bookkeeping_s > 0


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 41)]  # 40 samples: ten beyond the 30th
    value, pct = metrics.tail(xs)
    assert pct == 75.0
    assert value == pytest.approx(30.5)  # on an even grid the estimate is n·p + 1/2


def test_quantile_is_harrell_davis():
    assert metrics._beta_cdf(0.3, 2, 5) == pytest.approx(0.579825)  # P(Bin(6, 0.3) >= 2)
    assert metrics._beta_cdf(0.9, 30, 2) == pytest.approx(1 - metrics._beta_cdf(0.1, 2, 30))
    assert metrics.quantile([2.0] * 7, 0.5) == pytest.approx(2.0)
    assert metrics.quantile([5.0, 1.0, 3.0], 0.5) == pytest.approx(3.0)  # symmetric weights
    # two clusters with the median between them: a small shift moves the
    # estimate a little, where the order statistic would jump
    xs = [0.3] * 14 + [0.6] * 14
    assert metrics.quantile(xs, 0.5) == pytest.approx(0.45)
    moved = metrics.quantile([0.3] * 13 + [0.6] * 15, 0.5)
    assert 0.45 < moved < 0.5


def test_per_layer_names_are_unique_and_valid():
    names = metrics.per_layer_names()
    assert len(names) == len(set(names)) <= 128
    assert all(len(n) <= 64 for n in names)


def test_generator_is_deterministic_and_matches_the_schema(tmp_path):
    a = datagen.build_tables(7, 0.001)
    b = datagen.build_tables(7, 0.001)
    c = datagen.build_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    rows = datagen.table_rows(0.001)
    assert {t: a[t].num_rows for t in a} == rows
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    docs = a["documents"].to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["text"].str.endswith(" dup").any()
