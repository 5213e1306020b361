"""Tests for the benchmark's own helpers (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from stats import driver_seconds, median, percentile, summary, union_length  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.mark.parametrize("fn", [gen.uniform_xy, gen.uniform_outlier_xy, gen.gaussian_xy])
def test_generators_do_not_depend_on_partitioning(fn):
    ids = np.arange(10_000, dtype=np.int64)
    whole = fn(ids, seed=7)
    assert whole.dtype == np.float32 and whole.shape == (10_000, 2)
    for parts in (3, 16):
        chunks = np.array_split(np.random.default_rng(parts).permutation(ids), parts)
        pieces = np.concatenate([fn(c, seed=7) for c in chunks])
        order = np.concatenate(chunks)
        assert np.array_equal(pieces, whole[order])
    assert np.array_equal(fn(ids, seed=7), whole)
    assert not np.array_equal(fn(ids, seed=8), whole)


def test_generators_have_no_short_period():
    ids = np.array([5, 5 + 1_000_003], dtype=np.int64)
    for fn in (gen.uniform_xy, gen.gaussian_xy):
        a, b = fn(ids, seed=1)
        assert not np.array_equal(a, b)


def test_generator_distributions():
    ids = np.arange(200_000, dtype=np.int64)
    u = gen.uniform_xy(ids, seed=3)
    assert u.min() >= -gen.EXTENT and u.max() < gen.EXTENT
    g = gen.gaussian_xy(ids, seed=3).astype(np.float64)
    assert abs(g.mean()) < 0.05
    assert g.var(axis=0) == pytest.approx([gen.VAR, gen.VAR], rel=0.02)


def test_uniform_outlier_is_point_zero_only():
    ids = np.arange(1_000, dtype=np.int64)
    u, o = gen.uniform_xy(ids, seed=2), gen.uniform_outlier_xy(ids, seed=2)
    assert np.array_equal(u[1:], o[1:])
    assert o[0].tolist() == [0.0, gen.EXTENT + gen.OUTLIER_GAP]
    assert np.hypot(*(o[1:] - o[0]).T).min() >= gen.OUTLIER_GAP


def test_radius_count_matches_brute_force():
    xy = gen.gaussian_xy(np.arange(3_000, dtype=np.int64), seed=4).astype(np.float64)
    r = gen.degree_radius("gaussian", 3_000, 16.0)
    for sources in (np.arange(3_000), np.arange(5, 3_000, 7)):
        want = sum(len(oracle.radius_ids(xy, int(s), r)) for s in sources)
        assert oracle.radius_count(xy, r, sources) == want


def test_degree_radius_gives_the_target_degree():
    n = 20_000
    for geometry in ("uniform", "gaussian"):
        xy = gen.GENERATORS[geometry](np.arange(n, dtype=np.int64), 1).astype(np.float64)
        r = gen.degree_radius(geometry, n, 16.0)
        deg = [len(oracle.radius_ids(xy, s, r)) for s in range(0, n, 97)]
        # uniform loses a little at the square's border
        assert 13.5 < np.mean(deg) < 18.5


def test_median_and_percentile():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        median([])


def test_summary_reports_a_tail_only_with_ten_samples_beyond_it():
    few = summary([1.0, 2.0, 3.0])
    assert few == {"n": 3, "median": 2.0}
    vals = [float(i) for i in range(100)]
    s = summary(vals)
    assert s["n"] == 100 and s["median"] == 49.5
    assert "p90" in s and "p99" not in s
    assert "p99" in summary([float(i) for i in range(1000)])


def test_driver_seconds_from_overlapping_jobs():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    # span 10..20; jobs overlap each other and stick out of the span
    jobs = [(9, 12), (11, 14), (16, 17), (19, 25)]
    assert driver_seconds(10, 20, jobs) == pytest.approx(10 - (4 + 1 + 1))
    assert driver_seconds(10, 20, []) == 10


def test_knn_oracle_breaks_ties_by_id():
    xy = np.array([[0, 0], [1, 0], [-1, 0], [0, 1], [2, 0]], dtype=np.float32).astype(np.float64)
    assert oracle.knn_ids(xy, 0, 3).tolist() == [1, 2, 3]
    rows = np.array([[0, 1, 1], [0, 2, 2], [0, 3, 3]])
    assert oracle.check_knn(xy, 3, [0], rows) is None
    assert oracle.check_knn(xy, 3, [0], rows[[1, 0, 2]]) is None  # row order is free
    swapped = np.array([[0, 1, 2], [0, 2, 1], [0, 3, 3]])
    assert oracle.check_knn(xy, 3, [0], swapped) is not None


def test_radius_oracle_reports_missing_rows():
    xy = np.array([[0, 0], [0.5, 0], [3, 0]], dtype=np.float64)
    good = np.array([[0, 0], [0, 1]])
    assert oracle.check_radius(xy, 1.0, [0], good) is None
    assert "missing" in oracle.check_radius(xy, 1.0, [0], good[:1])
    assert "unexpected" in oracle.check_radius(xy, 1.0, [0], np.array([[0, 0], [0, 1], [2, 2]]))


def test_event_log_parser_maps_jobs_to_spans():
    log = eventlog.parse_dir(os.path.join(HERE, "fixtures", "eventlog"))
    assert len(log.jobs) == 2  # the job that never ended is dropped
    spans = [
        {"id": 0, "name": "root", "parent": None, "start": 999.0, "end": 1003.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1000.0, "end": 1000.8},
        {"id": 2, "name": "b", "parent": 0, "start": 1001.0, "end": 1002.0},
    ]
    c = eventlog.span_counters(spans, log, Tracer.key)
    a = c[1]
    assert a["jobs"] == 1
    assert a["wall_s"] == pytest.approx(0.8)
    assert a["driver_s"] == pytest.approx(0.2)
    assert a["shuffle_bytes"] == 1200
    assert a["py_bytes"] == 3000
    assert a["py_time_s"] == pytest.approx(0.25)
    assert a["task_cpu_s"] == pytest.approx(0.2)
    assert a["gc_s"] == pytest.approx(0.01)
    assert a["spill_bytes"] == 1024
    assert a["task_skew"] == pytest.approx(1.5)
    assert a["knn_rounds"] == 1
    # a job without a span key is assigned by its submission time
    b = c[2]
    assert b["jobs"] == 1 and b["driver_s"] == pytest.approx(0.7)
    assert b["task_skew"] == 1.0 and b["knn_rounds"] == 0
    # a parent span counts the jobs of the spans inside it
    assert c[0]["jobs"] == 2
    assert c[0]["driver_s"] == pytest.approx(4.0 - 0.9)
    assert set(eventlog.FAMILIES) <= set(a)


def test_tracer_records_nested_spans_only_when_enabled():
    t = Tracer("run", enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.closed()
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert Tracer.key(3) == "perfbench-span-3"


def test_grid_hit_ratio_counts_the_plan_candidates():
    import run

    xy = np.array([[0.1, 0.1], [0.2, 0.1], [5.0, 5.0]])
    # 5 ordered rows (3 self-loops + 1 pair both ways) → 1 pair;
    # candidates: cell (0,0) meets itself (2×2), cell (5,5) itself (1×1)
    assert run._grid_hit_ratio(xy, 1.0, 5) == pytest.approx(1 / 5)


def test_read_edge_lines(tmp_path):
    import run

    (tmp_path / "part-00000.txt").write_text("1 1\n1 2\n")
    (tmp_path / "part-00001.txt").write_text("2 1\n")
    (tmp_path / "_SUCCESS").write_text("")
    lines, pairs = run._read_edge_lines(str(tmp_path))
    assert lines == 3
    assert pairs.tolist() == [[0, 0], [0, 1], [1, 0]]
