"""kNN block kernel (adaptive radius) vs exact numpy oracle (k=10 north star)."""

from __future__ import annotations

import pytest

from parallelcovertree_spark.operators.knn import knn_brute_force, knn_join_block_kernel
from parallelcovertree_spark.oracle import knn_np
from parallelcovertree_spark.sources.synthetic import (
    gaussian_points_np,
    synthetic_points,
)


@pytest.mark.parametrize("n,k", [(100, 10), (500, 10), (500, 3)])
def test_knn_matches_oracle(spark, n, k):
    pts = synthetic_points(spark, n).persist()
    got = {(r.src, r.nbr_rank, r.dst) for r in knn_join_block_kernel(pts, k=k).collect()}
    want = knn_np(gaussian_points_np(n), k=k)
    assert got == want
    pts.unpersist()


def test_knn_small_r0_forces_expansion(spark):
    """Start with a uselessly small radius: radius doubling plus the
    straggler finish must still converge to the exact answer."""
    pts = synthetic_points(spark, 200).persist()
    got = {(r.src, r.nbr_rank, r.dst) for r in knn_join_block_kernel(pts, k=5, r0=0.01).collect()}
    want = knn_np(gaussian_points_np(200), k=5)
    assert got == want
    pts.unpersist()


def test_brute_force_matches_oracle(spark):
    pts = synthetic_points(spark, 150)
    got = {(r.src, r.nbr_rank, r.dst) for r in knn_brute_force(pts, k=10).collect()}
    want = knn_np(gaussian_points_np(150), k=10)
    assert got == want
