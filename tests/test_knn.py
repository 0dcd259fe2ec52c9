"""kNN block kernel vs exact numpy oracle (k=10 north star)."""

from __future__ import annotations

import numpy as np
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
    """Start with a uselessly small radius: the doubling rounds (and the
    straggler fallback) must still converge to the exact answer."""
    pts = synthetic_points(spark, 200).persist()
    got = {
        (r.src, r.nbr_rank, r.dst)
        for r in knn_join_block_kernel(pts, k=5, r0=0.01).collect()
    }
    want = knn_np(gaussian_points_np(200), k=5)
    assert got == want
    pts.unpersist()


def _knn_lexsort(pdf, k: int, chunk: int = 512) -> set[tuple[int, int, int]]:
    """``knn_np``'s answer, vectorized per block of rows: float32-rounded
    coordinates, float64 d², (d² asc, dst asc), self excluded."""
    ids = pdf["id"].to_numpy(np.int64)
    x = pdf["x"].to_numpy(np.float32).astype(np.float64)
    y = pdf["y"].to_numpy(np.float32).astype(np.float64)
    out = set()
    for lo in range(0, len(ids), chunk):
        hi = min(lo + chunk, len(ids))
        d2 = (x[lo:hi, None] - x[None, :]) ** 2 + (y[lo:hi, None] - y[None, :]) ** 2
        d2[np.arange(hi - lo), np.arange(lo, hi)] = np.inf
        order = np.lexsort((np.broadcast_to(ids, d2.shape), d2), axis=-1)[:, :k]
        for i, row in zip(range(lo, hi), ids[order]):
            out.update((int(ids[i]), rank, int(d)) for rank, d in enumerate(row, start=1))
    return out


def test_knn_partial_topk_stragglers(spark):
    """r0=1e-6 certifies nothing in round 0, so all 4600 points are
    stragglers; 4600² = 21.2M pairs is above the broadcast-window limit
    (20M), which routes them through the partial-top-k scan."""
    n, k = 4600, 5
    pts = synthetic_points(spark, n)
    got = {
        (r.src, r.nbr_rank, r.dst)
        for r in knn_join_block_kernel(pts, k=k, r0=1e-6).collect()
    }
    assert got == _knn_lexsort(gaussian_points_np(n), k)


def test_brute_force_matches_oracle(spark):
    pts = synthetic_points(spark, 150)
    got = {(r.src, r.nbr_rank, r.dst) for r in knn_brute_force(pts, k=10).collect()}
    want = knn_np(gaussian_points_np(150), k=10)
    assert got == want
