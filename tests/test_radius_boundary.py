"""A pair at distance exactly r whose cells at side r are two apart.

x = -5e-324 and x' = 0.1 (y = 0), r = 0.1: the computed distance is exactly
r, so both ordered pairs are in the ε-graph, but ``floor(x/r) = -1`` and
``floor(x'/r) = 1``. Every radius path must still find the pair, which is
what bucketing at ``cells.cell_side(r)`` guarantees.

The tree stores float32 coordinates, where -5e-324 rounds to -0.0 and 0.1
moves off the boundary, so the tree paths use a float32-exact twin of the
same pair: x = -2^-149, x' = r = float32(0.1). The kNN block kernel's case
uses the same twin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from parallelcovertree_spark.functions.cells import cell_ids_np, cell_side
from parallelcovertree_spark.operators.epsilon_join import (
    epsilon_join,
    epsilon_self_join,
    hot_cell_salts,
)
from parallelcovertree_spark.operators.knn import knn_join_block_kernel
from parallelcovertree_spark.oracle import epsilon_graph_np, knn_np
from parallelcovertree_spark.plans.covertree import build_cover_tree
from parallelcovertree_spark.plans.local_tree import grid_radius_pairs
from parallelcovertree_spark.plans import query
from parallelcovertree_spark.plans.query import tree_radius_join

R = 0.1
X0, X1 = -5e-324, 0.1
# float32-exact twin for the tree paths
R32 = float(np.float32(0.1))
X0_32 = -float(np.float32(2.0**-149))


def _edges(df):
    return {(r.src, r.dst) for r in df.collect()}


def _all_pairs(ids):
    return {(a, b) for a in ids for b in ids}


def test_boundary_pair_is_two_cells_apart_at_side_r():
    assert (X1 - X0) ** 2 <= R * R
    assert np.floor(X1 / R) - np.floor(X0 / R) == 2
    assert np.floor(X1 / cell_side(R)) - np.floor(X0 / cell_side(R)) == 1
    assert R32 - X0_32 == R32
    assert np.floor(R32 / R32) - np.floor(X0_32 / R32) == 2


def test_grid_radius_pairs_boundary():
    x = np.array([X0, X1])
    hq, hp = grid_radius_pairs(x, np.zeros(2), x, np.zeros(2), R)
    assert set(zip(hq.tolist(), hp.tolist())) == _all_pairs([0, 1])


def test_epsilon_joins_boundary(spark):
    pts = spark.createDataFrame([(0, X0, 0.0), (1, X1, 0.0)], "id long, x double, y double")
    want = _all_pairs([0, 1])
    assert _edges(epsilon_self_join(pts, R)) == want  # half-neighbourhood plan
    assert _edges(epsilon_self_join(pts, R, salt=2)) == want  # ring plan
    assert _edges(epsilon_join(pts, pts, R)) == want


def test_hot_cell_plan_boundary(spark):
    # six copies of x' make its cell hot; the salt map must key the cells
    # the join buckets on, and the salted join must still find x
    rows = [(0, X0, 0.0)] + [(i, X1, 0.0) for i in range(1, 8)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    hot, n_hot = hot_cell_salts(pts, R, partitions=8)
    assert n_hot == 1
    hot_cell = cell_ids_np(np.array([X1]), np.zeros(1), cell_side(R))[0]
    assert [r.cell_id for r in hot.collect()] == [hot_cell]
    got = _edges(epsilon_self_join(pts, R, hot_cells=hot))
    assert got == _all_pairs(range(8))


def test_knn_block_kernel_boundary(spark):
    """Id 1 is at computed distance exactly r from both id 0 and id 2, so
    its nearest neighbour is id 0 (tie on d², lower id). At side r id 0 sits
    two cells from id 1 and id 2 alone would certify id 1."""
    pdf = pd.DataFrame({
        "id": np.arange(3, dtype=np.int64),
        "x": [R32, X0_32, -R32],
        "y": np.zeros(3),
    })
    assert (R32 - X0_32) ** 2 == (-R32 - X0_32) ** 2 == R32 * R32
    got = {
        (r.src, r.nbr_rank, r.dst)
        for r in knn_join_block_kernel(spark.createDataFrame(pdf), k=1, r0=R32).collect()
    }
    want = knn_np(pdf, k=1)
    assert (1, 1, 0) in want
    assert got == want


@pytest.fixture(scope="module")
def boundary_corpus(spark):
    """The float32-exact pair plus 300 float32 points 100 units away."""
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame({
        "id": np.arange(302, dtype=np.int64),
        "x": np.r_[X0_32, R32, 100.0 + rng.normal(size=300)].astype(np.float32).astype(np.float64),
        "y": np.r_[0.0, 0.0, rng.normal(size=300)].astype(np.float32).astype(np.float64),
    })
    pts = spark.createDataFrame(pdf).persist()
    yield pdf, pts
    pts.unpersist()


@pytest.mark.parametrize("cutoff", [None, 4])
def test_tree_radius_join_boundary(spark, boundary_corpus, monkeypatch, cutoff):
    """Stage 1 (global tree and leaves) and every stage-2 plan: the JVM join
    under both strategies the planner can pick (the session default, a
    broadcast of the small side, and a shuffled join with broadcasts
    switched off) and the grouped cogroup finish."""
    pdf, pts = boundary_corpus
    model = build_cover_tree(pts, hub_cutoff=cutoff)
    assert (model.members is not None) == (cutoff is not None)
    want = epsilon_graph_np(pdf, R32)
    assert _all_pairs([0, 1]) <= want
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        for threshold in (prev, "-1"):
            spark.conf.set(key, threshold)
            assert _edges(tree_radius_join(model, pts, R32)) == want, threshold
    finally:
        spark.conf.set(key, prev)
    # every corpus and query set is "large": stage 2 takes the cogroup
    monkeypatch.setattr(query, "_GROUPED_MIN_ROWS", -1)
    assert _edges(tree_radius_join(model, pts, R32)) == want, "grouped"
