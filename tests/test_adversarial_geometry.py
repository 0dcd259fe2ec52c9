"""Adversarial-geometry fixtures for the spatial operators: coordinates ON
cell boundaries (exact multiples of the resolution), duplicate points, pairs
at distance EXACTLY r, negative coords straddling cell 0. Random fixtures
almost never hit these; floor/tie bugs live here.

All coordinates are exactly representable in float32 so the engine (float64
math over the given values) and the reference-discipline numpy oracle
(float32 storage, float64 math) see bit-identical inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from parallelcovertree_spark.operators.epsilon_join import epsilon_self_join
from parallelcovertree_spark.operators.knn import knn_join_block_kernel
from parallelcovertree_spark.oracle import epsilon_graph_np, knn_np

R = 1.25  # exact in binary floating point


def _adversarial_pdf():
    pts = []
    # lattice exactly on cell boundaries at res=R (incl. negatives and 0)
    for ix in range(-3, 4):
        for iy in range(-2, 3):
            pts.append((ix * R, iy * R))
    # exact duplicates
    pts += [(0.0, 0.0)] * 3 + [(-2 * R, R)] * 2
    # a pair at distance exactly R, axis-aligned, off-lattice (0.375 exact)
    pts += [(0.375, 0.5), (0.375 + R, 0.5)]
    # a 3-4-5 triangle with exactly-representable legs: (0.75, 1.0) → hyp R
    pts += [(5.5, 6.25), (5.5 + 0.75, 6.25 + 1.0)]
    arr = np.array(pts, dtype=np.float64)
    assert np.all(arr == arr.astype(np.float32).astype(np.float64))  # f32-exact
    return pd.DataFrame({
        "id": np.arange(len(arr), dtype=np.int64),
        "x": arr[:, 0], "y": arr[:, 1],
    })


def test_epsilon_half_plan_on_boundaries(spark):
    pdf = _adversarial_pdf()
    df = spark.createDataFrame(pdf)
    got = {(r.src, r.dst) for r in epsilon_self_join(df, R).collect()}
    want = epsilon_graph_np(pdf, R)
    # the exact-distance pairs must be present (<= semantics, not <)
    n = len(pdf)
    assert (n - 4, n - 3) in got and (n - 2, n - 1) in got
    assert got == want


@pytest.mark.parametrize("variant", [knn_join_block_kernel])
def test_knn_variants_on_boundaries(spark, variant):
    pdf = _adversarial_pdf()
    df = spark.createDataFrame(pdf)
    got = {(r.src, r.nbr_rank, r.dst) for r in variant(df, k=4).collect()}
    assert got == knn_np(pdf, k=4)


def test_knn_block_seam_diagonal_certification(spark):
    """Block-seam × certification interplay (VERDICT r2 next #8): a query in
    the CORNER core cell of block (1,1) certifies with ≥ k own-cell
    candidates within r, but its true nearest neighbor sits diagonally
    across the block seam in block (2,2) — only the 1-cell halo of the
    diagonal block carries it. A missing diagonal-halo replica would not
    fail certification; it would silently return the wrong top-k, so the
    assertion is against the exact numpy oracle.

    Geometry (all f32-exact): r0=0.5 → cell side ``cell_side(0.5)`` just
    above 0.5, blocks of 16 cells ≈ 8 units → seam at x=y=16. Query
    (15.9375, 15.9375) in cell (31, 31); diagonal point (16.0625, 16.0625)
    in cell (32, 32) at d≈0.177 ≤ r; three own-cell points at d=0.25-0.375
    certify k=3 within r."""
    q = (15.9375, 15.9375)
    pts = [
        q,
        (16.0625, 16.0625),              # true NN, diagonal block (1,1)
        (15.6875, 15.9375),              # own-cell, d=0.25
        (15.9375, 15.625),               # own-cell, d=0.3125
        (15.5625, 15.9375),              # own-cell, d=0.375
        # edge-adjacent blocks too (right and top), just outside r of q
        (16.5, 15.9375), (15.9375, 16.5),
        # far-away mass so the grid spans several blocks
        (0.0, 0.0), (40.0, 40.0), (0.0, 40.0), (40.0, 0.0),
    ]
    arr = np.array(pts, dtype=np.float64)
    assert np.all(arr == arr.astype(np.float32).astype(np.float64))
    pdf = pd.DataFrame({
        "id": np.arange(len(arr), dtype=np.int64),
        "x": arr[:, 0], "y": arr[:, 1],
    })
    df = spark.createDataFrame(pdf)
    got = {
        (r.src, r.nbr_rank, r.dst)
        for r in knn_join_block_kernel(df, k=3, r0=0.5).collect()
    }
    want = knn_np(pdf, k=3)
    assert got == want
    # and the query's top-1 really is the diagonal point (guards the fixture)
    assert (0, 1, 1) in got
