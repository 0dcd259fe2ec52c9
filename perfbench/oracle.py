"""Numpy oracles the benchmark checks Spark's answers against.

They share no code with the engine: the pair count is a plain sort-based
grid join, and the sampled checks are brute force over every point. The
distance predicate is the engine's: double arithmetic, ``dx*dx + dy*dy <=
r*r`` (float32 inputs are widened first).
"""

from __future__ import annotations

import numpy as np

_RING = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def pair_counts(qx, qy, px, py, r: float) -> np.ndarray:
    """Per query, the number of corpus points within ``r`` (self included
    when a query is also a corpus point)."""
    qx, qy = np.asarray(qx, np.float64), np.asarray(qy, np.float64)
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    r2 = r * r
    # cells a hair wider than r: a within-r pair is then always in the 3x3 ring
    side = r * (1.0 + 1e-9)
    cx, cy = np.floor(px / side).astype(np.int64), np.floor(py / side).astype(np.int64)
    qcx, qcy = np.floor(qx / side).astype(np.int64), np.floor(qy / side).astype(np.int64)
    y0 = min(int(cy.min()), int(qcy.min())) - 1
    span = max(int(cy.max()), int(qcy.max())) - y0 + 2
    key = cx * span + (cy - y0)
    order = np.argsort(key, kind="stable")
    skey, sx, sy = key[order], px[order], py[order]
    counts = np.zeros(len(qx), dtype=np.int64)
    chunk = 1 << 16
    for lo in range(0, len(qx), chunk):
        hi = min(lo + chunk, len(qx))
        bx, by = qx[lo:hi], qy[lo:hi]
        for dx, dy in _RING:
            k = (qcx[lo:hi] + dx) * span + (qcy[lo:hi] + dy - y0)
            start = np.searchsorted(skey, k, "left")
            stop = np.searchsorted(skey, k, "right")
            lens = stop - start
            owner = np.repeat(np.arange(hi - lo), lens)
            if not len(owner):
                continue
            # ragged arange: position of each candidate inside its segment
            first = np.cumsum(lens) - lens
            idx = np.repeat(start, lens) + (np.arange(len(owner)) - np.repeat(first, lens))
            ddx, ddy = bx[owner] - sx[idx], by[owner] - sy[idx]
            hit = ddx * ddx + ddy * ddy <= r2
            counts[lo:hi] += np.bincount(owner[hit], minlength=hi - lo)
    return counts


def radius_sets(qids, ids, x, y, r: float) -> dict[int, set[int]]:
    """Brute force: for each query id, the ids of all points within ``r``."""
    x, y = np.asarray(x, np.float64), np.asarray(y, np.float64)
    pos = {int(i): k for k, i in enumerate(ids)}
    out = {}
    for q in qids:
        k = pos[int(q)]
        dx, dy = x[k] - x, y[k] - y
        out[int(q)] = set(ids[dx * dx + dy * dy <= r * r].tolist())
    return out


def knn_lists(qids, ids, x, y, k: int) -> dict[int, list[int]]:
    """Brute force: for each query id, the ids of its ``k`` nearest other
    points, nearest first, ties broken by lower id."""
    x, y = np.asarray(x, np.float64), np.asarray(y, np.float64)
    pos = {int(i): j for j, i in enumerate(ids)}
    out = {}
    for q in qids:
        j = pos[int(q)]
        dx, dy = x[j] - x, y[j] - y
        d2 = dx * dx + dy * dy
        d2[j] = np.inf
        # every point tied with the k-th distance, then (distance, id) order
        cand = np.flatnonzero(d2 <= np.partition(d2, k - 1)[k - 1])
        top = cand[np.lexsort((ids[cand], d2[cand]))][:k]
        out[int(q)] = ids[top].tolist()
    return out
