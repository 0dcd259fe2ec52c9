"""Brute-force oracles (SURVEY.md section 5, test strategy item 1).

The reference establishes correctness by O(n²) exact comparison
(``/root/reference/programs/epsilon_graph.cpp:111-163``): build the ε-graph by
definition, compare per-source sorted adjacency. These oracles reproduce that
contract in numpy on the driver, independent of Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def epsilon_graph_np(pdf: pd.DataFrame, radius: float, include_self: bool = True) -> set[tuple[int, int]]:
    """Exact ε-graph by definition: float32 storage, float64 math
    (reference discipline, Point.cpp:27-38). Returns {(src, dst)}."""
    ids = pdf["id"].to_numpy()
    xy = np.stack(
        [pdf["x"].to_numpy(np.float32).astype(np.float64),
         pdf["y"].to_numpy(np.float32).astype(np.float64)],
        axis=1,
    )
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    mask = d2 <= radius * radius
    if not include_self:
        np.fill_diagonal(mask, False)
    src, dst = np.nonzero(mask)
    return set(zip(ids[src].tolist(), ids[dst].tolist()))


def knn_np(pdf: pd.DataFrame, k: int = 10) -> set[tuple[int, int, int]]:
    """Exact kNN: {(src, rank, dst)}, tie-break (dist² asc, dst asc), self
    excluded — the reference's brute-force ground-truth pattern."""
    ids = pdf["id"].to_numpy()
    xy = np.stack(
        [pdf["x"].to_numpy(np.float32).astype(np.float64),
         pdf["y"].to_numpy(np.float32).astype(np.float64)],
        axis=1,
    )
    n = len(ids)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    out = set()
    for i in range(n):
        order = sorted((float(d2[i, j]), int(ids[j])) for j in range(n) if j != i)
        for rank, (_, dst) in enumerate(order[:k], start=1):
            out.add((int(ids[i]), rank, dst))
    return out

