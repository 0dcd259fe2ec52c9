"""H3/S2-analog planar grid cell index (SURVEY.md C4, north rule tiling).

The environment has no ``h3`` package, so the cell encoder is a deterministic
integer grid with the same *role*: ``cell(x, y, res)`` buckets a point into a
square tile of side ``res``; ``k_ring`` enumerates the (2k+1)² neighborhood.
The API is shaped so a real H3/S2 encoder slots in unchanged.

All encoders are Catalyst expressions (JVM-side, whole-stage-codegen) — no
Python in the hot path. A vectorized pandas/Arrow variant is provided for the
numpy kernels that need cell ids executor-side.

Cell key layout: ``(ix + OFF) * 2^32 + (iy + OFF)`` with OFF = 2^20 so both
components are non-negative; single BIGINT join key ⇒ hash-partitionable,
range-prunable, and SQL-parity-safe (pure integer arithmetic, identical in
DuckDB).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OFF = 1 << 20
_SHIFT = 1 << 32


def cell_ix(x: Column | str, res: float) -> Column:
    x = F.col(x) if isinstance(x, str) else x
    return F.floor(x.cast("double") / F.lit(float(res))).cast("long")


def cell_id_from_ix(ix: Column, iy: Column) -> Column:
    return (ix + F.lit(_OFF)) * F.lit(_SHIFT) + (iy + F.lit(_OFF))


def cell_id(x: Column | str, y: Column | str, res: float) -> Column:
    """Encode (x, y) → BIGINT tile id at resolution ``res``."""
    return cell_id_from_ix(cell_ix(x, res), cell_ix(y, res))


def cell_id_sql(x_expr: str, y_expr: str, res: float) -> str:
    """SQL text form of ``cell_id`` — identical semantics in Spark + DuckDB."""
    return (
        f"(CAST(FLOOR(({x_expr}) / {res!r}) AS BIGINT) + {_OFF}) * {_SHIFT} "
        f"+ (CAST(FLOOR(({y_expr}) / {res!r}) AS BIGINT) + {_OFF})"
    )


def with_cell(df: DataFrame, res: float, x: str = "x", y: str = "y", out: str = "cell_id") -> DataFrame:
    return df.withColumn(out, cell_id(x, y, res))


def k_ring_offsets(k: int = 1) -> list[tuple[int, int]]:
    """Offsets of the (2k+1)² neighborhood — 2-D analog of H3 k-ring."""
    return [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]


def explode_k_ring(df: DataFrame, res: float, k: int = 1, x: str = "x", y: str = "y", out: str = "cell_id") -> DataFrame:
    """Replicate each row into its k-ring of cells (join-side expansion for
    radius joins: a point's candidates live in its own cell's ring).

    The ring is built as a literal array of (2k+1)² cell ids and exploded —
    pure Catalyst, no shuffle, output is ``(2k+1)²×`` the input rows.
    """
    ix, iy = cell_ix(x, res), cell_ix(y, res)
    cells = F.array(
        *[cell_id_from_ix(ix + F.lit(dx), iy + F.lit(dy)) for dx, dy in k_ring_offsets(k)]
    )
    return df.withColumn(out, F.explode(cells))


def parent_cell(cell: Column | str) -> Column:
    """Parent tile id at DOUBLE the resolution, from the cell id alone —
    no coordinate re-scan (H3 ``cellToParent`` analog). Exact by the floor
    composition law ``floor(x/2r) == floor(floor(x/r)/2)`` (holds for all
    real x, negatives included), so deriving a pyramid level from child
    CELLS equals encoding the points directly at the coarser resolution."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    ix = F.floor(cell / F.lit(_SHIFT)).cast("long") - F.lit(_OFF)
    iy = (cell % F.lit(_SHIFT)).cast("long") - F.lit(_OFF)
    return cell_id_from_ix(
        F.floor(ix.cast("double") / F.lit(2.0)).cast("long"),
        F.floor(iy.cast("double") / F.lit(2.0)).cast("long"),
    )


def cell_ids_np(x: np.ndarray, y: np.ndarray, res: float) -> np.ndarray:
    """Vectorized numpy encoder (same layout) for pandas-UDF kernels."""
    ix = np.floor(np.asarray(x, dtype=np.float64) / res).astype(np.int64)
    iy = np.floor(np.asarray(y, dtype=np.float64) / res).astype(np.int64)
    return (ix + _OFF) * _SHIFT + (iy + _OFF)


def cell_side(radius: float) -> float:
    """Grid cell side for a radius-``radius`` search: ``r·(1+1e-9)``.

    A side of exactly r can drop a pair whose computed distance is r: with
    x = -5e-324 and x' = 0.1 at r = 0.1, ``floor(x/r) = -1`` and
    ``floor(x'/r) = 1``, two cells apart. With the margin, the quotient gap
    of a within-r pair is at most about 1 - 1e-9, which the rounding of
    ``x/side`` cannot push to 1 while ``|x/side| < 2^20`` (the range the key
    layout holds), so the 1-ring holds every candidate.
    Every radius path (grid ε-joins, tree stage 1/2, the numpy finisher)
    buckets with this side."""
    return float(radius) * (1.0 + 1e-9)


def resolution_for_radius(radius: float) -> float:
    """Nominal grid resolution for a radius: the radius itself. The 1-ring
    at (about) this side is the grid analog of the reference's ball-cover
    pruning (triangle-inequality descent, CoverTree.cpp:367); the radius
    paths bucket at ``cell_side(radius)``, which adds the rounding margin."""
    return float(radius)
