"""Spatial hotspot detection (Getis-Ord Gi* analog) over the tile grid.

The classic "where are documents clustering" analytic a geospatial engine
runs after tiling: per-cell counts, 1-ring (3×3 H3 k-ring analog)
neighborhood sums, and a z-score of each cell's neighborhood against the
global per-cell distribution. Cells whose ring total sits far above the
global mean are hot spots (Getis & Ord 1992, the Gi* statistic, simplified
to unit weights over the existing 1-ring).

Scale shape (the part that matters at 10^12 docs): the only point-volume
shuffle is the first per-cell count — everything after operates on the
cell histogram, whose size is bounded by the number of occupied tiles, not
by document count. Ring sums are an explode(9)+reshuffle of that small
table; global moments are a single broadcast scalar row.

Cross-engine parity: counts, ring sums and ring cell-cardinalities are
exact BIGINTs; the z-score is a fixed expression tree over those integers
(two IEEE divisions, one correctly-rounded sqrt), mirrored token-for-token
in the DuckDB oracle, so doubles are bit-identical.

Reference parity note: the reference has no hotspot statistic; this is part
of the north rule's tiling/analytics surface (BASELINE.json north_rule —
H3/S2 index analytics over geotagged web pages). The k-ring enumeration
reuses functions/cells.py (the same ring the ε-join prunes with,
/root/reference/src/CoverTree.cpp:367 triangle-inequality analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parallelcovertree_spark.functions.cells import (
    _OFF,
    _SHIFT,
    cell_id_from_ix,
    cell_ix,
    k_ring_offsets,
)

__all__ = [
    "cell_hotspots",
    "cell_hotspots_oracle_sql",
    "nn_distance_stats",
    "nn_distance_oracle_sql",
    "st_hotspots",
    "st_hotspots_oracle_sql",
    "cell_daily_anomaly",
    "cell_anomaly_oracle_sql",
]


def cell_hotspots(
    pts: DataFrame,
    res: float,
    x: str = "x",
    y: str = "y",
    k: int = 1,
) -> DataFrame:
    """(cell_id, n, ring_n, ring_cells, gi_z) per occupied cell.

    ``n``          documents in the cell,
    ``ring_n``     documents in the (2k+1)² ring (self included) counting
                   only OCCUPIED cells — empty tiles contribute nothing,
    ``ring_cells`` how many of those ring tiles are occupied (edge cells of
                   the data extent naturally get smaller rings),
    ``gi_z``       (ring_n − ring_cells·μ) / sqrt(ring_cells·σ²) with μ, σ²
                   the global per-occupied-cell count moments — the
                   unit-weight Gi* z-score.

    Plan: one point-volume shuffle (cell count), then cell-cardinality work
    only: explode each cell into its ring targets (no shuffle, 9× a small
    table), re-aggregate on the target key, inner-join back onto the
    histogram, and broadcast the single global-moments row.
    """
    # The histogram feeds THREE consumers (join probe, ring contributions,
    # global moments). Without materialization Catalyst re-plans the
    # point-volume scan+aggregate once per consumer — at 10^12 docs that
    # triples the only expensive stage. localCheckpoint (same discipline as
    # plans/query.py:184) pins the cell-cardinality result once; everything
    # downstream is histogram-sized.
    hist = (
        pts.groupBy(
            cell_ix(x, res).alias("ix"), cell_ix(y, res).alias("iy")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    # Ring contributions: every occupied cell donates its count to each of
    # its (2k+1)² ring targets. Explode is pure Catalyst; the groupBy below
    # is a shuffle of |cells|·(2k+1)² rows — histogram-sized, never
    # point-sized.
    offs = F.array(
        *[
            F.struct(
                (F.col("ix") + F.lit(dx)).alias("tix"),
                (F.col("iy") + F.lit(dy)).alias("tiy"),
            )
            for dx, dy in k_ring_offsets(k)
        ]
    )
    ring = (
        hist.select(F.explode(offs).alias("t"), "n")
        .select("t.tix", "t.tiy", "n")
        .groupBy("tix", "tiy")
        .agg(
            F.sum("n").alias("ring_n"),
            F.count(F.lit(1)).alias("ring_cells"),
        )
    )
    # Global per-cell moments — one scalar row, broadcast by construction.
    stats = hist.agg(
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
        F.count(F.lit(1)).alias("cc"),
    )
    joined = hist.join(
        ring,
        (hist["ix"] == ring["tix"]) & (hist["iy"] == ring["tiy"]),
        "inner",
    ).crossJoin(F.broadcast(stats))
    # Fixed expression tree over exact integers — mirrored verbatim in the
    # oracle so every double is bit-identical cross-engine.
    mean = F.col("sn").cast("double") / F.col("cc").cast("double")
    var = F.col("snn").cast("double") / F.col("cc").cast("double") - mean * mean
    rc = F.col("ring_cells").cast("double")
    gi_z = (F.col("ring_n").cast("double") - rc * mean) / F.sqrt(rc * var)
    return joined.select(
        cell_id_from_ix(F.col("ix"), F.col("iy")).alias("cell_id"),
        "n",
        "ring_n",
        "ring_cells",
        gi_z.alias("gi_z"),
    )


def st_hotspots(
    events: DataFrame,
    res: float,
    bucket_us: int,
    us_col: str = "us",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Space-TIME Gi* over (time bucket, tile): the emerging-hotspot /
    Kulldorff-scan analog — a cell is hot when its 3×3 spatial ring ACROSS
    the previous, current and next time buckets (27 neighbors) carries far
    more events than the global (bucket, cell) distribution predicts.

    Output per occupied (bucket, cell): (bucket, cell_id, n, ring_n,
    ring_cells, gi_z) — exactly :func:`cell_hotspots` lifted one dimension:
    the only event-volume shuffle is the (bucket, cell) count; the ring is
    a 27× explode of that histogram; the z-score is the same fixed tree
    over exact BIGINTs. ``us_col`` is BIGINT epoch-micros (caller derives —
    NTZ discipline); buckets use integer DIV, identical in DuckDB (``//``)
    for the non-negative epochs the tables carry.
    """
    b = F.expr(f"CAST({us_col} AS BIGINT) DIV {int(bucket_us)}")
    hist = (
        events.groupBy(
            b.alias("tb"), cell_ix(x, res).alias("ix"), cell_ix(y, res).alias("iy")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    offs = F.array(
        *[
            F.struct(
                (F.col("tb") + F.lit(db)).alias("ttb"),
                (F.col("ix") + F.lit(dx)).alias("tix"),
                (F.col("iy") + F.lit(dy)).alias("tiy"),
            )
            for db in (-1, 0, 1)
            for dx, dy in k_ring_offsets(1)
        ]
    )
    ring = (
        hist.select(F.explode(offs).alias("t"), "n")
        .select("t.ttb", "t.tix", "t.tiy", "n")
        .groupBy("ttb", "tix", "tiy")
        .agg(
            F.sum("n").alias("ring_n"),
            F.count(F.lit(1)).alias("ring_cells"),
        )
    )
    stats = hist.agg(
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
        F.count(F.lit(1)).alias("cc"),
    )
    joined = hist.join(
        ring,
        (hist["tb"] == ring["ttb"])
        & (hist["ix"] == ring["tix"])
        & (hist["iy"] == ring["tiy"]),
        "inner",
    ).crossJoin(F.broadcast(stats))
    mean = F.col("sn").cast("double") / F.col("cc").cast("double")
    var = F.col("snn").cast("double") / F.col("cc").cast("double") - mean * mean
    rc = F.col("ring_cells").cast("double")
    gi_z = (F.col("ring_n").cast("double") - rc * mean) / F.sqrt(rc * var)
    return joined.select(
        F.col("tb").alias("bucket"),
        cell_id_from_ix(F.col("ix"), F.col("iy")).alias("cell_id"),
        "n",
        "ring_n",
        "ring_cells",
        gi_z.alias("gi_z"),
    )


def st_hotspots_oracle_sql(ev_cte_body: str, res: float, bucket_us: int) -> str:
    """DuckDB twin of :func:`st_hotspots` over a CTE body yielding
    (us, x, y) — same 27-offset ring (three cross-joined unnest ranges) and
    token-identical z-score tree."""
    return f"""WITH ev AS ({ev_cte_body}),
h AS (
  SELECT us // {int(bucket_us)} AS tb,
         CAST(FLOOR(x / {res!r}) AS BIGINT) AS ix,
         CAST(FLOOR(y / {res!r}) AS BIGINT) AS iy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2, 3
),
contrib AS (
  SELECT h.tb + db.d AS ttb, h.ix + dx.d AS tix, h.iy + dy.d AS tiy, h.n
  FROM h,
       (SELECT unnest(range(-1, 2)) AS d) db,
       (SELECT unnest(range(-1, 2)) AS d) dx,
       (SELECT unnest(range(-1, 2)) AS d) dy
),
r AS (
  SELECT ttb, tix, tiy, CAST(SUM(n) AS BIGINT) AS ring_n,
         CAST(COUNT(*) AS BIGINT) AS ring_cells
  FROM contrib GROUP BY 1, 2, 3
),
g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS sn,
         CAST(SUM(n * n) AS BIGINT) AS snn,
         CAST(COUNT(*) AS BIGINT) AS cc
  FROM h
)
SELECT h.tb AS bucket,
       (h.ix + {_OFF}) * {_SHIFT} + (h.iy + {_OFF}) AS cell_id,
       h.n, r.ring_n, r.ring_cells,
       (CAST(r.ring_n AS DOUBLE) - CAST(r.ring_cells AS DOUBLE)
          * (CAST(g.sn AS DOUBLE) / CAST(g.cc AS DOUBLE)))
       / SQRT(CAST(r.ring_cells AS DOUBLE)
          * (CAST(g.snn AS DOUBLE) / CAST(g.cc AS DOUBLE)
             - (CAST(g.sn AS DOUBLE) / CAST(g.cc AS DOUBLE))
               * (CAST(g.sn AS DOUBLE) / CAST(g.cc AS DOUBLE)))) AS gi_z
FROM h JOIN r ON h.tb = r.ttb AND h.ix = r.tix AND h.iy = r.tiy, g"""


def cell_daily_anomaly(
    events: DataFrame,
    res: float,
    bucket_us: int,
    us_col: str = "us",
    x: str = "x",
    y: str = "y",
    min_buckets: int = 3,
) -> DataFrame:
    """Temporal anomaly per tile: each (cell, bucket) count z-scored
    against the CELL'S OWN history (mean/variance over its observed
    buckets) — "this tile is unusually busy TODAY", the per-cell
    complement of :func:`st_hotspots`' global baseline.

    Output per observed (cell, bucket) of cells with ≥ ``min_buckets``
    observed buckets and non-degenerate variance:
    (cell_id, bucket, n, n_buckets, mean_n, anomaly_z).

    Moments use observed buckets only (a bucket with zero events is
    absent, not zero — the all-buckets baseline would need the gap-fill
    grid; documented choice, identical in the oracle). Plan: one
    event-volume (cell, bucket) count; per-cell moments ride a
    cell-partitioned window over that histogram (one more histogram-sized
    shuffle); z is the usual fixed tree over exact BIGINTs.
    """
    b = F.expr(f"CAST({us_col} AS BIGINT) DIV {int(bucket_us)}")
    hist = events.groupBy(
        cell_ix(x, res).alias("ix"), cell_ix(y, res).alias("iy"), b.alias("tb")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("ix", "iy")
    m = hist.select(
        "ix",
        "iy",
        "tb",
        "n",
        F.sum("n").over(w).alias("sn"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("snn"),
        F.count(F.lit(1)).over(w).alias("cc"),
    )
    mean = F.col("sn").cast("double") / F.col("cc").cast("double")
    var = F.col("snn").cast("double") / F.col("cc").cast("double") - mean * mean
    out = m.where(
        (F.col("cc") >= F.lit(int(min_buckets)))
        & (F.col("snn") * F.col("cc") != F.col("sn") * F.col("sn"))
    )
    return out.select(
        cell_id_from_ix(F.col("ix"), F.col("iy")).alias("cell_id"),
        F.col("tb").alias("bucket"),
        "n",
        F.col("cc").alias("n_buckets"),
        mean.alias("mean_n"),
        ((F.col("n").cast("double") - mean) / F.sqrt(var)).alias("anomaly_z"),
    )


def cell_anomaly_oracle_sql(
    ev_cte_body: str, res: float, bucket_us: int, min_buckets: int = 3
) -> str:
    """DuckDB twin of :func:`cell_daily_anomaly` over a CTE body yielding
    (us, x, y) — same observed-bucket moments and z tree; the degenerate-
    variance guard is the integer identity snn·cc ≠ sn² (exact, no float
    threshold)."""
    mean = "(CAST(sn AS DOUBLE) / CAST(cc AS DOUBLE))"
    var = f"(CAST(snn AS DOUBLE) / CAST(cc AS DOUBLE) - {mean} * {mean})"
    return f"""WITH ev AS ({ev_cte_body}),
h AS (
  SELECT CAST(FLOOR(x / {res!r}) AS BIGINT) AS ix,
         CAST(FLOOR(y / {res!r}) AS BIGINT) AS iy,
         us // {int(bucket_us)} AS tb,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2, 3
),
m AS (
  SELECT ix, iy, tb, n,
         CAST(SUM(n) OVER w AS BIGINT) AS sn,
         CAST(SUM(n * n) OVER w AS BIGINT) AS snn,
         CAST(COUNT(*) OVER w AS BIGINT) AS cc
  FROM h
  WINDOW w AS (PARTITION BY ix, iy)
)
SELECT (ix + {_OFF}) * {_SHIFT} + (iy + {_OFF}) AS cell_id,
       tb AS bucket, n, cc AS n_buckets,
       {mean} AS mean_n,
       (CAST(n AS DOUBLE) - {mean}) / SQRT({var}) AS anomaly_z
FROM m
WHERE cc >= {int(min_buckets)} AND snn * cc <> sn * sn"""


def nn_distance_stats(
    pts: DataFrame,
    res: float,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Per-tile nearest-neighbor distance statistics + Clark-Evans ratio:
    (cell_id, n, sum_nn_micro, max_nn_micro, mean_nn_micro, ce_ratio).

    The classic point-pattern dispersion analytic: each point's 1-NN
    distance (exact, via the grid kNN join — the reference's brute-force
    ground-truth semantics, programs/epsilon_graph.cpp kNN tests), grouped
    by the point's tile. ``ce_ratio`` is Clark & Evans 1954: observed mean
    NN distance over the expected mean 0.5/sqrt(density) for a Poisson
    process of the cell's density n/res² — ~1 random, <1 clustered,
    >1 dispersed.

    Scale shape: the kNN join is the certified block kernel (never
    all-pairs); coordinates re-attach through two id-keyed hash
    equi-joins; the terminal aggregate is tile-keyed. Distances are
    quantized to BIGINT micro-units before summing (exact, associative);
    mean and CE ratio are fixed expression trees over those integers.
    """
    from parallelcovertree_spark.operators.knn import knn_join_block_kernel

    nn = knn_join_block_kernel(pts, k=1, id_col=id_col, x=x, y=y)
    a = pts.select(
        F.col(id_col).alias("src"),
        F.col(x).cast("double").alias("ax"),
        F.col(y).cast("double").alias("ay"),
    )
    b = pts.select(
        F.col(id_col).alias("dst"),
        F.col(x).cast("double").alias("bx"),
        F.col(y).cast("double").alias("by"),
    )
    j = nn.join(a, "src").join(b, "dst")
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    nn_micro = F.floor(F.sqrt(dx * dx + dy * dy) * F.lit(1000000.0)).cast("long")
    per_cell = (
        j.select(
            cell_id_from_ix(cell_ix(F.col("ax"), res), cell_ix(F.col("ay"), res)).alias(
                "cell_id"
            ),
            nn_micro.alias("_nn"),
        )
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_nn").alias("sum_nn_micro"),
            F.max("_nn").alias("max_nn_micro"),
        )
    )
    # fixed trees over exact ints — mirrored in the oracle
    mean_nn = F.col("sum_nn_micro").cast("double") / F.col("n").cast("double")
    density = F.col("n").cast("double") / F.lit(float(res) * float(res))
    ce = (mean_nn / F.lit(1000000.0)) * (F.lit(2.0) * F.sqrt(density))
    return per_cell.select(
        "cell_id",
        "n",
        "sum_nn_micro",
        "max_nn_micro",
        mean_nn.alias("mean_nn_micro"),
        ce.alias("ce_ratio"),
    )


def nn_distance_oracle_sql(pts_cte_body: str, res: float) -> str:
    """DuckDB twin of :func:`nn_distance_stats` — by-definition quadratic
    1-NN (same d2-then-id ranking the kNN gates pin), then the identical
    tile aggregation and CE expression tree."""
    res2 = float(res) * float(res)
    return f"""WITH pts AS ({pts_cte_body}),
d AS (
  SELECT a.id AS src, a.x AS ax, a.y AS ay,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
         ROW_NUMBER() OVER (
           PARTITION BY a.id
           ORDER BY (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), b.id
         ) AS rk
  FROM pts a, pts b WHERE a.id <> b.id
),
nn AS (
  SELECT src, ax, ay,
         CAST(FLOOR(SQRT(d2) * 1000000.0) AS BIGINT) AS nn_micro
  FROM d WHERE rk = 1
),
c AS (
  SELECT (CAST(FLOOR(ax / {res!r}) AS BIGINT) + {_OFF}) * {_SHIFT}
           + (CAST(FLOOR(ay / {res!r}) AS BIGINT) + {_OFF}) AS cell_id,
         nn_micro
  FROM nn
),
agg AS (
  SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(nn_micro) AS BIGINT) AS sum_nn_micro,
         CAST(MAX(nn_micro) AS BIGINT) AS max_nn_micro
  FROM c GROUP BY cell_id
)
SELECT cell_id, n, sum_nn_micro, max_nn_micro,
       CAST(sum_nn_micro AS DOUBLE) / CAST(n AS DOUBLE) AS mean_nn_micro,
       (CAST(sum_nn_micro AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
         * (2.0 * SQRT(CAST(n AS DOUBLE) / {res2!r})) AS ce_ratio
FROM agg"""


def cell_hotspots_oracle_sql(pts_cte_body: str, res: float, k: int = 1) -> str:
    """DuckDB twin of :func:`cell_hotspots` over a (id, x, y) CTE body.

    The ring enumeration uses the same (2k+1)² offsets via two unnested
    ranges; the z-score expression tree matches the Spark column expression
    token-for-token (casts included).
    """
    lo, hi = -k, k + 1
    return f"""WITH pts AS ({pts_cte_body}),
h AS (
  SELECT CAST(FLOOR(x / {res!r}) AS BIGINT) AS ix,
         CAST(FLOOR(y / {res!r}) AS BIGINT) AS iy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2
),
contrib AS (
  SELECT h.ix + dx.d AS tix, h.iy + dy.d AS tiy, h.n
  FROM h,
       (SELECT unnest(range({lo}, {hi})) AS d) dx,
       (SELECT unnest(range({lo}, {hi})) AS d) dy
),
r AS (
  SELECT tix, tiy, CAST(SUM(n) AS BIGINT) AS ring_n,
         CAST(COUNT(*) AS BIGINT) AS ring_cells
  FROM contrib GROUP BY 1, 2
),
g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS sn,
         CAST(SUM(n * n) AS BIGINT) AS snn,
         CAST(COUNT(*) AS BIGINT) AS cc
  FROM h
)
SELECT (h.ix + {_OFF}) * {_SHIFT} + (h.iy + {_OFF}) AS cell_id,
       h.n, r.ring_n, r.ring_cells,
       (CAST(r.ring_n AS DOUBLE) - CAST(r.ring_cells AS DOUBLE)
          * (CAST(g.sn AS DOUBLE) / CAST(g.cc AS DOUBLE)))
       / SQRT(CAST(r.ring_cells AS DOUBLE)
          * (CAST(g.snn AS DOUBLE) / CAST(g.cc AS DOUBLE)
             - (CAST(g.sn AS DOUBLE) / CAST(g.cc AS DOUBLE))
               * (CAST(g.sn AS DOUBLE) / CAST(g.cc AS DOUBLE)))) AS gi_z
FROM h JOIN r ON h.ix = r.tix AND h.iy = r.tiy, g"""
