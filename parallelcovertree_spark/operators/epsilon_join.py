"""ε-radius spatial joins via grid-cell equi-joins (SURVEY.md J1/O1).

The reference answers "all pairs within distance r" by per-point cover-tree
traversal with triangle-inequality pruning
(``/root/reference/src/CoverTree.cpp:356-384``, brute-force definition
``programs/epsilon_graph.cpp:113-118``). The idiomatic Spark physical plan is
different: bucket points into grid cells of side ``cell_side(r)`` (r plus
a 1e-9 rounding margin), equi-join each point's cell against the 1-ring
(9 cells) of candidates, then apply the exact distance predicate. Catalyst
gets an equi-join it can hash-partition; the ring expansion IS the pruning
(a candidate outside the ring is provably farther than r). AQE skew-join
plus optional explicit salting handles hot cells (web data clusters; the
reference's analog is its LPT hub placement,
``src/DistCoverTree.cpp:726-758``).

Semantics pinned to the reference oracle: self-loops included (d(u,u)=0 ≤ r),
every ordered pair (u,v) with d ≤ r appears exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parallelcovertree_spark.functions.cells import cell_side, explode_k_ring, with_cell
from parallelcovertree_spark.functions.geo import dist2_expr


def epsilon_self_join(
    points: DataFrame,
    radius: float,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
    include_self: bool = True,
    salt: int = 0,
    hot_cells: DataFrame | None = None,
    emit_dist2: bool = False,
) -> DataFrame:
    """All ordered pairs (src, dst) with euclidean distance ≤ radius.

    Physical plan: right side exploded to its 9-cell ring (map-side, no
    shuffle), hash equi-join on BIGINT cell id, exact d² ≤ r² filter inside
    the join. One shuffle total; whole-stage codegen end to end (no UDFs).

    Skew handling — two modes:
    - ``hot_cells`` (preferred): DataFrame ``(cell_id, salt_n)`` of the few
      measured hot cells (``hot_cell_salts``). Only those cells split into
      ``salt_n`` sub-keys; the cold 99% keep one key and exactly the 9×
      ring expansion. Broadcast map-side decoration — no extra shuffle.
      Reference analog: LPT placement of oversized hubs only
      (src/DistCoverTree.cpp:726-758).
    - ``salt`` > 0 (legacy/uniform): splits EVERY cell into ``salt``
      sub-keys — blows the whole corpus up ``9·salt``×; kept for tests and
      as the blunt fallback when no histogram is available.
    """
    r = float(radius)
    side = cell_side(r)
    if hot_cells is None and salt == 0:
        return _epsilon_self_join_half(
            points, r, id_col, x, y, include_self, emit_dist2
        )
    left = with_cell(
        points.select(
            F.col(id_col).alias("src"),
            F.col(x).cast("double").alias("sx"),
            F.col(y).cast("double").alias("sy"),
        ),
        side, x="sx", y="sy", out="_cell",
    )
    right = explode_k_ring(
        points.select(
            F.col(id_col).alias("dst"),
            F.col(x).cast("double").alias("tx"),
            F.col(y).cast("double").alias("ty"),
        ),
        side, k=1, x="tx", y="ty", out="_cell",
    )
    keys = ["_cell"]
    if hot_cells is not None:
        hs = F.broadcast(
            hot_cells.select(
                F.col("cell_id").alias("_cell"), F.col("salt_n").cast("long").alias("_sn")
            )
        )
        # cores: one sub-key each (id-derived); candidates: replicated across
        # every sub-key of a hot cell, single key 0 elsewhere — each (core,
        # candidate) pair meets exactly once
        left = (
            left.join(hs, "_cell", "left")
            .withColumn("_salt", F.coalesce(F.pmod(F.col("src"), F.col("_sn")), F.lit(0)))
            .drop("_sn")
        )
        right = (
            right.join(hs, "_cell", "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.coalesce(F.col("_sn"), F.lit(1).cast("long")) - 1,
                    )
                ),
            )
            .drop("_sn")
        )
        keys.append("_salt")
    elif salt > 0:
        left = left.withColumn("_salt", F.pmod(F.col("src"), F.lit(salt)))
        right = right.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        keys.append("_salt")
    # shuffle_hash: both sides are corpus-sized — hash-partition on the cell
    # key, build a per-partition hash table, no sort, never broadcast (the
    # Generate's size estimate is its child's, 9x under — auto-strategy picks
    # a driver-side broadcast of the exploded side and serializes)
    pairs = left.join(right.hint("shuffle_hash"), on=keys, how="inner")
    d2 = dist2_expr("sx", "sy", "tx", "ty")
    cond = d2 <= F.lit(r * r)
    if not include_self:
        cond = cond & (F.col("src") != F.col("dst"))
    out_cols = [F.col("src"), F.col("dst")]
    if emit_dist2:
        out_cols.append(d2.alias("dist2"))
    return pairs.where(cond).select(*out_cols)


# half-neighborhood directions: for every nonzero cell offset o in the 1-ring,
# exactly one of {o, -o} is listed, so each unordered cross-cell pair meets
# exactly once in the join (plane-sweep symmetry trick)
_HALF_DIRS = [(0, 0), (1, 0), (1, 1), (0, 1), (-1, 1)]


def _epsilon_self_join_half(
    points: DataFrame,
    r: float,
    id_col: str,
    x: str,
    y: str,
    include_self: bool,
    emit_dist2: bool,
) -> DataFrame:
    """Half-neighborhood ε-self-join: each unordered pair is computed ONCE
    (candidates explode to 5 cells instead of the full 9-ring; same-cell
    pairs tie-break on id), then both ordered directions are emitted by a
    map-side explode. Shuffle volume drops from n + 9n to n + 5n rows with
    zero recomputation — the plan you'd want at 100x for the symmetric
    self-join (the ring variant remains for the salted/hot-cell regime and
    for asymmetric query×corpus joins)."""
    from parallelcovertree_spark.functions.cells import cell_id_from_ix, cell_ix

    side = cell_side(r)
    base = points.select(
        F.col(id_col).alias("src"),
        F.col(x).cast("double").alias("sx"),
        F.col(y).cast("double").alias("sy"),
    )
    left = with_cell(base, side, x="sx", y="sy", out="_cell")
    ix, iy = cell_ix("tx", side), cell_ix("ty", side)
    dirs = F.array(*[
        F.struct(
            cell_id_from_ix(ix + F.lit(dx), iy + F.lit(dy)).alias("c"),
            F.lit(dx == 0 and dy == 0).alias("same"),
        )
        for dx, dy in _HALF_DIRS
    ])
    right = (
        points.select(
            F.col(id_col).alias("dst"),
            F.col(x).cast("double").alias("tx"),
            F.col(y).cast("double").alias("ty"),
        )
        .withColumn("_d", F.explode(dirs))
        .select("dst", "tx", "ty", F.col("_d.c").alias("_cell"), F.col("_d.same").alias("_same"))
    )
    d2 = dist2_expr("sx", "sy", "tx", "ty")
    once = (
        left.join(right.hint("shuffle_hash"), "_cell")
        # same-cell rows pair each {a,b} once via a.id < b.id (also drops
        # a==a); cross-cell rows are unique by the half-direction choice
        .where((d2 <= F.lit(r * r)) & (~F.col("_same") | (F.col("src") < F.col("dst"))))
        .select("src", "dst", d2.alias("dist2"))
    )
    both = once.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst"), F.col("dist2")),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("dist2"),
                ),
            )
        ).alias("p")
    ).select("p.src", "p.dst", "p.dist2")
    if include_self:
        loops = base.select(
            "src", F.col("src").alias("dst"), F.lit(0.0).alias("dist2")
        )
        both = both.unionByName(loops)
    if emit_dist2:
        return both
    return both.select("src", "dst")


def epsilon_join(
    left_points: DataFrame,
    right_points: DataFrame,
    radius: float,
    left_id: str = "id",
    right_id: str = "id",
    x: str = "x",
    y: str = "y",
    emit_dist2: bool = False,
) -> DataFrame:
    """Two-table ε-join (queries × corpus).

    The RING explodes on the QUERY side: a query's candidates live in its
    own cell's 9-ring, which is equivalently found by replicating the query
    into those 9 cells and equi-joining the corpus's single cell per point.
    Shuffle volume is 9·|queries| + |corpus| instead of
    |queries| + 9·|corpus| — the right trade whenever the query batch is
    the smaller side (the common search shape)."""
    r = float(radius)
    side = cell_side(r)
    left = explode_k_ring(
        left_points.select(
            F.col(left_id).alias("src"),
            F.col(x).cast("double").alias("sx"),
            F.col(y).cast("double").alias("sy"),
        ),
        side, k=1, x="sx", y="sy", out="_cell",
    )
    right = with_cell(
        right_points.select(
            F.col(right_id).alias("dst"),
            F.col(x).cast("double").alias("tx"),
            F.col(y).cast("double").alias("ty"),
        ),
        side, x="tx", y="ty", out="_cell",
    )
    d2 = dist2_expr("sx", "sy", "tx", "ty")
    out_cols = [F.col("src"), F.col("dst")]
    if emit_dist2:
        out_cols.append(d2.alias("dist2"))
    return (
        left.hint("shuffle_hash").join(right.hint("shuffle_hash"), "_cell")
        .where(d2 <= F.lit(r * r))
        .select(*out_cols)
    )


def hot_cell_salts(
    points: DataFrame,
    radius: float,
    partitions: int,
    target_imbalance: float = 1.25,
    max_salt: int = 64,
    x: str = "x",
    y: str = "y",
) -> tuple[DataFrame | None, int]:
    """Measured hot-cell salt map for ``epsilon_self_join(hot_cells=…)``.

    A cell is hot when its load exceeds ``cap = target_imbalance · total /
    partitions`` (the reference's ``nprocs·max/total ≤ 1.25`` criterion,
    src/DistCoverTree.cpp:746-748, inverted per cell); its salt factor is
    ``ceil(n / cap)`` capped at ``max_salt``. Returns (hot_df | None, n_hot).
    The hot set is tiny by construction (≤ partitions / target_imbalance
    cells can exceed cap), so it broadcasts. Cells are ``cell_side(radius)``
    wide, the grid ``epsilon_self_join`` buckets on, so the salt keys match."""
    hist = cell_load_histogram(points, cell_side(radius), x=x, y=y)
    total = points.count()
    if total == 0:
        return None, 0
    cap = max(target_imbalance * total / float(partitions), 1.0)
    hot = hist.where(F.col("n") > F.lit(cap)).select(
        "cell_id",
        F.least(F.ceil(F.col("n") / F.lit(cap)), F.lit(max_salt)).alias("salt_n"),
    )
    n_hot = hot.count()
    return (hot if n_hot else None), n_hot


def epsilon_self_join_auto(
    points: DataFrame,
    radius: float,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
    target_imbalance: float = 1.25,
    max_salt: int = 64,
) -> tuple[DataFrame, int]:
    """ε-join with measured skew handling: histogram the cells, salt ONLY the
    hot ones (per-cell factor ∝ overload), leave the cold majority at the
    plain 9× ring. Returns (edges, n_hot_cells) — 0 means no salting was
    needed. Replaces round-1's uniform salting, which multiplied the entire
    corpus by 9·salt to fix a few cells."""
    parts = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    hot, n_hot = hot_cell_salts(
        points, float(radius), parts, target_imbalance, max_salt, x=x, y=y
    )
    return (
        epsilon_self_join(points, radius, id_col=id_col, x=x, y=y, hot_cells=hot),
        n_hot,
    )


def cell_load_histogram(points: DataFrame, res: float, x: str = "x", y: str = "y") -> DataFrame:
    """Per-cell point counts + the reference's load-imbalance metric inputs
    (``nprocs * max / total``, /root/reference/src/DistCoverTree.cpp:746-748).
    Drives the salting decision for hot cells."""
    return (
        with_cell(points, res, x=x, y=y, out="cell_id")
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def load_imbalance(points: DataFrame, res: float, partitions: int, x: str = "x", y: str = "y") -> float:
    """Skew metric: partitions * max_cell_load / total (ref semantics)."""
    row = (
        cell_load_histogram(points, res, x, y)
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .collect()[0]
    )
    return float(partitions) * float(row.mx) / float(row.tot) if row.tot else 0.0
