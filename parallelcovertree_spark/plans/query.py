"""Tree-accelerated queries: routed radius search over the two-phase tree.

The reference's distributed query replicates ALL points to every rank
(DistCoverTree.cpp:679-724) — its stated scalability weak spot. We do what its
``idea.txt`` proposes instead: broadcast only the (small) top tree, traverse it
per query batch to find (a) direct hits and (b) the local-tree roots whose
member boxes intersect the query ball (DistCoverTree.cpp:1088-1125
``local_radii_query`` semantics), then route each query to its target hubs
and finish against the hubs' ``members`` rows — the Spark analog of the
reference's batched query-routing design note (idea.txt:1-21, SURVEY J6).
Stage 1 probes broadcast literal tables built from the top tree. Stage 2
equi-joins the routes with ``members`` on (hub, grid cell) and lets the
planner choose the join strategy, except when both the query set and the
corpus are large: then a cogroup on the hub finishes each hub with a numpy
grid kernel.

Result sets are unioned + dedup'd (the reference's ``allgather_distinct``,
DistCoverTree.cpp:657-677).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parallelcovertree_spark.functions.cells import cell_side, explode_k_ring, with_cell
from parallelcovertree_spark.functions.geo import dist2_expr
from parallelcovertree_spark.plans.covertree import CoverTreeModel
from parallelcovertree_spark.plans.local_tree import TreeArrays, grid_radius_pairs

# Stage 2 takes the grouped (cogroup) finish only when the corpus's members
# AND the query set both exceed this many rows. Measured on 4 cores: at 57k
# Gaussian points the JVM join broadcasts ``members`` and ran the ε-graph in
# 1.9 s against the cogroup's 3.6 s (one traced pair); at 1M points it
# shuffles and sorts nine copies of every route and took 20-25 s against the
# cogroup's 10-16 s (3 processes each), while a 10k-query call was even
# between the two. Sizes between were not measured.
_GROUPED_MIN_ROWS = 100_000


def _top_tree_arrays(model: CoverTreeModel) -> tuple[TreeArrays, np.ndarray, np.ndarray]:
    """Collect the top tree into dense driver-side arrays.

    Returns (tree, vid_by_index, stop_indices). Point coords are joined from
    the points table (SURVEY F6 projection vertex→point).

    Global-phase LEAF vertices are excluded: the top tree proper is bounded
    by the hub cutoff, but leaves are one-per-deactivated-point — a corpus
    with massive coordinate-duplicate clusters (same-URL hashes) would drag
    O(dups) rows onto the driver. Leaf hits are answered distributed instead
    (grid ε-join in ``tree_radius_join``).

    Memoized on the model (like ``_hub_boxes``): a kNN radius search runs up
    to 8 expansion rounds against the same immutable model — one collect,
    not one per round."""
    cached = getattr(model, "_top_tree_cache", None)
    if cached is not None:
        return cached
    from parallelcovertree_spark.plans.covertree import LEAF_VID_BASE

    rows = (
        model.vertices.where(F.col("vertex_id") < LEAF_VID_BASE)
        .join(
            model.points.select(F.col("id").alias("point_id"), "x", "y"), "point_id"
        )
        .select("vertex_id", "point_id", "parent_id", "level", "x", "y")
        .collect()
    )
    rows.sort(key=lambda r: r.vertex_id)
    vid = np.array([r.vertex_id for r in rows], dtype=np.int64)
    vidx = {int(v): i for i, v in enumerate(vid)}
    pid = np.array([r.point_id for r in rows], dtype=np.int64)
    # dense point indexing in first-appearance order
    upid, codes = np.unique(pid, return_inverse=True)
    xy = np.zeros((len(upid), 2), dtype=np.float32)
    xy[codes, 0] = np.array([r.x for r in rows], dtype=np.float32)
    xy[codes, 1] = np.array([r.y for r in rows], dtype=np.float32)
    parent = np.array(
        [vidx[int(r.parent_id)] if r.parent_id >= 0 else -1 for r in rows],
        dtype=np.int64,
    )
    level = np.array([r.level for r in rows], dtype=np.int64)
    tree = TreeArrays(codes.astype(np.int64), level, parent, model.max_radius, model.base, xy)
    stop = np.array([vidx[h] for h in model.local_roots], dtype=np.int64)
    cached = (tree, upid, stop)  # upid maps point index → global pid
    object.__setattr__(model, "_top_tree_cache", cached)
    return cached


def _hub_boxes(model: CoverTreeModel, vid_of_stop: np.ndarray):
    """Member bounding box per local-tree root (aligned with
    ``model.local_roots``): the min/max of the hub's ``members`` (px, py).
    The box is tighter than any covering ball (hub balls overlap heavily at
    small query radii — measured 4.4 routed hubs/query at 1M points where
    ~1 hub actually holds hits). Collected once per model (n_hubs rows, one
    agg job), memoized. Returns (x0, x1, y0, y1)."""
    cached = getattr(model, "_hub_boxes_cache", None)
    if cached is None:
        rows = (
            model.members.groupBy("hub_id")
            .agg(
                F.min("px").alias("x0"), F.max("px").alias("x1"),
                F.min("py").alias("y0"), F.max("py").alias("y1"),
            )
            .collect()
        )
        cached = {
            int(r.hub_id): (float(r.x0), float(r.x1), float(r.y0), float(r.y1))
            for r in rows
        }
        object.__setattr__(model, "_hub_boxes_cache", cached)
    arr = np.array([cached[int(v)] for v in vid_of_stop], dtype=np.float64)
    return arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3]


def tree_radius_join(
    model: CoverTreeModel,
    queries: DataFrame,
    radius: float,
    qid_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """All (qid, point_id) with d ≤ radius, answered through the tree.

    The result is distinct-BY-CONSTRUCTION — no terminal ``.distinct()``
    shuffle over the (potentially huge) pair set. The three hit sources are
    made disjoint: stage 1 tests exactly the points of NON-stop top vertices
    (deduped on the driver; a chain point can sit on several vertices); stage 2
    and the leaf join drop those same points (stage 1 is guaranteed to find
    them: a vertex whose point is within r always passes its own traversal
    bound). Stage 2 covers each corpus point at most once (one owning hub);
    leaves are disjoint from local trees by deactivation.

    Stage 2 has two plans with one answer: an unhinted equi-join of the
    ring-exploded routes with ``members`` on (hub_id, cell), whose join
    strategy the planner picks, and, when the corpus and the query set both
    exceed ``_GROUPED_MIN_ROWS`` rows, a cogroup on the hub with a numpy grid
    kernel. The query set is counted (one job) only for a corpus that large;
    a counted query set at or under the limit has its routes broadcast."""
    spark = queries.sparkSession
    tree, upid, stop = _top_tree_arrays(model)
    vid_of_stop = np.array(model.local_roots, dtype=np.int64)
    # global pids tested by stage 1 = points of NON-stop top vertices (stop
    # vertices are routed, their point is tested by stage 2 with its hub)
    nonstop = np.ones(len(tree.pt), dtype=bool)
    if len(stop):
        nonstop[stop] = False
    s1idx = np.unique(tree.pt[nonstop])  # point indices, unique
    stage1_pids = upid[s1idx]            # sorted (pt indices sort like pids)
    # the leaf join and stage 2 drop these points with one isin predicate
    s1_ids = stage1_pids.tolist()
    r = float(radius)

    q = queries.select(
        F.col(qid_col).cast("long").alias("qid"),
        F.col(x).cast("double").alias("qx"),
        F.col(y).cast("double").alias("qy"),
    )

    # --- stage 1, JVM form: both small sides broadcast ----------------------
    # The former mapInArrow stage shipped every query through the Python
    # boundary and checkpointed ~1.9 routed rows per query. Both of its
    # decisions depend only on TINY model-side tables, so they are now two
    # broadcast hash joins in whole-stage codegen (guide §3.1/§2.4 — no
    # shuffle, no Python, no checkpoint):
    # (a) HITS: the stage-1 point set (non-stop top-vertex points, a few
    #     hundred rows) exploded to its 1-ring at ``cell_side(r)`` — each query
    #     probes its own cell, exact d² ≤ r² filter. Identical predicate and
    #     float32-rounded coordinates as the former kernel (the tree stores
    #     float32; the literal table carries those exact values widened).
    # (b) ROUTES: the hub-box rectangle stab — the same coarse stab grid is
    #     built driver-side in numpy (each inflated box covers ≤ 2×2 cells),
    #     shipped as a literal (stab_key → box) table; queries probe ONE
    #     stab cell and keep boxes with dist(q, box)² ≤ rm². The 1e-9
    #     relative margin makes the prune immune to last-bit rounding — a
    #     kept route only costs stage-2 work, and no true hit can be lost
    #     (a member within r of q lies in its hub's box).
    import pandas as pd

    rm = r + 1e-9 * max(1.0, r)
    rm2 = rm * rm
    side = cell_side(r)
    s1_df = spark.createDataFrame(
        pd.DataFrame({
            "pid": stage1_pids,
            "px": tree.xy[s1idx, 0].astype(np.float64),
            "py": tree.xy[s1idx, 1].astype(np.float64),
        }),
        "pid long, px double, py double",
    )
    ring = explode_k_ring(s1_df, side, k=1, x="px", y="py", out="_cell")
    hits_top = (
        with_cell(q, side, x="qx", y="qy", out="_cell")
        .join(F.broadcast(ring), "_cell")
        .where(dist2_expr("qx", "qy", "px", "py") <= F.lit(r * r))
        .select("qid", "pid")
    )

    # per-hub member bounding boxes (stop-aligned): a hub is routed iff the
    # query ball intersects its member box — a member within r of q lies in
    # its hub's box, so dist(q, box) ≤ dist(q, member) ≤ r and no true hit
    # can be pruned; measured 4.4 → 1.9 routed hubs/query at 1M points
    # against covering-ball routing. A model has ``members`` exactly when it
    # has local roots (it is None for a fully-global build).
    to_route = None
    if model.members is not None:
        x0, x1, y0, y1 = _hub_boxes(model, vid_of_stop)
        g = max(float(np.max(x1 - x0)), float(np.max(y1 - y0)),
                2.0 * rm, 1e-12) * (1.0 + 1e-12)
        bcx0 = np.floor((x0 - rm) / g).astype(np.int64)
        bcx1 = np.floor((x1 + rm) / g).astype(np.int64)
        bcy0 = np.floor((y0 - rm) / g).astype(np.int64)
        bcy1 = np.floor((y1 + rm) / g).astype(np.int64)
        cymin = int(bcy0.min()) - 1
        cymax = int(bcy1.max()) + 1
        span = int(cymax - cymin + 2)
        keys, bidx = [], []
        for i in range(len(vid_of_stop)):
            for cx in range(int(bcx0[i]), int(bcx1[i]) + 1):
                kbase = cx * span - cymin
                for cy in range(int(bcy0[i]), int(bcy1[i]) + 1):
                    keys.append(kbase + cy)
                    bidx.append(i)
        bidx = np.asarray(bidx, dtype=np.int64)
        stab_df = spark.createDataFrame(
            pd.DataFrame({
                "_skey": np.asarray(keys, dtype=np.int64),
                "_hx0": x0[bidx], "_hx1": x1[bidx],
                "_hy0": y0[bidx], "_hy1": y1[bidx],
                "_hub": vid_of_stop[bidx],
            }),
            "_skey long, _hx0 double, _hx1 double, _hy0 double, _hy1 double, "
            "_hub long",
        )
        qcy = F.floor(F.col("qy") / F.lit(g)).cast("long")
        gx = F.greatest(F.col("_hx0") - F.col("qx"),
                        F.col("qx") - F.col("_hx1"), F.lit(0.0))
        gy = F.greatest(F.col("_hy0") - F.col("qy"),
                        F.col("qy") - F.col("_hy1"), F.lit(0.0))
        to_route = (
            q.withColumn("_qcy", qcy)
            .where(F.col("_qcy").between(cymin, cymax))
            .withColumn(
                "_skey",
                F.floor(F.col("qx") / F.lit(g)).cast("long") * F.lit(span)
                + (F.col("_qcy") - F.lit(cymin)),
            )
            .join(F.broadcast(stab_df), "_skey")
            .where(gx * gx + gy * gy <= F.lit(rm2))
            .select(F.col("_hub").alias("hub_id"), "qid", "qx", "qy")
        )

    if model.has_global_leaves:
        # points deactivated during the global phase (exact-coordinate
        # duplicate clusters) live in leaf vertices excluded from the
        # broadcast top tree — answer them with the distributed grid ε-join
        # (exact; results dedup with the traversal hits below)
        from parallelcovertree_spark.operators.epsilon_join import epsilon_join
        from parallelcovertree_spark.plans.covertree import LEAF_VID_BASE

        # drop leaf points stage 1 already tests (a dup-cluster's root point
        # can be both a top vertex point and a leaf) — keeps the union
        # distinct without a terminal shuffle
        leaf_pts = (
            model.vertices.where(F.col("vertex_id") >= LEAF_VID_BASE)
            .select(F.col("point_id").alias("id"))
            .where(~F.col("id").isin(s1_ids))
            .join(model.points, "id")
        )
        qn = q.select("qid", F.col("qx").alias("x"), F.col("qy").alias("y"))
        hits_leaf = epsilon_join(qn, leaf_pts, r, left_id="qid").select(
            F.col("src").alias("qid"), F.col("dst").alias("pid")
        )
        hits_top = hits_top.unionByName(hits_leaf)

    if model.members is None:
        return hits_top.select(F.col("qid").alias("src"), F.col("pid").alias("dst"))

    # --- stage 2: finish the routes against their hubs' members ------------
    # Members that stage 1 tests are dropped up front; a filter keeps the
    # checkpoint's hub partitioning and order. Members are unique rows, each
    # in one hub, so both plans emit distinct pairs.
    mem = model.members.where(~F.col("point_id").isin(s1_ids))
    n_q = q.count() if model.n_members > _GROUPED_MIN_ROWS else None
    if n_q is None or n_q <= _GROUPED_MIN_ROWS:
        # JVM equi-join: the routes explode to their 9-cell ring at
        # ``cell_side(r)`` and each member gets its own cell; a member within
        # r of a routed query lies in its ring. For a small corpus the
        # planner picks the strategy (at 57k points it broadcasts
        # ``members``). For a large one the count shows the routes are the
        # small side, which the planner cannot see in a filtered query set:
        # broadcasting them keeps ``members`` from being shuffled (bench.py's
        # 1M-point selective call, 3 pairs: 1.73/1.71/1.56 s hinted against
        # 2.46/2.03/1.96 s unhinted).
        ring_route = explode_k_ring(to_route, side, k=1, x="qx", y="qy", out="_mcell")
        if n_q is not None:
            ring_route = F.broadcast(ring_route)
        hits_local = (
            with_cell(mem, side, x="px", y="py", out="_mcell").alias("m")
            .join(
                ring_route.alias("t"),
                (F.col("m.hub_id") == F.col("t.hub_id"))
                & (F.col("m._mcell") == F.col("t._mcell")),
            )
            .where(dist2_expr("qx", "qy", "px", "py") <= F.lit(r * r))
            .select("qid", F.col("point_id").alias("pid"))
        )
    else:
        # cogroup on the hub: the routes shuffle once, ``members`` is read
        # with no exchange and no sort, and a dense grid over each hub's
        # members finds exactly its within-r members (the same pair set as
        # the join above).
        def stage2(routes_tb, mem_tb):
            import pyarrow as pa

            def col(tb, name):
                return tb.column(name).combine_chunks().to_numpy(zero_copy_only=False)

            hq = np.empty(0, np.int64)
            if routes_tb.num_rows and mem_tb.num_rows:
                pids = col(mem_tb, "point_id")
                hq, hp = grid_radius_pairs(
                    col(mem_tb, "px").astype(np.float64),
                    col(mem_tb, "py").astype(np.float64),
                    col(routes_tb, "qx"), col(routes_tb, "qy"), r,
                )
            if not len(hq):
                return pa.table({
                    "qid": pa.array(np.empty(0, np.int64), pa.int64()),
                    "pids": pa.ListArray.from_arrays(
                        pa.array(np.zeros(1, np.int32)),
                        pa.array(np.empty(0, np.int64), pa.int64()),
                    ),
                })
            # packed return leg: hq ascends, so one run-length pass packs
            # each query's pids into a ListArray (~15x fewer rows cross the
            # Python->JVM boundary at ε-graph densities); an explode rebuilds
            # the pair rows JVM-side
            gstart = np.flatnonzero(np.r_[True, hq[1:] != hq[:-1]])
            offsets = np.zeros(len(gstart) + 1, dtype=np.int32)
            offsets[1:-1] = gstart[1:]
            offsets[-1] = len(hq)
            return pa.table({
                "qid": pa.array(col(routes_tb, "qid")[hq[gstart]], pa.int64()),
                "pids": pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(pids[hp], pa.int64())
                ),
            })

        hits_local = (
            to_route.groupBy("hub_id")
            .cogroup(mem.groupBy("hub_id"))
            .applyInArrow(stage2, "qid long, pids array<long>")
            .select("qid", F.explode("pids").alias("pid"))
        )
    # sources are pairwise disjoint (see docstring) → plain union, no shuffle
    return hits_top.unionByName(hits_local).select(
        F.col("qid").alias("src"), F.col("pid").alias("dst")
    )


def tree_epsilon_graph(model: CoverTreeModel, radius: float) -> DataFrame:
    """ε-graph through the tree (CoverTree.cpp:374-384): every point queries
    its own radius neighborhood; self-loops included by construction."""
    return tree_radius_join(model, model.points, radius)


def _corpus_radius(model: CoverTreeModel, k: int) -> float:
    """The radius expected to hold ~k CORPUS points around a query: sized
    from the corpus density, never from the query set's (m queries over n
    points would start √(n/m) times too wide). One agg job per model and k,
    memoized like ``_hub_boxes``."""
    from parallelcovertree_spark.operators.knn import estimate_radius

    cache = getattr(model, "_radius_cache", None)
    if cache is None:
        cache = {}
        object.__setattr__(model, "_radius_cache", cache)
    if k not in cache:
        cache[k] = estimate_radius(model.points, k)
    return cache[k]


def tree_knn(
    model: CoverTreeModel,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "id",
    x: str = "x",
    y: str = "y",
    r0: float | None = None,
    max_rounds: int = 8,
) -> DataFrame:
    """Exact kNN answered through the cover tree: adaptive-radius rounds of
    the routed radius query. A query with ≥ k in-radius results (excluding
    itself) is certified — the radius query is exact, so its top-k by
    (d² asc, id asc) is the true top-k. Unresolved queries retry at doubled
    radius (the reference's kNN ground truth is brute force,
    programs/epsilon_graph.cpp:113-118; this is the tree-indexed equivalent).
    Returns (src, nbr_rank, dst)."""
    q = queries.select(
        F.col(qid_col).cast("long").alias("id"),
        F.col(x).cast("double").alias("x"),
        F.col(y).cast("double").alias("y"),
    ).persist()
    r = float(r0) if r0 is not None else _corpus_radius(model, k + 1)
    pts = model.points.select(
        F.col("id").alias("dst"),
        F.col("x").cast("double").alias("tx"),
        F.col("y").cast("double").alias("ty"),
    )

    unresolved = q
    remaining = -1  # unknown until first round
    parts: list[DataFrame] = []
    for round_no in range(max_rounds):
        hits = tree_radius_join(model, unresolved, r)  # (src, dst)
        cand = (
            hits.join(unresolved.withColumnRenamed("id", "src"), "src")
            .join(pts, "dst")
            .where(F.col("src") != F.col("dst"))
            .select(
                "src", "dst",
                ((F.col("x") - F.col("tx")) ** 2 + (F.col("y") - F.col("ty")) ** 2).alias("d2"),
            )
        )
        wrank = Window.partitionBy("src").orderBy(F.col("d2").asc(), F.col("dst").asc())
        wcnt = Window.partitionBy("src")
        flagged = cand.withColumn("rk", F.row_number().over(wrank)).withColumn(
            "cnt", F.count(F.lit(1)).over(wcnt)
        )
        resolved = flagged.where((F.col("cnt") >= k) & (F.col("rk") <= k)).localCheckpoint(
            eager=True
        )
        parts.append(resolved.select("src", F.col("rk").alias("nbr_rank"), "dst"))
        nxt = unresolved.join(
            resolved.select("src").distinct().withColumnRenamed("src", "id"), "id", "left_anti"
        ).persist()
        remaining = nxt.count()
        unresolved.unpersist()
        unresolved = nxt
        if remaining == 0:
            break
        r *= 2.0

    if remaining != 0:
        # exact fallback for queries still uncertified after max_rounds
        # (k ≥ available neighbors, or an r0 underestimate needing more than
        # 2^max_rounds growth): brute-force window top-k over the broadcast
        # straggler set — the same exact fallback as the kNN block kernel's
        # stragglers, so no query is ever silently dropped.
        cand = (
            F.broadcast(unresolved.withColumnRenamed("id", "src"))
            .join(pts, F.col("src") != F.col("dst"))
            .select(
                "src", "dst",
                ((F.col("x") - F.col("tx")) ** 2 + (F.col("y") - F.col("ty")) ** 2).alias("d2"),
            )
        )
        w = Window.partitionBy("src").orderBy(F.col("d2").asc(), F.col("dst").asc())
        parts.append(
            cand.withColumn("nbr_rank", F.row_number().over(w))
            .where(F.col("nbr_rank") <= k)
            .select("src", "nbr_rank", "dst")
            .localCheckpoint(eager=True)
        )
    unresolved.unpersist()

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
