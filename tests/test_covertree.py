"""Cover-tree build + tree queries vs brute-force oracle, invariants,
checkpoint/resume — the reference's full correctness contract
(programs/epsilon_graph.cpp, SURVEY.md section 5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parallelcovertree_spark.oracle import epsilon_graph_np
from parallelcovertree_spark.plans.covertree import build_cover_tree, local_trees
from parallelcovertree_spark.plans import query
from parallelcovertree_spark.plans.query import tree_epsilon_graph, tree_radius_join
from parallelcovertree_spark.sources.synthetic import (
    gaussian_points_np,
    synthetic_points,
)


def _edges(df):
    return {(r.src, r.dst) for r in df.collect()}


def test_global_build_epsilon_matches_bruteforce(spark):
    """Fully-global build (hub_cutoff=None): pure DataFrame iteration."""
    pts = synthetic_points(spark, 300).persist()
    model = build_cover_tree(pts, hub_cutoff=None)
    assert local_trees(model) is None
    got = _edges(tree_epsilon_graph(model, 1.0))
    want = epsilon_graph_np(gaussian_points_np(300), 1.0)
    assert got == want
    pts.unpersist()


@pytest.mark.parametrize("cutoff,n,r", [(8, 600, 0.5), (8, 600, 2.0), (32, 1000, 1.0)])
def test_two_phase_build_epsilon_matches_bruteforce(spark, monkeypatch, cutoff, n, r):
    """Global phase + hubs: routed queries finish against ``members``, by the
    JVM join (small corpus) and by the grouped cogroup finish (forced)."""
    pts = synthetic_points(spark, n).persist()
    model = build_cover_tree(pts, hub_cutoff=cutoff)
    assert local_trees(model) is not None
    assert len(model.local_roots) >= cutoff
    assert model.n_members == model.members.count()
    want = epsilon_graph_np(gaussian_points_np(n), r)
    assert _edges(tree_epsilon_graph(model, r)) == want
    monkeypatch.setattr(query, "_GROUPED_MIN_ROWS", -1)
    assert _edges(tree_epsilon_graph(model, r)) == want, "grouped"
    pts.unpersist()


def test_driver_and_block_paths_identical(spark):
    """The driver-resident global phase (state ≤ threshold) and the
    executor-resident block-RDD path share kernels and must produce a
    BIT-IDENTICAL tree: same vertices, same local-tree rows, same ε-graph."""
    pts = synthetic_points(spark, 800).persist()
    m_drv = build_cover_tree(pts, hub_cutoff=16)  # default: driver path
    m_blk = build_cover_tree(pts, hub_cutoff=16, driver_state_threshold=0)

    def vset(m):
        return {(r.vertex_id, r.point_id, r.parent_id, r.level)
                for r in m.vertices.collect()}

    def lset(m):
        return {(r.hub_id, r.lvertex_id, r.point_id, r.lparent_id, r.level)
                for r in local_trees(m).collect()}

    assert vset(m_drv) == vset(m_blk)
    assert lset(m_drv) == lset(m_blk)
    assert m_drv.n_members == m_blk.n_members == m_drv.members.count()
    assert _edges(tree_epsilon_graph(m_drv, 1.0)) == _edges(tree_epsilon_graph(m_blk, 1.0))
    pts.unpersist()


def test_radius_join_external_queries(spark, monkeypatch):
    """Queries that are not corpus points (true search, not self-join), under
    every stage-2 plan: the planner-chosen join (small corpus), the join with
    the counted routes broadcast (corpus over the limit, 50 queries under
    it) and the grouped cogroup finish (both over it)."""
    pts = synthetic_points(spark, 400).persist()
    model = build_cover_tree(pts, hub_cutoff=16)
    assert model.n_members > 100
    qs = synthetic_points(spark, 50, seed=7)
    corpus = gaussian_points_np(400)
    queries = gaussian_points_np(50, seed=7)
    cxy = corpus[["x", "y"]].to_numpy(np.float32).astype(np.float64)
    qxy = queries[["x", "y"]].to_numpy(np.float32).astype(np.float64)
    d2 = ((qxy[:, None, :] - cxy[None, :, :]) ** 2).sum(axis=2)
    want = {(int(a), int(b)) for a, b in zip(*np.nonzero(d2 <= 1.5 * 1.5))}
    for limit in (query._GROUPED_MIN_ROWS, 100, -1):
        monkeypatch.setattr(query, "_GROUPED_MIN_ROWS", limit)
        assert _edges(tree_radius_join(model, qs, 1.5)) == want, limit
    pts.unpersist()


def test_tree_invariants(spark):
    """Covering + separation invariants (CoverTree.cpp:51-54,162-165):
    child within max_radius*base^-parent_level of parent; every point appears
    as some vertex; vertex count ≥ point count."""
    n = 400
    pts = synthetic_points(spark, n).persist()
    model = build_cover_tree(pts, hub_cutoff=None)
    verts = model.vertices.collect()
    coords = {r.id: (r.x, r.y) for r in pts.collect()}
    by_vid = {r.vertex_id: r for r in verts}
    assert len(verts) >= n
    assert {r.point_id for r in verts} == set(range(n))
    for r in verts:
        if r.parent_id < 0:
            continue
        p = by_vid[r.parent_id]
        assert r.level == p.level + 1
        d = np.sqrt(
            (np.float64(coords[r.point_id][0]) - np.float64(coords[p.point_id][0])) ** 2
            + (np.float64(coords[r.point_id][1]) - np.float64(coords[p.point_id][1])) ** 2
        )
        # covering: child within max_radius * base^-parent_level of parent
        assert d <= model.max_radius * model.base ** (-1.0 * p.level) + 1e-9
    pts.unpersist()


def _dense_square_beside_background(spark):
    """6000 uniform points in a 10x10 square beside 2000 sparse ones: at
    hub_cutoff=16 one hub holds >4096 square points and is sub-split."""
    import pandas as pd

    rng = np.random.default_rng(11)
    sparse = rng.uniform(-50.0, 50.0, size=(2000, 2))
    dense = rng.uniform(20.0, 30.0, size=(6000, 2))
    xy = np.concatenate([sparse, dense]).astype(np.float32)
    return spark.createDataFrame(pd.DataFrame({
        "id": np.arange(len(xy), dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1],
    }))


@pytest.mark.parametrize("fixture", ["gaussian", "subsplit_hub"])
def test_local_tree_invariants(spark, monkeypatch, fixture):
    """On-demand local trees: each hub's tree holds exactly its members,
    is rooted at the hub's own point, and satisfies the covering invariant
    (child within lmax_radius * base^-(parent level - hub level))."""
    from parallelcovertree_spark.plans import covertree as ct

    packed = []
    morton = ct._morton
    monkeypatch.setattr(
        ct, "_morton", lambda cx, cy, bits=21: packed.append(1) or morton(cx, cy, bits)
    )
    if fixture == "gaussian":
        pts = synthetic_points(spark, 800).persist()
    else:
        pts = _dense_square_beside_background(spark).persist()
    model = build_cover_tree(pts, hub_cutoff=16)
    assert bool(packed) == (fixture == "subsplit_hub")  # a hub was sub-split

    mem = model.members.toPandas()
    assert not mem["point_id"].duplicated().any()
    hubs = {r.vertex_id: r for r in
            model.vertices.where(F.col("vertex_id").isin(model.local_roots)).collect()}
    assert set(hubs) == set(model.local_roots) == set(mem["hub_id"])
    lt = local_trees(model).toPandas()
    assert set(lt["hub_id"]) == set(hubs)
    for h, tree in lt.groupby("hub_id"):
        assert set(tree["point_id"]) == set(mem.loc[mem["hub_id"] == h, "point_id"])
        by_lv = tree.set_index("lvertex_id")
        assert by_lv.loc[0, "point_id"] == hubs[h].point_id
        assert by_lv.loc[0, "lparent_id"] == -1
        kids = tree[tree["lparent_id"] >= 0]
        par = by_lv.loc[kids["lparent_id"]]
        d = np.sqrt(
            (kids["px"].to_numpy(np.float64) - par["px"].to_numpy(np.float64)) ** 2
            + (kids["py"].to_numpy(np.float64) - par["py"].to_numpy(np.float64)) ** 2
        )
        bound = kids["lmax_radius"].to_numpy() * model.base ** (
            -1.0 * (par["level"].to_numpy() - hubs[h].level)
        )
        assert (d <= bound + 1e-9).all()
    pts.unpersist()


def test_metrics_lineage(spark):
    pts = synthetic_points(spark, 300)
    model = build_cover_tree(pts, hub_cutoff=None)
    m = model.metrics.collect()
    assert len(m) == model.num_global_iters > 0
    iters = [r.iter for r in m]
    assert iters == sorted(iters)
    assert all(r.duration_ms >= 0 and r.n_partitions > 0 for r in m)


def test_checkpoint_resume(tmp_path, spark):
    """Kill after 4 iterations, resume from checkpoint → identical ε-graph
    and identical vertex table (north rule: resumable from checkpoint)."""
    pts = synthetic_points(spark, 300).persist()
    full = build_cover_tree(pts, hub_cutoff=None)

    ckpt = str(tmp_path / "ckpt")
    partial = build_cover_tree(pts, hub_cutoff=None, checkpoint_dir=ckpt,
                               checkpoint_every=2, max_iters=4)
    assert partial.num_global_iters == 4
    resumed = build_cover_tree(pts, hub_cutoff=None, checkpoint_dir=ckpt,
                               resume=True)
    assert resumed.num_global_iters == full.num_global_iters
    v_full = {(r.vertex_id, r.point_id, r.parent_id, r.level) for r in full.vertices.collect()}
    v_res = {(r.vertex_id, r.point_id, r.parent_id, r.level) for r in resumed.vertices.collect()}
    assert v_full == v_res
    got = _edges(tree_epsilon_graph(resumed, 1.0))
    want = epsilon_graph_np(gaussian_points_np(300), 1.0)
    assert got == want
    pts.unpersist()


def test_duplicate_heavy_corpus_bounds_driver_collect(spark):
    """VERDICT r1 item 9: global-phase leaf vertices (one per coordinate-
    duplicate point) must NOT be collected to the driver — leaf hits are
    answered by a distributed grid join. Query answers stay oracle-exact."""
    import numpy as np
    import pandas as pd

    from parallelcovertree_spark.oracle import epsilon_graph_np
    from parallelcovertree_spark.plans.covertree import LEAF_VID_BASE
    from parallelcovertree_spark.plans.query import _top_tree_arrays, tree_epsilon_graph

    rng = np.random.default_rng(9)
    uniq = rng.normal(scale=3.0, size=(30, 2)).astype(np.float32)
    # 30 distinct coords, each duplicated 10x -> 300 points, 270+ would-be leaves
    xy = np.repeat(uniq, 10, axis=0)
    pdf = pd.DataFrame({
        "id": np.arange(len(xy), dtype=np.int64),
        "x": xy[:, 0], "y": xy[:, 1],
    })
    pts = spark.createDataFrame(pdf)
    model = build_cover_tree(pts, hub_cutoff=None)  # fully global: max leaves
    assert model.has_global_leaves
    n_leaves = model.vertices.where(f"vertex_id >= {LEAF_VID_BASE}").count()
    assert n_leaves >= 200  # the trap is real in this fixture
    tree, _, _ = _top_tree_arrays(model)
    assert len(tree.pt) == model.vertices.count() - n_leaves  # leaves not collected
    got = {(r.src, r.dst) for r in tree_epsilon_graph(model, 1.5).collect()}
    assert got == epsilon_graph_np(pdf, 1.5)
