"""No query leaves unbounded cached state behind (VERDICT r1 item 8).

Every operator that persists internally must release on return; repeated
invocation must not accumulate cached partitions. localCheckpoint results
held by a live returned DataFrame are legitimate — so the property tested is
STEADY STATE: after dropping all references and letting the ContextCleaner
run, the persistent-RDD count returns to its post-first-call level.
"""

from __future__ import annotations

import gc
import time


def _persistent_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _settle(spark, target: int, timeout_s: float = 240.0) -> int:
    """GC + wait for the async ContextCleaner to unpersist dropped RDDs."""
    deadline = time.time() + timeout_s
    n = _persistent_count(spark)
    while n > target and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
        n = _persistent_count(spark)
    return n


def test_registry_ops_do_not_accumulate_cache(spark):
    from parallelcovertree_spark.registry import (
        minhash_dup_pairs,
        simhash_dup_pairs_q,
        ann_ivf_topk,
    )

    sf = "/root/testdata/sf0.001"

    def sweep():
        minhash_dup_pairs(spark, sf).count()
        simhash_dup_pairs_q(spark, sf).count()
        ann_ivf_topk(spark, sf).count()

    sweep()
    baseline = _settle(spark, 0)
    for _ in range(3):
        sweep()
    after = _settle(spark, baseline)
    assert after <= baseline, f"cached RDDs grew: {baseline} -> {after}"


def test_knn_and_tree_knn_release_caches(spark):
    from parallelcovertree_spark.operators.knn import knn_join_block_kernel
    from parallelcovertree_spark.plans.covertree import build_cover_tree
    from parallelcovertree_spark.plans.query import tree_knn
    from parallelcovertree_spark.sources.synthetic import synthetic_points

    pts = synthetic_points(spark, 300)

    def sweep():
        knn_join_block_kernel(pts, k=5).count()
        knn_join_block_kernel(pts, k=5, queries=pts.where("id < 40")).count()
        model = build_cover_tree(pts, hub_cutoff=8)
        tree_knn(model, pts, k=5).count()

    sweep()
    baseline = _settle(spark, 0)
    for _ in range(2):
        sweep()
    after = _settle(spark, baseline)
    assert after <= baseline, f"cached RDDs grew: {baseline} -> {after}"


def test_highdim_and_pagerank_release_caches(spark):
    """The late-round localCheckpoint users (hub kNN/ε routing, pagerank
    graph structure) must leave no cached blocks once results are dropped."""
    import numpy as np

    from parallelcovertree_spark.operators.graph import pagerank
    from parallelcovertree_spark.operators.knn_highdim import (
        hub_epsilon_highdim,
        hub_knn_highdim,
    )

    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, rng.normal(size=8).astype(float).tolist()) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 60) for i in range(60)], "src long, dst long"
    )

    def sweep():
        hub_knn_highdim(vecs, k=3, n_hubs=4).count()
        hub_epsilon_highdim(vecs, radius_q=30000, n_hubs=4).count()
        pagerank(edges, n_iter=3).count()

    sweep()
    baseline = _settle(spark, 0)
    for _ in range(2):
        sweep()
    after = _settle(spark, baseline)
    assert after <= baseline, f"cached RDDs grew: {baseline} -> {after}"
