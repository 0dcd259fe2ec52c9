"""Skew-aware salting, snapshot tables (time travel + pruning), tree kNN."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from parallelcovertree_spark.operators.epsilon_join import (
    epsilon_self_join_auto,
    load_imbalance,
)
from parallelcovertree_spark.oracle import epsilon_graph_np, knn_np
from parallelcovertree_spark.sources.snapshots import SnapshotTable
from parallelcovertree_spark.sources.synthetic import (
    gaussian_points_np,
    synthetic_points,
)


def _clustered(spark, n):
    """All points inside one grid cell at radius 1.0 → maximal hot-cell skew."""
    pdf = gaussian_points_np(n)
    pdf["x"] = (pdf["x"] * 0.01).astype(np.float32)
    pdf["y"] = (pdf["y"] * 0.01).astype(np.float32)
    return spark.createDataFrame(pdf), pdf


def test_auto_salting_on_hot_cell(spark):
    df, pdf = _clustered(spark, 400)
    imb = load_imbalance(df, res=1.0, partitions=8)
    assert imb > 1.25  # genuinely skewed input
    edges, salt = epsilon_self_join_auto(df, 1.0, target_imbalance=1.25)
    assert salt > 0  # salting engaged
    got = {(r.src, r.dst) for r in edges.collect()}
    assert got == epsilon_graph_np(pdf, 1.0)  # identical rows, physical knob only


def test_auto_salting_uniform_no_salt(spark):
    pts = synthetic_points(spark, 500)
    edges, salt = epsilon_self_join_auto(pts, 0.5, target_imbalance=3.0)
    assert salt == 0
    assert {(r.src, r.dst) for r in edges.collect()} == epsilon_graph_np(
        gaussian_points_np(500), 0.5
    )


def test_snapshot_table_commit_timetravel_pruning(tmp_path, spark):
    t = SnapshotTable(str(tmp_path / "docs_table"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = t.commit(docs.where("doc_id < 100"), partition_by="lang")
    s2 = t.commit(docs, partition_by="lang")
    assert (s1, s2) == (1, 2)
    assert t.read(spark).count() == 500                      # latest
    assert t.read(spark, snapshot_id=1).count() == 100       # time travel
    h = t.history()
    assert [m["snapshot_id"] for m in h] == [1, 2]
    assert h[1]["parent_id"] == 1
    assert sum(h[0]["partition_rows"].values()) == 100       # per-partition lineage
    # partition pruning reaches the scan
    df = t.read(spark).where("lang = 'en'")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_snapshot_commit_is_atomic(tmp_path, spark):
    t = SnapshotTable(str(tmp_path / "tbl"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t.commit(docs)
    # a crashed commit = data dir without manifest: readers must not see it
    import os
    os.makedirs(f"{t.path}/snap-000000000099")
    assert t.latest_snapshot_id() == 1
    assert t.read(spark).count() == 500


def test_tree_knn_matches_oracle(spark):
    from parallelcovertree_spark.plans.covertree import build_cover_tree
    from parallelcovertree_spark.plans.query import tree_knn

    pts = synthetic_points(spark, 400).persist()
    model = build_cover_tree(pts, hub_cutoff=16)
    got = {(r.src, r.nbr_rank, r.dst) for r in tree_knn(model, pts, k=7).collect()}
    want = knn_np(gaussian_points_np(400), k=7)
    assert got == want
    pts.unpersist()


def test_tree_knn_few_queries_over_large_corpus(spark):
    """300 queries over a 20k-point corpus: the first radius is sized from
    the corpus, and the answer equals a vectorized brute-force top-k (ties to
    the lower id) over float32-rounded coordinates."""
    from parallelcovertree_spark.plans.covertree import build_cover_tree
    from parallelcovertree_spark.plans.query import tree_knn

    n, m, k = 20_000, 300, 5
    pts = synthetic_points(spark, n).persist()
    model = build_cover_tree(pts, hub_cutoff=32)
    qids = np.sort(np.random.default_rng(3).choice(n, size=m, replace=False))
    queries = pts.where(pts["id"].isin(qids.tolist()))
    got = {(r.src, r.nbr_rank, r.dst) for r in tree_knn(model, queries, k=k).collect()}

    corpus = gaussian_points_np(n)
    xy = corpus[["x", "y"]].to_numpy(np.float32).astype(np.float64)
    d2 = ((xy[qids, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    d2[np.arange(m), qids] = np.inf  # a query is not its own neighbor
    want = set()
    for i, q in enumerate(qids):
        top = np.lexsort((np.arange(n), d2[i]))[:k]
        want |= {(int(q), rank + 1, int(j)) for rank, j in enumerate(top)}
    assert got == want
    pts.unpersist()


def test_hot_cell_salting_is_selective(spark):
    """VERDICT r1 item 3: salting must split ONLY measured hot cells — the
    cold majority keeps exactly the 9x ring expansion (uniform salting blew
    the whole corpus up 9*salt x)."""
    import pyspark.sql.functions as F

    from parallelcovertree_spark.functions.cells import explode_k_ring
    from parallelcovertree_spark.operators.epsilon_join import (
        epsilon_self_join,
        hot_cell_salts,
    )

    # 64 cold points spread far apart (one per cell at res=1.0) + 300 points
    # planted inside one cell
    cold = pd.DataFrame({
        "id": np.arange(64, dtype=np.int64),
        "x": np.float32(10.0) * np.arange(64, dtype=np.float32),
        "y": np.zeros(64, dtype=np.float32),
    })
    rng = np.random.default_rng(7)
    hotp = pd.DataFrame({
        "id": np.arange(64, 364, dtype=np.int64),
        "x": np.float32(-500.0) + rng.random(300, dtype=np.float32) * np.float32(0.4),
        "y": rng.random(300, dtype=np.float32) * np.float32(0.4),
    })
    pdf = pd.concat([cold, hotp], ignore_index=True)
    df = spark.createDataFrame(pdf)

    hot, n_hot = hot_cell_salts(df, 1.0, partitions=8, target_imbalance=1.25)
    rows = hot.collect()
    # exactly the planted cluster's cell is hot, with a proportional factor
    assert n_hot == len(rows) == 1
    assert rows[0].salt_n >= 2
    hot_cell = rows[0].cell_id

    # physical expansion audit: rebuild the salted candidate side the way
    # epsilon_self_join does and count rows per target cell
    right = explode_k_ring(
        df.select(F.col("id").alias("dst"), F.col("x").cast("double").alias("tx"),
                  F.col("y").cast("double").alias("ty")),
        1.0, k=1, x="tx", y="ty", out="_cell",
    )
    hs = F.broadcast(hot.select(F.col("cell_id").alias("_cell"),
                                F.col("salt_n").cast("long").alias("_sn")))
    salted = right.join(hs, "_cell", "left").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("long"),
                                      F.coalesce(F.col("_sn"), F.lit(1).cast("long")) - 1)))
    base_n = right.count()
    per_cell = {r._cell: r.n for r in salted.groupBy("_cell").agg(F.count("*").alias("n")).collect()}
    plain_per_cell = {r._cell: r.n for r in right.groupBy("_cell").agg(F.count("*").alias("n")).collect()}
    assert base_n == 9 * len(pdf)  # the ring itself is exactly 9x
    for cell, n in per_cell.items():
        if cell == hot_cell:
            assert n == plain_per_cell[cell] * rows[0].salt_n  # hot cell split
        else:
            assert n == plain_per_cell[cell]  # cold cells untouched

    # and the logical answer is unchanged
    got = {(r.src, r.dst) for r in epsilon_self_join(df, 1.0, hot_cells=hot).collect()}
    assert got == epsilon_graph_np(pdf, 1.0)
