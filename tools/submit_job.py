"""spark-submit entry point (north rule: "runs via spark-submit --py-files").

Usage:
    python tools/make_pyfiles.py                       # build dist/covergrid.zip
    spark-submit --master local[32] \
        --py-files dist/covergrid.zip tools/submit_job.py \
        epsilon /root/testdata/sf0.1 0.05 /tmp/edges_out

Jobs: epsilon <sf_dir> <radius> <out_dir> | knn <sf_dir> <k> <out_dir> |
covertree <sf_dir> <radius> <out_dir> [checkpoint_dir] |
query <name> <sf_dir> <out_dir>   (any registry operator —
                                   dedup, ANN, tiles, text analysis, ...) |
ingest <src_parquet_dir> <table_path> <checkpoint_dir> [key_col] [partition_by]
    — streaming upsert of a parquet directory into a SnapshotTable
      (availableNow drain; resumable + replay-idempotent from checkpoint)

The script imports the engine from the shipped zip (no repo checkout needed
on executors) and writes results as parquet.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    job = sys.argv[1]
    spark = SparkSession.builder.appName(f"covergrid-{job}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if job == "query":
        # run any registry operator: query <name> <sf_dir> <out_dir>
        name, sf_dir, out = sys.argv[2], sys.argv[3], sys.argv[4]
        from parallelcovertree_spark.registry import _QUERIES

        if name not in _QUERIES:
            raise SystemExit(
                f"unknown query {name!r}; choose from: {', '.join(sorted(_QUERIES))}"
            )
        _QUERIES[name](spark, sf_dir).write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        print(f"covergrid job=query:{name} wrote {n} rows to {out}")
        spark.stop()
        return

    if job == "ingest":
        src, table_path, ckpt = sys.argv[2], sys.argv[3], sys.argv[4]
        key_col = sys.argv[5] if len(sys.argv) > 5 else "doc_id"
        pby = sys.argv[6] if len(sys.argv) > 6 else None
        # files per micro-batch = merge commits granularity: each batch is
        # one snapshot commit (touched-partition read + anti-join +
        # rewrite), so default to big batches; 0 = everything in one batch
        files_per_batch = int(sys.argv[7]) if len(sys.argv) > 7 else 64
        from parallelcovertree_spark.sources.snapshots import SnapshotTable
        from parallelcovertree_spark.streaming.upsert import upsert_stream_to_table

        schema = spark.read.parquet(src).schema
        reader = spark.readStream.schema(schema)
        if files_per_batch > 0:
            reader = reader.option("maxFilesPerTrigger", files_per_batch)
        stream = reader.parquet(src)
        table = SnapshotTable(table_path)
        q = upsert_stream_to_table(stream, table, key_col=key_col,
                                   checkpoint_dir=ckpt, partition_by=pby)
        q.awaitTermination()
        hist = table.history()
        if hist:
            man = hist[-1]
            print(
                f"covergrid job=ingest table={table_path} snapshots="
                f"{man['snapshot_id']} rows={man['total_rows']}"
            )
        else:  # resumed checkpoint with no unprocessed files, fresh table
            print(f"covergrid job=ingest table={table_path} nothing to do")
        spark.stop()
        return

    if job == "optimize":
        # table maintenance: optimize <table> [n_files] [cluster_sql] [keep]
        # rewrite_data_files (+ optional Z-order clustering on a SQL
        # expression over table columns) then expire unreferenced history
        table_path = sys.argv[2]
        n_files = int(sys.argv[3]) if len(sys.argv) > 3 else None
        cluster_sql = sys.argv[4] if len(sys.argv) > 4 else None
        keep = int(sys.argv[5]) if len(sys.argv) > 5 else 0
        from parallelcovertree_spark.sources.snapshots import SnapshotTable

        table = SnapshotTable(table_path)
        sid = table.compact(spark, cluster_by=cluster_sql, n_files=n_files)
        expired = table.expire_snapshots(keep_last=keep) if keep > 0 else []
        man = table._manifest(sid)
        print(
            f"covergrid job=optimize table={table_path} snapshot={sid} "
            f"rows={man['total_rows']} clustered={cluster_sql is not None} "
            f"expired={len(expired)}"
        )
        spark.stop()
        return

    sf_dir = sys.argv[2]
    from parallelcovertree_spark.functions import geo

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        docs.doc_id.alias("id"), geo.x_col("doc_id").alias("x"), geo.y_col("doc_id").alias("y")
    )

    if job == "epsilon":
        radius, out = float(sys.argv[3]), sys.argv[4]
        from parallelcovertree_spark.operators.epsilon_join import epsilon_self_join

        epsilon_self_join(pts, radius).write.mode("overwrite").parquet(out)
    elif job == "knn":
        k, out = int(sys.argv[3]), sys.argv[4]
        from parallelcovertree_spark.operators.knn import knn_join_block_kernel

        knn_join_block_kernel(pts, k=k).write.mode("overwrite").parquet(out)
    elif job == "covertree":
        radius, out = float(sys.argv[3]), sys.argv[4]
        ckpt = sys.argv[5] if len(sys.argv) > 5 else None
        from parallelcovertree_spark.plans.covertree import build_cover_tree
        from parallelcovertree_spark.plans.query import tree_epsilon_graph

        model = build_cover_tree(pts, hub_cutoff=64, checkpoint_dir=ckpt)
        tree_epsilon_graph(model, radius).write.mode("overwrite").parquet(out)
        model.metrics.write.mode("overwrite").parquet(f"{out}_metrics")
    else:
        raise SystemExit(f"unknown job {job!r}")
    n = spark.read.parquet(sys.argv[4]).count()
    print(f"covergrid job={job} wrote {n} rows to {sys.argv[4]}")
    spark.stop()


if __name__ == "__main__":
    main()
