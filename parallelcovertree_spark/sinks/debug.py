"""Diagnostic sinks (SURVEY S8/S9).

- ``write_gml``: GML graph dump of a cover-tree model — nodes carry
  (point id, level, cover radius), edges are parent links with normalized
  distance. Mirrors ``OldCoverTree::write_gml``
  (/root/reference/src/OldCoverTree.cpp:383-417). Debug scale (driver-side).
- ``dump_info``: the distributed diagnostics tables the reference gathers to
  rank 0 as TSVs (``DistCoverTree::dump_info``, src/DistCoverTree.cpp:936-1047)
  — here written as parallel TSV directories: vertex table, local-tree table,
  and the per-iteration lineage/metrics table.
"""

from __future__ import annotations

from parallelcovertree_spark.plans.covertree import CoverTreeModel, local_trees


def write_gml(model: CoverTreeModel, path: str) -> None:
    from pyspark.sql import functions as F

    verts = (
        model.vertices.join(
            model.points.select(F.col("id").alias("point_id"), "x", "y"), "point_id"
        )
        .orderBy("vertex_id")
        .collect()
    )
    coords = {r.vertex_id: (float(r.x), float(r.y)) for r in verts}
    with open(path, "w") as f:
        f.write("graph\n[\n")
        for r in verts:
            cover = model.max_radius * model.base ** (-1.0 * r.level)
            f.write(
                f"  node\n  [\n    id {r.vertex_id}\n    pt {r.point_id}\n"
                f"    level {r.level}\n    cover {cover:.6f}\n  ]\n"
            )
        for r in verts:
            if r.parent_id < 0:
                continue
            ax, ay = coords[r.vertex_id]
            bx, by = coords[r.parent_id]
            d = ((ax - bx) ** 2 + (ay - by) ** 2) ** 0.5
            nd = d / model.max_radius if model.max_radius else 0.0
            f.write(
                f"  edge\n  [\n    source {r.parent_id}\n    target {r.vertex_id}\n"
                f"    dist {nd:.6f}\n  ]\n"
            )
        f.write("]\n")


def dump_info(model: CoverTreeModel, out_dir: str) -> None:
    """Parallel TSV dumps: vertices/, metrics/, local_trees/ (if any)."""
    opts = {"sep": "\t", "header": "true"}
    model.vertices.write.mode("overwrite").options(**opts).csv(f"{out_dir}/vertices")
    model.metrics.write.mode("overwrite").options(**opts).csv(f"{out_dir}/metrics")
    lt = local_trees(model)  # built here: the model keeps only members
    if lt is not None:
        lt.write.mode("overwrite").options(**opts).csv(f"{out_dir}/local_trees")
