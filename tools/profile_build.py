"""Phase-level profile of the cover-tree build at bench scale.

Usage: python tools/profile_build.py [n_cpus]
Times: state init, df->blocks bounce, per-round global phase, flush bounce,
the local phase's ``members`` checkpoint — so optimization targets the
measured cost, not a guess. The per-hub local trees are not part of a build
(``local_trees(model)`` in plans/covertree.py builds them on demand), so they
are not timed.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from parallelcovertree_spark.session import get_spark


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    spark = get_spark(f"local[{cpus}]", shuffle_partitions=64)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench

    pts, n = bench.build_points(spark, sf_dir, int(os.environ.get("BENCH_SCALE", "200")))
    print(f"n={n}")

    from parallelcovertree_spark.plans import covertree as ct
    from parallelcovertree_spark.plans.covertree import build_cover_tree

    ct._TRACE = True  # phase timers

    # warm build (codegen/JIT)
    t0 = time.time()
    build_cover_tree(pts.where(F.col("id") % 10 == 3), hub_cutoff=64)
    print(f"warm build (100k): {time.time()-t0:.2f}s")

    for rep in range(2):
        t0 = time.time()
        model = build_cover_tree(pts, hub_cutoff=64)
        total = time.time() - t0
        mets = [r.asDict() for r in model.metrics.collect()]
        iters = sum(m["duration_ms"] for m in mets) / 1000.0
        print(f"rep{rep}: total={total:.2f}s  iter_sum={iters:.2f}s  "
              f"rounds={len(mets)}  (bounce+flush+members={total-iters:.2f}s)")
        for m in mets:
            print(f"  it={m['iter']:>3} hubs={m['n_hubs']:>4} "
                  f"ms={m['duration_ms']:>6} parts={m['n_partitions']}")


if __name__ == "__main__":
    main()
