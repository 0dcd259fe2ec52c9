"""Per-task Python worker set-up, read from a Spark event log.

Runs at ``local[4]`` with 16 shuffle partitions, each call under its own job
group: one warm-up kNN call (20k points), then three
``knn_join_block_kernel(k=10)`` calls on 150k geocoder points each; the kNN
kernel is the engine's Python-UDF hot path (the cover-tree build runs none,
and a routed tree query runs one only when its corpus and query set both
exceed 100k rows). Spark writes an uncompressed, non-rolling
event log into the given directory. The script then prints one JSON object:
the wall time of every call and, per job group, the per-task median, mean
and sum of Spark's Python SQL metrics ("time to start / initialize / run
Python workers") and of the executor run time, over the tasks that ran a
Python UDF.

    python tools/worker_setup_probe.py <new log dir>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallelcovertree_spark.functions import geo  # noqa: E402
from parallelcovertree_spark.operators.knn import knn_join_block_kernel  # noqa: E402
from parallelcovertree_spark.session import get_spark  # noqa: E402

PY_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


def _geo_points(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        "id", geo.x_col("id").alias("x"), geo.y_col("id").alias("y"))


def run_calls(log_dir: Path) -> dict[str, list[float]]:
    spark = get_spark(master="local[4]", shuffle_partitions=16, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": log_dir.as_uri(),
    })
    sc = spark.sparkContext
    walls: dict[str, list[float]] = defaultdict(list)

    def timed(group, fn):
        sc.setJobGroup(group, group)
        t = time.perf_counter()
        out = fn()
        walls[group].append(round(time.perf_counter() - t, 2))
        return out

    try:
        timed("warmup", lambda: knn_join_block_kernel(
            _geo_points(spark, 5_000_000, 20_000), k=10).count())
        for j in range(3):
            pts = _geo_points(spark, 1000 + j * 150_000, 150_000)
            timed("knn", lambda: knn_join_block_kernel(pts, k=10).count())
    finally:
        spark.stop()
    return dict(walls)


def fold(log_dir: Path) -> dict[str, dict[str, dict[str, float]]]:
    (log,) = [p for p in log_dir.iterdir() if p.is_file()]
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    per: dict[str, dict[str, list[int]]] = defaultdict(lambda: defaultdict(list))
    with log.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job_group[ev["Job ID"]] = props.get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                accs = {
                    a.get("Name"): int(a.get("Update", 0))
                    for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                    if a.get("Name") in PY_METRICS
                }
                if PY_METRICS[1] not in accs:
                    continue  # not a Python UDF task
                g = job_group[stage_job[ev["Stage ID"]]]
                for name in PY_METRICS:
                    per[g][name].append(accs.get(name, 0))
                run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                per[g]["executor run time"].append(run_ms)
    return {
        g: {
            name: {
                "tasks": len(v),
                "median_ms": statistics.median(v),
                "mean_ms": round(statistics.mean(v), 1),
                "sum_s": round(sum(v) / 1e3, 2),
            }
            for name, v in metrics.items()
        }
        for g, metrics in per.items()
    }


def main() -> None:
    log_dir = Path(sys.argv[1]).resolve()
    log_dir.mkdir(parents=True)
    walls = run_calls(log_dir)
    print(json.dumps({"walls_s": walls, "per_task": fold(log_dir)}, indent=1))


if __name__ == "__main__":
    main()
