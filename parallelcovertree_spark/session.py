"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set cluster-side: AQE on (runtime
re-planning + skew-join splitting), Arrow transfer for every pandas UDF,
shuffle partitions sized to cores instead of the 200 default, UTC so
timestamps compare cleanly against DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Shuffle scratch on tmpfs: this sandbox's /tmp is VM disk and serializes
    # 32 concurrent shuffle writers (measured 3x on the candidates join). On a
    # real cluster this is the NVMe/SSD local-dir setting.
    "spark.local.dir": "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
    # managed-table warehouse off the repo tree (bucketed-table tests and
    # any saveAsTable user); static conf, so it must be set at session
    # build. Per-process path: a killed run's leftover table files must not
    # collide with the next run's CREATE (location-already-exists), nor two
    # concurrent runs with each other.
    "spark.sql.warehouse.dir": f"/tmp/covergrid-warehouse-{os.getpid()}",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # spatial kernels are compute-heavy per byte (distance math on 24-byte
    # rows): the 64m default advisory size coalesces post-shuffle stages to a
    # handful of tasks and caps parallelism; 16m keeps reducers ≈ cores busy
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # big Arrow batches: at 32 threads the per-batch pipe overhead dominates
    # the default 10k batches (measured 2x on a no-op mapInPandas)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "200000",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # moderate heap on purpose: a 48g heap turned G1 mixed collections into
    # multi-second random stalls (3x run-to-run variance); 16g + periodic GC
    # keeps pauses short and run times stable
    "spark.driver.memory": "16g",
    "spark.cleaner.periodicGC.interval": "30s",
    # Broadcast threshold stays at the 10m default: the spatial joins pick
    # their strategy explicitly (shuffle_hash hints on the exploded candidate
    # side — Catalyst's size estimate for a Generate is its child's, which
    # under-counts 9x and once baited a 9M-row broadcast). Genuinely small
    # dimensions (chain tails, hub maps, polygon sets) use F.broadcast().
}


def _session_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds: engine defaults, then
    ``$COVERGRID_IO_CODEC`` (read at each call), then the arguments."""
    conf = dict(_DEFAULTS)
    codec = os.environ.get("COVERGRID_IO_CODEC")
    if codec:
        conf["spark.io.compression.codec"] = codec
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    master: str | None = None,
    app_name: str = "spark-covergrid",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
