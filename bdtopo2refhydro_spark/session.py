"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs here stand in for cluster submit conf; the same settings go
in spark-submit --conf for the multi-executor path (BASELINE.md). AQE is on
for runtime skew-join splitting and partition coalescing (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spark_conf(
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> dict:
    """The conf get_spark builds its session from: ``cores`` (default
    $SPARK_GRAFT_CPUS, else 32) sets the local master, and the shuffle
    width is ``shuffle_partitions`` when given, else ``cores`` when that is
    a number, else 32. ``extra_conf`` entries override the defaults."""
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or (
        int(cores) if str(cores).isdigit() else 32)
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        # shuffle/spill scratch on tmpfs when available: on a cluster each
        # executor gets node-local SSD via spark.local.dir / YARN dirs; this
        # box's /tmp is one virtual disk shared by all 32 threads and
        # serializes shuffle I/O (measured: all phases cap near 5x at 16
        # cores with /tmp, disk-bound not CPU-bound)
        "spark.local.dir": os.environ.get(
            "SPARK_LOCAL_DIRS",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # iterative traversals localCheckpoint() every round; the blocks of
        # superseded rounds are only released when the driver GCs (Spark's
        # ContextCleaner is GC-driven) and the default periodic GC is 30min.
        # Left alone, a 12-round BFS leaves hundreds of orphaned cached
        # blocks that slow every subsequent job ~15x (measured). 30s keeps
        # long-running sessions healthy at negligible cost.
        "spark.cleaner.periodicGC.interval": "30s",
    }
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "bdtopo2refhydro_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    for k, v in spark_conf(cores, shuffle_partitions, extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
