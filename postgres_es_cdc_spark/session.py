"""SparkSession factory with scale-appropriate defaults.

The reference loads its runtime config from ``.env`` (utils.go:119-165);
our equivalent knobs are Spark confs. Defaults here are tuned so the same
logical plans work on local[32] test runs and would survive a 1000-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), explicit shuffle parallelism, UTC session time, Arrow for any
pandas exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    # Adaptive execution: coalesce tiny shuffle partitions, split skewed
    # ones, switch sort-merge->broadcast at runtime. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / toPandas round-trips.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB input splits — the parquet-scan parallelism knob.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Partial aggregation pushed into the scan stage where possible.
    "spark.sql.parquet.aggregatePushdown": "true",
    # local[N] only: localCheckpoint materialization counts block
    # transfers against driver.maxResultSize, and the 1g default fails
    # a legitimately large memoized frame (the sf10 123M-row candidate
    # pair list, ~2 GB, found by the 100x sweep). On a real cluster
    # local checkpoints live on executors and never cross this limit;
    # in local mode the driver IS the executor, so size the cap with
    # the heap. Applied at JVM launch only, like driver.memory.
    "spark.driver.maxResultSize": "8g",
    # On (PySpark's default), every DataFrame/Column call records its
    # Python call site for error context over py4j: one F.col costs
    # ~13 JVM round trips, ~3 with it off (PySpark 4.1). The streaming
    # sinks build their plans from Column calls every micro-batch: a
    # 600-message WAL batch through WalStreamApply + TxnUpsertSink made
    # ~4,500 round trips with it on and ~1,900 off. Errors still name
    # the failing expression; they lose only the Python line that
    # built it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# local[N] runs the whole engine in the driver JVM; Spark's 1g default
# heap starves 32 concurrent tasks (observed: triangle counting OOMs at
# sf0.1). Sized for the 128 GiB test box; a real cluster sets executor
# memory instead. Applied only at JVM launch — getOrCreate on a live
# session ignores it, same as any driver-memory setting.
DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")


def get_spark(app_name: str = "postgres-es-cdc-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores;
    ``shuffle_partitions`` defaults to the core count (right-sized for
    local runs; a real cluster would set this to ~2-3x total cores or rely
    on AQE coalescing from a higher initial value).
    """
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(cpus_env) if cpus_env else None
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (SparkSession.builder.appName(app_name).master(master)
               .config("spark.driver.memory", DRIVER_MEMORY))
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus or 32)
    )
    return builder.getOrCreate()
