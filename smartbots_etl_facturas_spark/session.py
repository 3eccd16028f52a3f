"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every setting is chosen to also
make sense on a 1000-executor cluster reading ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting)
- Arrow on (vectorized pandas_udf / toPandas boundary)
- UTC session timezone (deterministic date/timestamp semantics,
  matching the DuckDB oracle which uses naive/UTC timestamps)
- shuffle partitions sized for the local harness; on a real cluster
  AQE coalesces from an intentionally-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "smartbots-etl-facturas-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Split parquet scans finer than the 128 MB default: the bench
        # tables are single ~100 MB files, which would otherwise scan
        # as 1-3 tasks and leave local[32] idle. 8 MB splits give the
        # scan ~2-4 tasks per core here; on a real cluster reading
        # 100 TB the file count already saturates executors and the
        # split size belongs back near 128 MB.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # Eagerly-checkpointed operators (graph rounds, skew loops,
        # curation snapshots) leave their blocks pinned until the
        # ContextCleaner sees the RDD collected by a JVM GC; the
        # default periodic-GC interval (30min) is longer than a whole
        # multi-query session here, so dead checkpoint blocks
        # accumulate in the block manager and randomly tax later
        # queries with memory pressure (measured: multi-second
        # per-query inflation late in a 225-query run, all clearing on
        # quiet reprobe). 2min keeps long sessions clean; a cluster
        # where full GCs cost more than the reclaimed headroom wants a
        # longer interval.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    return builder.getOrCreate()

