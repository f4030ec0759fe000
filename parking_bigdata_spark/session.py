"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same configuration keys are what
you would set on a real cluster (AQE on, Arrow on, sensible shuffle
parallelism). Nothing here is local-mode-specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_mem_total() -> str:
    """Default driver heap: half of the host's MemTotal, so the JVM's
    off-heap memory and the Python workers still fit beside it."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 2048}m"  # kB -> MB / 2
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(app_name: str = "parking_bigdata_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE enabled: runtime coalescing, skew-join splitting, dynamic
      broadcast decisions survive a 100x scale-up better than static plans.
    - Arrow enabled: any Pandas-UDF path moves data in columnar batches.
    - UTC session timezone: timestamp semantics match the DuckDB oracle.
    - Host-sized defaults: ``local[N]`` over the CPUs this process may
      run on and a driver heap of half of MemTotal, unless
      ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` say otherwise.
    """
    cpus = (os.environ.get("SPARK_GRAFT_CPUS")
            or str(len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # whole-stage-codegen cache: the default 100 entries thrashes on
        # a 200+-query workload (bench measured rf_holdout_metrics
        # oscillating 7 s / 14 s run-to-run purely on cache eviction of
        # its data-dependent forest CASE codegen). 2000 entries keeps
        # every plan of a full registry sweep compiled once; metaspace
        # cost is tens of MB — negligible against executor memory.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Arrow batch size for the pandas-UDF kernels: 50k rows per
        # batch A/B-measured 10-28% faster than the 10k default on the
        # GEMM paths (dedup_embedding 4.11→3.39 s, ann_ivf 1.70→1.23,
        # kmeans 2.14→1.92, multimodal 0.63→0.45 at sf0.1) — fewer
        # Arrow transfers, larger matrix ops. Memory: 50k × 64-dim
        # doubles ≈ 25 MB/batch/task; binary-heavy pipelines (KB-sized
        # payloads ⇒ ~100-200 MB/batch) should lower this per-session.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark rejects by default; read as long and convert in io.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamps without the UTC flag must scan as TIMESTAMP, not NTZ
        # (time functions + streaming windows take TIMESTAMP; UTC session
        # tz keeps the instants identical to the naive oracle values)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 (the legacy default) writes NO column statistics, killing
        # min/max row-group pruning on timestamp sort keys at scale
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_mem_total())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
