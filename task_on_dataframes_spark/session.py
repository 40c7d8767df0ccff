"""SparkSession factory with scale-appropriate defaults.

Tests and the driver run on ``local[N]``, but every setting here is
chosen to also hold on a multi-executor cluster: AQE re-plans at
runtime (partition coalescing, skew-join splitting), broadcast joins
keep dimension tables off the shuffle, and Arrow makes the
Pandas-UDF escape hatch batch-columnar instead of per-row.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(32g, ~half of physical RAM), so heavy local-mode queries get
    a contained JVM limit instead of the OS OOM killer on small hosts.
    Falls back to 32g when /proc/meminfo is unavailable;
    SPARK_DRIVER_MEMORY overrides."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal"):
                    half_gib = int(line.split()[1]) // (1 << 20) // 2
                    return f"{max(2, min(32, half_gib))}g"
    except OSError:
        pass
    return "32g"


def get_spark(
    app_name: str = "task_on_dataframes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    # scan-split size: the default 128m is right at cluster scale; for
    # small benchmark SFs callers pass a smaller value so single-file
    # tables still split across cores (see bench.py)
    max_partition_bytes = max_partition_bytes or os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join handling — the
        # levers that keep plans healthy when data is 1000x bigger
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # dimension tables (region/nation/customer/supplier/part at any
        # SF's dim scale) should broadcast, not shuffle
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        # Arrow batches for any pandas_udf / applyInPandas path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ui.retainedExecutions", "10")
        # the JVM-wide cache of Janino-compiled codegen classes must hold
        # every class a warm engine re-runs, or a cyclic workload evicts
        # each class before its next use and recompiles it every run: the
        # six perfbench `batch` queries alone generate 113 classes, past
        # the default 100 (a Guava LRU in 4 segments of ~25), so ~85 were
        # recompiled per warm pass; 1000 gives ~250 per segment
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local-mode heap = the whole "cluster", so it is sized to the
        # host (min(32g, half of physical RAM)): a fixed small heap
        # OOMs large component graphs on a big host, and a fixed large
        # one on a small host trades a contained JVM limit for the OS
        # OOM killer — as a real deployment sizes executor memory to
        # the workload
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
