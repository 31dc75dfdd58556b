"""SparkSession factory.

One place to encode the engine's execution posture:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — replaces the reference's manual query sharding
  (7 x 6-month DAX extracts, ``PowerShell script/FCST_DemandNonBlank1.ps1:24``).
- Arrow on for any pandas interchange (Pandas UDFs, ``toPandas``).
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster this is overridden (or left to AQE coalescing from a high initial).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 16g: the rest is left to
    Python workers and off-heap buffers, which matters on a host without
    swap."""
    phys_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    return f"{min(16 << 10, phys_mb // 2)}m"


def get_session(
    app_name: str = "machine_learning_with_spark_streaming_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    local runs; pass explicitly (or pre-create the session) on a cluster.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
