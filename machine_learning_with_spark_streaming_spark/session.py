"""SparkSession factory.

One place to encode the engine's execution posture:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — replaces the reference's manual query sharding
  (7 x 6-month DAX extracts, ``PowerShell script/FCST_DemandNonBlank1.ps1:24``).
- Arrow on for any pandas interchange (Pandas UDFs, ``toPandas``).
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster this is overridden (or left to AQE coalescing from a high initial).
- UTC session timezone so timestamp semantics match the DuckDB oracle.

Two more lines apply to a local master only, where the package and the
checkpoint directories are on the driver's own disk:

- Stream checkpoints (offset and commit logs, file-source and file-sink
  logs, state deltas) go through Spark's ``FileSystem``-based checkpoint
  manager. The default ``FileContext`` one looks up the link status of
  both ends of every rename, data file and ``.crc`` alike, and without a
  native Hadoop library each lookup forks a ``readlink``: 184 forks per
  benchmark stream op, 0 with this manager. It is safe because on the
  local file system ``FileSystem.rename`` is rename(2), which is atomic
  and replaces the target, so a reader still sees a whole file or none;
  ``.crc`` and state checksum files are still written and verified.
- Python workers start from ``pyworker`` (``spark.python.daemon.module``),
  which re-reads a zip archive's directory only when the archive's stat
  changed, instead of on every task (a Python task's worker CPU went
  from about 0.21 to 0.03 s). It is safe because an archive with the
  same mtime, size and inode has the same directory, and a rewritten or
  missing one takes the stock path. The package's parent directory goes
  on the workers' ``PYTHONPATH`` so the daemon imports from any working
  directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    if master.startswith("local"):
        builder = (
            builder.config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
            .config("spark.python.daemon.module", f"{__package__}.pyworker")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
