"""The local-master posture of ``session.get_session``: Python workers
start from the package's daemon, and stream checkpoints are written through
the ``FileSystem``-based manager, whose renames leave no temp files."""

from __future__ import annotations

import os
import sys

from machine_learning_with_spark_streaming_spark import pyworker, session
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await


def test_python_worker_runs_the_package_daemon(spark):
    def probe(batches):
        import sys as wsys
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {
                    "module": [zipimport.zipimporter.invalidate_caches.__module__],
                    "path": [os.pathsep.join(wsys.path)],
                    "env": [os.environ.get("PYTHONPATH", "")],
                }
            )

    schema = "module string, path string, env string"
    row = spark.range(1).mapInPandas(probe, schema).collect()[0]
    if sys.version_info < (3, 12):
        assert row.module == pyworker.__name__
    # from the environment, not the working directory: the daemon must
    # import however the driver was started
    assert session._PACKAGE_PARENT in row.env.split(os.pathsep)
    assert session._PACKAGE_PARENT in row.path.split(os.pathsep)


def test_checkpoint_renames_leave_no_temp_files(spark, tmp_path):
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    src = tmp_path / "in"
    for i in range(3):
        batch = spark.range(i * 50, (i + 1) * 50).selectExpr("id", "id % 7 AS k")
        batch.coalesce(1).write.mode("append").parquet(str(src))
    ckpt = tmp_path / "ckpt"
    writer = (
        spark.readStream.schema("id long, k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("posture_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
    )
    start_and_await(writer, spark)
    counts = {r.k: r["count"] for r in spark.table("posture_counts").collect()}
    assert counts == {k: len(range(k, 150, 7)) for k in range(7)}

    names = {
        sub: [f for _, _, files in os.walk(ckpt / sub) for f in files]
        for sub in ("offsets", "commits", "sources", "state")
    }
    assert all(names.values()), names
    leftovers = [f for fs in names.values() for f in fs if f.endswith((".tmp", ".tmp.crc"))]
    assert leftovers == []
    # every committed batch keeps its checksum file
    assert {"0", "1", "2", ".0.crc", ".1.crc", ".2.crc"} <= set(names["commits"])
