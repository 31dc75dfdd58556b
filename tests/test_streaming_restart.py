"""Checkpoint-recovery contract: a streaming query stopped and
restarted against the SAME checkpoint must (a) not reprocess already
committed micro-batches and (b) restore operator state, so keyed dedup
still admits each key exactly once across the restart boundary.

This is the process-level complement of tests/test_endless_replay.py
(which replays DATA through one continuous query): here the QUERY dies
between passes — the reference consumer's crash/redeploy scenario —
and the durable pieces are the checkpoint (offsets + state store) and a
file sink (the fault-tolerant sink class; the memory sink used by other
tests does not survive restarts by design).
"""

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

SCHEMA_DDL = "user_id bigint, event_type string, ts timestamp"
_TS0 = 1_700_000_000


def _file(stage: str, idx: int, rows: list[tuple[int, str, int]]) -> None:
    tbl = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "ts": pa.array(
                [(_TS0 + r[2]) * 1_000_000 for r in rows], pa.timestamp("us")
            ),
        }
    )
    pq.write_table(tbl, os.path.join(stage, f"b{idx:03d}.parquet"))
    t = time.time() - 1000 + idx
    os.utime(os.path.join(stage, f"b{idx:03d}.parquet"), (t, t))


_PASS1 = [
    [(1, "view", 0), (1, "click", 2), (2, "view", 4)],
    [(3, "view", 11), (2, "view", 13)],  # (2,view) dup within pass 1
]
_PASS2 = [
    # (1,view) and (3,view) duplicate PASS-1 keys -> must NOT re-emit
    # after the restart (their state lives in the checkpoint);
    # (4,view)/(2,buy) are new -> must emit exactly once.
    [(1, "view", 21), (4, "view", 23)],
    [(3, "view", 31), (2, "buy", 33)],
]
_DISTINCT_KEYS = 6  # (1,view)(1,click)(2,view)(3,view)(4,view)(2,buy)


def _run_to_completion(spark, stage: str, ckpt: str, out: str) -> None:
    stream = (
        spark.readStream.schema(SCHEMA_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.dropDuplicates(["user_id", "event_type"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(stage)

    idx = 0
    for rows in _PASS1:
        _file(stage, idx, rows)
        idx += 1
    _run_to_completion(spark, stage, ckpt, out)  # first life of the query

    first = spark.read.parquet(out)
    assert first.count() == 4  # 4 distinct keys in pass 1

    for rows in _PASS2:
        _file(stage, idx, rows)
        idx += 1
    _run_to_completion(spark, stage, ckpt, out)  # restarted query

    final = spark.read.parquet(out)
    # exactly-once across the restart: every key once, no re-emission of
    # pass-1 keys, no reprocessing of pass-1 files
    assert final.count() == _DISTINCT_KEYS
    assert final.select("user_id", "event_type").distinct().count() == (
        _DISTINCT_KEYS
    )
    # state restored, not rebuilt: the surviving row for a pass-1 key
    # carries its pass-1 event time (first arrival wins)
    row = final.filter(
        (F.col("user_id") == 1) & (F.col("event_type") == "view")
    ).collect()
    assert len(row) == 1
    assert row[0]["ts"].timestamp() == _TS0  # offset 0, not the replay's 21


def test_restart_keeps_the_checkpoint_width(spark, tmp_path):
    """The state width is fixed by the first start and kept in the
    checkpoint: a restart asking for another width keeps the first one,
    and keyed dedup still admits each key exactly once."""
    from machine_learning_with_spark_streaming_spark.streaming.tuning import (
        start_and_await,
    )

    stage, ckpt, out = (str(tmp_path / d) for d in ("stage", "ckpt", "out"))
    os.makedirs(stage)

    def run(files, partitions):
        for rows in files:
            _file(stage, len(os.listdir(stage)), rows)
        writer = (
            spark.readStream.schema(SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .dropDuplicates(["user_id", "event_type"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
        )
        q = start_and_await(writer, spark, partitions=partitions)
        return [op["numShufflePartitions"] for op in q.lastProgress["stateOperators"]]

    assert run(_PASS1, partitions=1) == [1]
    assert run(_PASS2, partitions=3) == [1]
    keys = [(r.user_id, r.event_type) for r in spark.read.parquet(out).collect()]
    assert len(keys) == len(set(keys)) == _DISTINCT_KEYS


def test_packer_cursor_survives_query_restart(spark, tmp_path):
    """The packer's (chunk, used) cursor must come back from the
    CHECKPOINTED state store when the query itself dies and restarts:
    the first doc of the second life must join the chunk the first
    life left open, and the full assignment must equal the batch walk
    — state recovery, not state rebuild."""
    import glob
    import shutil

    from machine_learning_with_spark_streaming_spark.operators.sampling import pack_token_budget_exact
    from machine_learning_with_spark_streaming_spark.streaming.stateful import streaming_packer

    stage = tmp_path / "stage"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    schema = "doc_id long, source string, n_tokens long"
    all_rows = [
        (1, "A", 300), (2, "A", 150),       # life 1: open chunk 0 at 450
        (10, "A", 50), (11, "A", 400),      # life 2: 50 joins chunk 0
    ]

    def stage_file(idx, rows):
        part = spark.createDataFrame(rows, schema)
        tmp = str(tmp_path / f"t{idx}")
        part.coalesce(1).write.parquet(tmp)
        shutil.copyfile(
            glob.glob(f"{tmp}/part-*.parquet")[0],
            str(stage / f"{idx:02d}.parquet"),
        )

    def run_life():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage))
        )
        def sink(batch_df, _id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_packer(stream, budget=512)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage_file(0, all_rows[:2])
    run_life()                      # life 1 consumes file 0, then dies
    stage_file(1, all_rows[2:])
    run_life()                      # life 2: fresh query, same checkpoint

    got = {
        r.doc_id: r.chunk_id for r in spark.read.parquet(out).collect()
    }
    batch = spark.createDataFrame(all_rows, schema)
    expect = {
        r.doc_id: r.chunk_id
        for r in pack_token_budget_exact(batch, 512, "n_tokens").collect()
    }
    assert got == expect
    assert got[10] == 0   # joined the chunk life 1 left open (450 + 50)
    assert got[11] == 1   # 400 would overflow 512 -> new chunk


def test_near_dup_ingest_index_survives_restart(spark, tmp_path):
    """The perceptual-ingest band index across a query restart: pass 1
    indexes the originals, the query dies, pass 2 arrives on the SAME
    checkpoint with a near-copy of a pass-1 asset. The committed pass-1
    batches must not reprocess (their batch_id partitions stay as
    written), and the pass-2 probe must still find the pass-1 original
    through the durable index."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq2

    from machine_learning_with_spark_streaming_spark.operators.codecs import (
        near_dup_ingest_sink,
    )

    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    idx_dir = str(tmp_path / "band_index")
    out_dir = str(tmp_path / "detections")
    os.makedirs(stage)

    base = bytes(range(10, 74))

    def afile(idx, rows):
        tbl = pa.table(
            {
                "asset_id": pa.array([r[0] for r in rows], pa.int64()),
                "payload": pa.array([r[1] for r in rows], pa.binary()),
            }
        )
        p = os.path.join(stage, f"a{idx:03d}.parquet")
        pq2.write_table(tbl, p)
        t = time.time() - 1000 + idx
        os.utime(p, (t, t))

    sink = near_dup_ingest_sink(spark, idx_dir, out_dir)

    def run():
        q = (
            spark.readStream.schema("asset_id bigint, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # pass 1: two unrelated originals
    afile(0, [(1, base)])
    afile(1, [(2, bytes(reversed(base)))])
    run()
    dets = lambda: {  # noqa: E731
        (r.asset_id, r.match_id)
        for r in spark.read.schema(
            "asset_id long, match_id long, hamming int, batch_id long"
        ).parquet(out_dir).collect()
    }
    assert dets() == set()
    idx_after_p1 = (
        spark.read.schema(
            "asset_id long, dhash long, band int, val long, batch_id long"
        ).parquet(idx_dir).count()
    )
    assert idx_after_p1 == 8  # 2 assets x 4 bands

    # query died; pass 2 arrives: a one-pixel edit of asset 1. A real
    # restart is a NEW process, so the factory is re-invoked against the
    # existing dirs — it must neither throw (errorifexists) nor wipe the
    # accumulated band index (overwrite).
    sink = near_dup_ingest_sink(spark, idx_dir, out_dir)
    afile(2, [(3, bytes([126]) + base[1:])])
    run()
    # cross-restart detection through the durable index
    assert dets() == {(3, 1)}
    # committed pass-1 batches did not reprocess: index grew by exactly
    # the new asset's bands
    idx_after_p2 = (
        spark.read.schema(
            "asset_id long, dhash long, band int, val long, batch_id long"
        ).parquet(idx_dir).count()
    )
    assert idx_after_p2 == 12

    # crash-retry idempotence: re-invoking the sink for an ALREADY
    # WRITTEN batch (the write-succeeded/commit-lost failure mode) must
    # reproduce identical detections — the probe excludes the batch's
    # own partition, so it neither self-pairs nor double-reports
    batch2 = spark.createDataFrame(
        [(3, bytes([126]) + base[1:])], "asset_id long, payload binary"
    )
    sink(batch2, 2)
    assert dets() == {(3, 1)}
    assert (
        spark.read.schema(
            "asset_id long, dhash long, band int, val long, batch_id long"
        ).parquet(idx_dir).count()
        == 12
    )


def test_jdbc_upsert_sink_retry_idempotent(spark, tmp_path):
    """Crash-retry of a batch against the Derby latest-wins sink must
    rewrite the identical table (merge is a pure function of the set of
    rows ever seen)."""
    from datetime import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from machine_learning_with_spark_streaming_spark.sources.jdbc import read_table, write_table

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    schema = "user_id long, ts timestamp, event_id long, value double"
    write_table(spark.createDataFrame([], schema), url, "t",
                mode="overwrite", properties=props)

    def sink(batch_df):
        target = read_table(spark, url, "t", properties=props)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        merged = (
            target.unionByName(batch_df)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        write_table(merged, url, "t", mode="overwrite", properties=props)

    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    b0 = spark.createDataFrame(
        [(1, t(0), 100, 1.0), (2, t(1), 101, 2.0)], schema
    )
    b1 = spark.createDataFrame(
        [(1, t(5), 102, 9.0)], schema  # newer row for user 1
    )
    sink(b0)
    sink(b1)
    snap = lambda: sorted(  # noqa: E731
        (r.user_id, r.event_id, r.value)
        for r in read_table(spark, url, "t", properties=props).collect()
    )
    after = snap()
    assert after == [(1, 102, 9.0), (2, 101, 2.0)]
    sink(b1)  # crash-retry replays the SAME batch
    assert snap() == after
