"""Streaming MERGE INTO the versioned snapshot store — the CDC-to-lake
shape (Debezium → Delta): each micro-batch of I/U/D change rows lands
as ONE new committed version via ``foreachBatch`` +
``merge_into_snapshot``, so the store's history IS the micro-batch
ledger: version k = state after batch k, every intermediate state
time-travel-readable forever, exactly-once per batch by the
write-data-then-commit-log ordering.

The registered run is REAL: three staged change files (inserts, then
updates, then deletes) replay one per trigger; the certified output
reads EVERY version back as-of and summarizes it — so the hash check
covers batch ordering, merge semantics per batch, and history
immutability in one table. The oracle recomputes each cumulative
state from the defining predicates.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.sources.timetravel import (
    merge_into_snapshot,
    resolve_asof_many,
    write_snapshot,
)
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await

_CUT = "1998-01-01"

_MERGE_STREAM_ORACLE = f"""
WITH pre AS (
  SELECT o_orderkey, o_orderstatus
  FROM orders WHERE o_orderdate < DATE '{_CUT}'
),
post AS (
  SELECT o_orderkey, o_orderstatus
  FROM orders WHERE o_orderdate >= DATE '{_CUT}'
),
v2 AS (SELECT * FROM pre UNION ALL SELECT * FROM post),
-- updates and deletes carry PRE-cut keys only: the post-cut inserts
-- of batch 1 are untouched by batches 2 and 3
v3 AS (
  SELECT o_orderkey, 'M' AS o_orderstatus
  FROM pre WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT * FROM pre WHERE o_orderstatus <> 'F'
  UNION ALL
  SELECT * FROM post
),
v4 AS (
  SELECT * FROM v3
  WHERE o_orderkey NOT IN
        (SELECT o_orderkey FROM pre WHERE o_orderstatus = 'P')
)
SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderstatus = 'M' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_merged FROM pre
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus = 'M' THEN 1 ELSE 0 END) AS BIGINT)
FROM v2
UNION ALL
SELECT 3, CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus = 'M' THEN 1 ELSE 0 END) AS BIGINT)
FROM v3
UNION ALL
SELECT 4, CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus = 'M' THEN 1 ELSE 0 END) AS BIGINT)
FROM v4
ORDER BY 1
"""


@register("s11_merge_into_stream", oracle=_MERGE_STREAM_ORACLE, bench=True)
def q_merge_into_stream(spark, sf_dir):
    """Streaming CDC MERGE on a REAL 3-micro-batch run: batch 1 inserts
    the post-cut orders, batch 2 flips pre-cut 'F' rows to 'M', batch 3
    deletes 'P' rows — each batch commits one snapshot version; all
    four versions read back as-of and hash-certified."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.streaming.examples import (
        stage_ordered_files,
    )

    orders = load_table(spark, sf_dir, "orders")
    pre = orders.filter(F.col("o_orderdate") < _CUT).select(
        "o_orderkey", "o_orderstatus"
    )
    base = os.path.join(tempfile.mkdtemp(prefix="mlwss_s11m_"), "orders")
    write_snapshot(pre, base, 1, "o_orderkey")

    inserts = orders.filter(F.col("o_orderdate") >= _CUT).select(
        "o_orderkey", "o_orderstatus", F.lit("I").alias("op")
    )
    updates = pre.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.lit("M").alias("o_orderstatus"), F.lit("U").alias("op")
    )
    deletes = pre.filter(F.col("o_orderstatus") == "P").select(
        "o_orderkey", "o_orderstatus", F.lit("D").alias("op")
    )

    work = os.path.dirname(base)
    stage = f"{work}/stage"
    stage_ordered_files([inserts, updates, deletes], stage)

    stream = (
        spark.readStream.schema(
            "o_orderkey long, o_orderstatus string, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def apply_batch(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        merge_into_snapshot(base, batch_df, "o_orderkey")

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)

    # one log read resolves all four as-ofs (r12, guide §1.2 — was one
    # resolve job per version over the same KB-sized log)
    resolved = resolve_asof_many(spark, base, [1, 2, 3, 4])
    parts = []
    for ver in (1, 2, 3, 4):
        snap = spark.read.parquet(os.path.join(base, f"v={resolved[ver]}"))
        parts.append(
            snap.agg(
                F.lit(ver).cast("int").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col("o_orderstatus") == "M", 1).otherwise(0)
                )
                .cast("long")
                .alias("n_merged"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")
