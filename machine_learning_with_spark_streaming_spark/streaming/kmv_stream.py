"""Streaming KMV distinct-count — a mergeable sketch as micro-batch
state, certified batching-invariant.

The 100 TB streaming problem: "distinct users per event type so far"
needs the full id set as state if computed exactly — state grows with
the stream. The KMV sketch (operators/kmv.py) is the bounded-state
answer: per key, keep the k smallest id hashes; merging a new
micro-batch is union + re-rank ≤ k, so state is |keys|·k rows FOREVER
and the running estimate is always available.

Certification leans on k-min composability: the merged state after
batches 1..b EQUALS the batch-mode sketch of those batches' union —
the final table is a pure function of the INPUT SET, not the batch
boundaries. The registered run is REAL (4 staged micro-batches through
``foreachBatch``, state persisted per version); the oracle recomputes
each prefix's sketch from scratch in DuckDB, so the hash certifies the
cross-batch merge path exactly — any state-merge bug (dropped key,
re-rank off-by-one, double-counted hash) breaks it.

Batches split events by ``event_id % 4`` (a deterministic,
replay-stable partition both engines can name), NOT by time — the
point is that ANY batching yields the same state.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.kmv import (
    K,
    M,
    SALT,
    _est,
    kmv_merge,
    kmv_sketch,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await

_NB = 4  # staged micro-batches


_KMV_STREAM_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type AS key,
         event_id % {_NB} AS part,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '{SALT}'), 1, 15))::BIGINT
           % {M} AS h
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
),
b(b) AS (VALUES (1), (2), (3), (4)),
pre AS (
  SELECT DISTINCT b.b, h.key, h.h FROM h JOIN b ON h.part < b.b
),
r AS (
  SELECT b, key, h,
         row_number() OVER (PARTITION BY b, key ORDER BY h) AS rn
  FROM pre
),
s AS (
  SELECT b, key, count(*) AS cnt, max(h) AS kth
  FROM r WHERE rn <= {K} GROUP BY 1, 2
)
SELECT CAST(b AS BIGINT) AS version, key,
       CAST(cnt AS BIGINT) AS sketch_rows,
       CAST(CASE WHEN cnt < {K} THEN cnt
                 ELSE ({K - 1} * {M}) // kth END AS BIGINT) AS est_users
FROM s
ORDER BY 1, 2
"""


@register("s11_kmv_distinct_stream", oracle=_KMV_STREAM_ORACLE, bench=True)
def q_kmv_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4-micro-batch run: each batch's KMV partial merges into the
    persisted |keys|·k-row state; every post-batch state is kept as a
    version and the per-version running estimates are hash-certified
    against DuckDB recomputing each prefix sketch from scratch."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    )
    parts = [
        events.filter(F.col("event_id") % _NB == i).select(
            "event_id", "event_type", "user_id"
        )
        for i in range(_NB)
    ]
    work = tempfile.mkdtemp(prefix="mlwss_s11kmv_")
    stage = os.path.join(work, "stage")
    from machine_learning_with_spark_streaming_spark.streaming.examples import (
        stage_ordered_files,
    )

    stage_ordered_files(parts, stage)

    state_dir = os.path.join(work, "state")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sk = kmv_sketch(batch_df, "event_type", "user_id").select(
            F.col("key"), "h"
        )
        prev = os.path.join(state_dir, f"v={batch_id}")
        if os.path.isdir(prev):
            sk = sk.unionByName(
                batch_df.sparkSession.read.parquet(prev)
            )
        merged = kmv_merge(sk, ["key"])
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v={batch_id + 1}")
        )

    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)

    outs = []
    for ver in range(1, _NB + 1):
        st = spark.read.parquet(os.path.join(state_dir, f"v={ver}"))
        outs.append(
            st.groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("kth"))
            .select(
                F.lit(ver).cast("long").alias("version"),
                "key",
                F.col("cnt").cast("long").alias("sketch_rows"),
                _est(F.col("cnt"), "kth", K).cast("long").alias("est_users"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("version", "key")
