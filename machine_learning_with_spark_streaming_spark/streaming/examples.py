"""Registered queries for streaming semantics, run in batch mode over the
``events`` table so the DuckDB oracle can check them (stream-batch parity
— same expressions — is proven in tests/test_streaming.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.streaming.pipeline import windowed_event_aggregate
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await


def stage_ordered_files(parts, out_dir: str) -> str:
    """Write each DataFrame in ``parts`` as ONE parquet file named
    ``00.parquet``, ``01.parquet``, ... under ``out_dir``. Sequential
    writes give monotonically increasing mtimes AND lexicographic
    names, so the file stream source replays them in list order — the
    ordered-ingest contract every multi-micro-batch certification run
    here relies on. Shared by the left-outer join, streaming packer,
    and streaming ingest-dedup queries (and their tests)."""
    import glob
    import os
    import shutil
    import tempfile
    from functools import reduce

    os.makedirs(out_dir, exist_ok=True)
    # r11 (guide §1.2): ONE partitioned write job stages every file —
    # the per-part loop ran len(parts) sequential jobs, each re-scanning
    # the shared upstream (measured ~0.3-0.5 s/job of scan+schedule
    # overhead at sf0.1). Tag each part with its index, union, hash-
    # repartition on the index (all rows of one index land in one task,
    # so each partition directory holds exactly one file), write with
    # partitionBy (which also strips the tag column from the data), then
    # copy into the ordered names SEQUENTIALLY — lexicographic names and
    # monotone mtimes are preserved, so the file-source replay order
    # contract is unchanged.
    import time as _time

    tmp = tempfile.mkdtemp(prefix="mlwss_stage_")
    tagged = [p.withColumn("__stage_idx", F.lit(i)) for i, p in enumerate(parts)]
    unioned = reduce(lambda a, b: a.unionByName(b), tagged)
    unioned.repartition(len(parts), "__stage_idx").write.mode(
        "overwrite"
    ).partitionBy("__stage_idx").parquet(tmp)
    # The one-job write makes the per-file copies land microseconds
    # apart; FileStreamSource orders files by MODIFICATION TIME, so tied
    # mtimes would scramble replay order (the slow per-part writes used
    # to space them out by accident). Stamp explicit strictly-increasing
    # mtimes, one second apart, so the ordered-ingest contract holds by
    # construction rather than by write latency.
    t0 = _time.time() - len(parts)
    for i, part in enumerate(parts):
        dst = os.path.join(out_dir, f"{i:02d}.parquet")
        src = glob.glob(os.path.join(tmp, f"__stage_idx={i}", "part-*.parquet"))
        if src:
            shutil.copyfile(src[0], dst)
        else:
            # empty part produced no directory: write its (empty) file
            # the old way so downstream still sees one file per part
            t2 = tempfile.mkdtemp(prefix="mlwss_stage_")
            part.coalesce(1).write.mode("overwrite").parquet(t2)
            shutil.copyfile(
                glob.glob(os.path.join(t2, "part-*.parquet"))[0], dst
            )
            shutil.rmtree(t2, ignore_errors=True)
        os.utime(dst, (t0 + i, t0 + i))
    shutil.rmtree(tmp, ignore_errors=True)
    return out_dir

_S11_TUMBLING_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("s11_tumbling_window", oracle=_S11_TUMBLING_ORACLE)
def q_tumbling_window(spark, sf_dir):
    """§2.10: tumbling 1h event-time window by event type (the engine's
    event-time superset of the reference's processing-time batches)."""
    events = load_table(spark, sf_dir, "events")
    return windowed_event_aggregate(events, "1 hour").orderBy(
        "window_start", "event_type"
    )


_S11_SLIDING_ORACLE = """
WITH contrib AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, value FROM events
  UNION ALL
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR AS window_start, value
  FROM events
)
SELECT window_start, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS value_sum
FROM contrib
GROUP BY 1 ORDER BY 1
"""


@register("s11_sliding_window", oracle=_S11_SLIDING_ORACLE)
def q_sliding_window(spark, sf_dir):
    """§2.10: sliding 2h/1h window — each event lands in two windows."""
    events = load_table(spark, sf_dir, "events")
    return (
        windowed_event_aggregate(events, "2 hours", slide="1 hour", keys=[])
        .orderBy("window_start")
    )


_S11_JSON_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS value_sum
FROM events
GROUP BY 1 ORDER BY 1
"""


@register("s11_json_props_extract", oracle=_S11_JSON_ORACLE)
def q_json_props(spark, sf_dir):
    """§2.10/F-json: JSON payload field extraction (the streaming payload
    is JSON text; ``from_json``/``get_json_object`` replace the producer's
    ``json.loads``, Dataset/stream.py:65,194)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k_bucket",
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("k_bucket")
    )


_S11_DEDUP_ORACLE = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_first_events
FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
GROUP BY 1 ORDER BY 1
"""


@register("s11_stream_dedup", oracle=_S11_DEDUP_ORACLE)
def q_stream_dedup(spark, sf_dir):
    """§2.10: keyed dedup — first event per (user, type) by event time
    (the batch analog of dropDuplicatesWithinWatermark)."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_first_events"))
        .orderBy("user_id")
    )


_S11_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS value_sum
FROM sess GROUP BY user_id, sess_id ORDER BY 1, 2
"""


@register("s11_session_window", oracle=_S11_SESSION_ORACLE)
def q_session_window(spark, sf_dir):
    """§2.10: gap-based session windows per user (30 min gap). The oracle
    reproduces Spark's session semantics with lag + cumulative-flag
    sessionization: a gap >= the timeout starts a new session (session
    windows are half-open [start, last_ts + gap))."""
    from machine_learning_with_spark_streaming_spark.streaming.pipeline import sessionized_aggregate

    events = load_table(spark, sf_dir, "events")
    return (
        sessionized_aggregate(events, gap="30 minutes")
        .select("user_id", "session_start", "n_events", "value_sum")
        .orderBy("user_id", "session_start")
    )


_S11_STATEFUL_ORACLE = """
SELECT event_type AS key,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS value_sum
FROM events GROUP BY 1 ORDER BY 1
"""


@register("s11_stateful_running_totals", oracle=_S11_STATEFUL_ORACLE)
def q_stateful_running_totals(spark, sf_dir):
    """§2.10 stateful: a REAL multi-batch ``applyInPandasWithState`` run.

    The events table is staged as 4 parquet files and streamed with
    ``maxFilesPerTrigger=1`` (availableNow), so per-key (count, sum)
    state genuinely carries across 4 micro-batches through the state
    store. The final emitted totals per key must equal the batch
    aggregate (the oracle) — certifying the custom stateful operator's
    cross-batch accumulation, not just its plumbing.
    """
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window

    from machine_learning_with_spark_streaming_spark.streaming.stateful import running_totals

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="mlwss_stateful_")
    stage, ckpt = f"{work}/stage", f"{work}/ckpt"
    events.select("event_type", "value").repartition(4).write.parquet(stage)

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    sink = f"stateful_totals_{uuid.uuid4().hex[:8]}"
    q = (
        running_totals(stream, "event_type", "value")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    # update-mode sink holds one row per (key, batch-with-updates); the
    # final state per key is the row with the highest running count.
    mem = spark.table(sink).localCheckpoint(eager=True)  # detach from sink
    spark.catalog.dropTempView(sink)  # free the sink's materialized copy
    shutil.rmtree(work, ignore_errors=True)
    w = Window.partitionBy("key").orderBy(F.col("n_events").desc())
    return (
        mem.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", "n_events", F.round("value_sum", 6).alias("value_sum"))
        .orderBy("key")
    )


@register("s11_tumbling_window_stream", oracle=_S11_TUMBLING_ORACLE, bench=True)
def q_tumbling_window_stream(spark, sf_dir):
    """§2.10: the tumbling-window aggregate as a REAL 4-micro-batch
    stream (not the batch-mode parity form of ``s11_tumbling_window``).

    Events stream file-by-file in arbitrary time order, so window state
    accumulates across batches in the state store; the final update per
    (window, key) must equal the batch aggregate (the same oracle as the
    batch-mode query). No watermark here — batches aren't time-ordered,
    so any finite watermark would legitimately drop "late" rows;
    late-drop semantics are exercised in tests/test_streaming.py.
    """
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="mlwss_winstream_")
    stage, ckpt = f"{work}/stage", f"{work}/ckpt"
    events.select("ts", "event_type", "value").repartition(4).write.parquet(stage)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    sink = f"win_stream_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_event_aggregate(stream, "1 hour", watermark=None)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        mem.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("window_start", "event_type", "n_events", "value_sum")
        .orderBy("window_start", "event_type")
    )


_S11_DEDUP_STREAM_ORACLE = """
SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_first_events
FROM events
WHERE user_id IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


@register("s11_stream_dedup_stream", oracle=_S11_DEDUP_STREAM_ORACLE)
def q_stream_dedup_stream(spark, sf_dir):
    """§2.10: keyed streaming dedup as a REAL 4-micro-batch run.

    ``dropDuplicates`` on the stream keeps exact per-key state across
    batches and emits each (user, event_type) key once, on first
    arrival; counting emitted rows per user must equal the batch count
    of distinct event types per user (the oracle). Which physical row
    represents a key depends on batch order, so only key-level outputs
    are certified — the unbounded-state exact form is used here because
    batches stream in arbitrary time order (the watermarked
    ``dropDuplicatesWithinWatermark`` variant, which bounds state and
    legitimately re-admits keys after expiry, is exercised in
    tests/test_streaming.py).
    """
    import shutil
    import tempfile
    import uuid

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="mlwss_dedupstream_")
    stage, ckpt = f"{work}/stage", f"{work}/ckpt"
    # NULL-key guard (mirrored in the oracle's WHERE): dropDuplicates
    # treats NULL as a key value and would emit a row for it, while
    # count(DISTINCT ...) ignores NULLs — the two would diverge if a
    # testdata regeneration ever produced NULL user_id/event_type.
    events.select("user_id", "event_type").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).repartition(4).write.parquet(stage)

    stream = (
        spark.readStream.schema("user_id bigint, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    sink = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.dropDuplicates(["user_id", "event_type"])
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return (
        mem.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_first_events"))
        .orderBy("user_id")
    )


_IJ_STREAM_ORACLE = """
SELECT CAST(l.event_id AS BIGINT) AS click_id,
       CAST(r.event_id AS BIGINT) AS error_id,
       CAST(l.user_id AS BIGINT) AS user_id
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts
 AND r.ts <= l.ts + INTERVAL 21600 SECONDS
WHERE l.event_type = 'click' AND r.event_type = 'error'
ORDER BY 1, 2
"""


@register("s11_interval_join_stream", oracle=_IJ_STREAM_ORACLE)
def q_interval_join_stream(spark, sf_dir):
    """§2.10: stream-stream event-time interval join as a REAL
    multi-batch run — clicks and errors stream as separate 3-file
    sources, the join buffers both sides in the state store, and every
    (click, error-within-6h) pair must surface exactly once regardless
    of which batch each side of the pair arrived in.

    No watermark (inner join; batches are not time-ordered, so a finite
    watermark would drop legitimately matching rows) — the unbounded
    exact form; the bounded watermarked form is exercised in
    tests/test_streaming.py. Oracle = the identical stateless batch
    join.
    """
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="mlwss_ijstream_")
    l_stage, r_stage, ckpt = f"{work}/l", f"{work}/r", f"{work}/ckpt"
    events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    ).repartition(3).write.parquet(l_stage)
    events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id"),
        F.col("ts").alias("error_ts"),
    ).repartition(3).write.parquet(r_stage)

    l_stream = (
        spark.readStream.schema("click_id bigint, user_id bigint, click_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(l_stage)
    )
    r_stream = (
        spark.readStream.schema("error_id bigint, user_id bigint, error_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(r_stage)
    )
    joined = stream_stream_interval_join(
        l_stream,
        r_stream,
        key="user_id",
        left_time="click_ts",
        right_time="error_ts",
        lower_sec=0,
        upper_sec=21600,
        watermark=None,
    )
    sink = f"ij_stream_{uuid.uuid4().hex[:8]}"
    q = (
        joined.select("click_id", "error_id", "user_id")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return mem.orderBy("click_id", "error_id")


_UPSERT_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, ts, value, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       event_type,
       ts AS latest_ts,
       round(value, 6) AS latest_value,
       CAST(event_id AS BIGINT) AS latest_event_id
FROM ranked WHERE rn = 1
ORDER BY user_id, event_type
"""


@register("s11_upsert_latest_stream", oracle=_UPSERT_ORACLE)
def q_upsert_latest_stream(spark, sf_dir):
    """K4 upsert as a REAL 4-micro-batch foreachBatch run: each batch
    merges into a latest-wins keyed parquet table (SCD-1 MERGE shape,
    ``foreach_batch_upsert_latest``). Because max over (ts, event_id)
    is order-independent, the final table must equal the whole-input
    latest-per-key oracle no matter how rows were split into batches.
    """
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.streaming.pipeline import (
        foreach_batch_upsert_latest,
    )

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="mlwss_upsert_")
    stage, ckpt, target = f"{work}/stage", f"{work}/ckpt", f"{work}/target"
    events.select("event_id", "ts", "user_id", "event_type", "value").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).repartition(4).write.parquet(stage)

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_upsert_latest(
                target, pk=["user_id", "event_type"], order_cols=["ts", "event_id"]
            )
        )
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    out = (
        spark.read.parquet(target)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("latest_ts"),
            F.round("value", 6).alias("latest_value"),
            F.col("event_id").alias("latest_event_id"),
        )
        .orderBy("user_id", "event_type")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


_STREAM_STATIC_ORACLE = """
SELECT c.c_mktsegment AS segment, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2) AS value_sum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("s11_stream_static_join_stream", oracle=_STREAM_STATIC_ORACLE)
def q_stream_static_join_stream(spark, sf_dir):
    """§2.10/J2 on a stream: dimension enrichment of a REAL 4-micro-
    batch event stream via a stream-static join (the static customer
    dim broadcasts into every micro-batch — no state store involved;
    Catalyst plans each batch like the batch join), aggregated in
    complete mode. Oracle = the stateless batch join + rollup.

    The scale contract: the stream side never shuffles for the join
    (broadcast dim), and state exists only for the aggregation — the
    standard shape for keyed stream enrichment at 100 TB/day ingest.
    """
    import shutil
    import tempfile
    import uuid

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    work = tempfile.mkdtemp(prefix="mlwss_streamstatic_")
    stage, ckpt = f"{work}/stage", f"{work}/ckpt"
    events.select("user_id", "event_type", "value").repartition(4).write.parquet(
        stage
    )
    stream = (
        spark.readStream.schema("user_id bigint, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    joined = stream.join(
        F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
    )
    agg = joined.groupBy(
        F.col("c_mktsegment").alias("segment"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )
    sink = f"stream_static_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return mem.orderBy("segment", "event_type")


def _stage_click_error_streams(spark, sf_dir, work, range_sec):
    """Shared staging for the outer stream-stream join queries: clicks
    and errors each staged as 3 time-bucketed files in event-time order
    (so no batch's rows fall behind the running watermark) plus a
    key=-1 sentinel file per side whose timestamp pushes the final
    watermark past every real row + the join range — the flush that
    lets buffered unmatched rows receive their null verdict. Returns
    (click_stream, error_stream), one file per micro-batch."""
    import os
    from datetime import timedelta

    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    # watermark must outrun every real row plus the join range before the
    # run ends; +2h margin over range + delay
    sentinel_ts = hi + timedelta(seconds=range_sec + 3 * 3600)

    def stage(df, ts_col: str, side: str) -> str:
        parts = []
        for i in range(3):
            b_lo = lo + span * i
            b_hi = hi if i == 2 else lo + span * (i + 1)
            cond = (F.col(ts_col) >= F.lit(b_lo)) & (
                (F.col(ts_col) <= F.lit(b_hi)) if i == 2 else (F.col(ts_col) < F.lit(b_hi))
            )
            parts.append(df.filter(cond))
        parts.append(  # the watermark-flush sentinel rides as the last file
            spark.createDataFrame(
                [(-1, -1, sentinel_ts)],
                f"{df.columns[0]} bigint, user_id bigint, {ts_col} timestamp",
            )
        )
        return stage_ordered_files(parts, os.path.join(work, side))

    l_dir = stage(clicks, "click_ts", "l")
    r_dir = stage(errors, "error_ts", "r")
    l_stream = (
        spark.readStream.schema("click_id bigint, user_id bigint, click_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(l_dir)
    )
    r_stream = (
        spark.readStream.schema("error_id bigint, user_id bigint, error_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(r_dir)
    )
    return l_stream, r_stream


_LOJ_STREAM_ORACLE = """
SELECT CAST(l.event_id AS BIGINT) AS click_id,
       CAST(r.event_id AS BIGINT) AS error_id,
       CAST(l.user_id AS BIGINT) AS user_id
FROM (SELECT * FROM events WHERE event_type = 'click') l
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts
 AND r.ts <= l.ts + INTERVAL 21600 SECONDS
ORDER BY 1, 2
"""


@register("s11_left_outer_join_stream", oracle=_LOJ_STREAM_ORACLE)
def q_left_outer_join_stream(spark, sf_dir):
    """§2.10: stream-stream LEFT OUTER interval join as a REAL
    multi-batch run — the hard half of outer joins on streams: a
    null-extended row for an unmatched click may only be emitted once
    the watermark PROVES no matching error can still arrive, so this
    exercises watermark-driven state eviction end to end.

    Determinism recipe: each side is staged as 3 time-bucketed files in
    event-time order (so every batch's rows sit above the previous
    batch's watermark — nothing is dropped as late, and a buffered
    click is never evicted while a future file could still hold its
    match), plus a key=-1 sentinel file per side whose timestamp pushes
    the final watermark past every real row — without it, clicks inside
    the last watermark window would never get their null verdict. The
    closing no-data batch then flushes every remaining unmatched click.
    Oracle = the identical stateless batch LEFT JOIN.
    """
    import os
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    range_sec = 21600  # 6h match window
    wm = "1 hour"

    work = tempfile.mkdtemp(prefix="mlwss_lojstream_")
    l_stream, r_stream = _stage_click_error_streams(spark, sf_dir, work, range_sec)
    joined = stream_stream_interval_join(
        l_stream,
        r_stream,
        key="user_id",
        left_time="click_ts",
        right_time="error_ts",
        lower_sec=0,
        upper_sec=range_sec,
        watermark=wm,
        how="left_outer",
    )
    sink = f"loj_stream_{uuid.uuid4().hex[:8]}"
    q = (
        joined.select("click_id", "error_id", "user_id")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).filter(F.col("user_id") >= 0).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return mem.orderBy("click_id", "error_id")


_FOJ_STREAM_ORACLE = """
SELECT CAST(l.event_id AS BIGINT) AS click_id,
       CAST(r.event_id AS BIGINT) AS error_id,
       CAST(coalesce(l.user_id, r.user_id) AS BIGINT) AS user_id
FROM (SELECT * FROM events WHERE event_type = 'click') l
FULL JOIN (SELECT * FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts
 AND r.ts <= l.ts + INTERVAL 21600 SECONDS
ORDER BY 1, 2
"""


@register("s11_full_outer_join_stream", oracle=_FOJ_STREAM_ORACLE)
def q_full_outer_join_stream(spark, sf_dir):
    """§2.10: stream-stream FULL OUTER interval join as a REAL
    multi-batch run — the one join mode the streaming family lacked
    through r9. Both directions of the null-extension are
    watermark-gated: an unmatched click flushes when the error-side
    watermark passes its 6h range, an unmatched error flushes when the
    click-side watermark passes, and the join key survives as the
    COALESCE of the two sides (an unmatched error has no left key).

    Staging, sentinels and the closing no-data flush are shared with
    the certified left-outer run (``_stage_click_error_streams``).
    Oracle = the identical stateless batch FULL JOIN; the sentinel
    rows (user_id = -1, including the sentinel-sentinel match) are
    filtered on the coalesced key.
    """
    import os
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    range_sec = 21600  # 6h match window
    work = tempfile.mkdtemp(prefix="mlwss_fojstream_")
    l_stream, r_stream = _stage_click_error_streams(spark, sf_dir, work, range_sec)
    joined = stream_stream_interval_join(
        l_stream,
        r_stream,
        key="user_id",
        left_time="click_ts",
        right_time="error_ts",
        lower_sec=0,
        upper_sec=range_sec,
        watermark="1 hour",
        how="full_outer",
    )
    sink = f"foj_stream_{uuid.uuid4().hex[:8]}"
    q = (
        joined.select("click_id", "error_id", "user_id")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).filter(F.col("user_id") >= 0).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return mem.orderBy("click_id", "error_id")


_PACK_STREAM_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, source,
         len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
           AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
walk AS (
  SELECT source, rn, n_tokens, 0 AS chunk_id, n_tokens AS used
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.n_tokens,
         CASE WHEN w.used + t.n_tokens > 512 THEN w.chunk_id + 1
              ELSE w.chunk_id END,
         CASE WHEN w.used + t.n_tokens > 512 THEN t.n_tokens
              ELSE w.used + t.n_tokens END
  FROM walk w JOIN toks t ON t.source = w.source AND t.rn = w.rn + 1
)
SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM walk
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("s11_pack_stream", oracle=_PACK_STREAM_ORACLE, bench=True)
def q_pack_stream(spark, sf_dir):
    """Streaming sequence packing as a REAL 4-micro-batch run: the exact
    greedy 512-token walk with its (chunk, used) cursor in the state
    store, documents arriving as doc_id-range files (the ordered-ingest
    contract). Every document's chunk assignment must equal the batch
    walk over the whole corpus — the oracle's recursive CTE. This is
    chunk assignment as an ingest-time property: a 100 TB/day pipeline
    packs while it lands instead of re-walking the corpus nightly."""
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.operators.text import words
    from machine_learning_with_spark_streaming_spark.streaming.stateful import streaming_packer

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(words("text")).cast("long").alias("n_tokens")
    )
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    work = tempfile.mkdtemp(prefix="mlwss_packstream_")
    stage, ckpt = f"{work}/stage", f"{work}/ckpt"
    import glob
    import os

    step = hi // 4 + 1
    stage_ordered_files(
        [
            docs.filter(
                (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            )
            for i in range(4)
        ],
        stage,
    )
    stream = (
        spark.readStream.schema("doc_id bigint, source string, n_tokens bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    packed = streaming_packer(stream, budget=512)
    sink = f"pack_stream_{uuid.uuid4().hex[:8]}"
    q = (
        packed.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return (
        mem.groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("source", "chunk_id")
    )


_INCR_DEDUP_STREAM_ORACLE = """
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
FROM (SELECT doc_id,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm
      FROM documents)
GROUP BY nrm
ORDER BY 1
"""


@register("s11_incremental_dedup_stream", oracle=_INCR_DEDUP_STREAM_ORACLE)
def q_incremental_dedup_stream(spark, sf_dir):
    """Ingest-time exact dedup as a REAL 4-micro-batch foreachBatch
    loop: each batch anti-joins its normalized-text hashes against the
    fingerprint table accumulated by all PREVIOUS batches, emits only
    first occurrences, and appends its own new hashes — the maintained
    fingerprint artifact of operators/dedup.py:incremental_dedup driven
    by a live stream. Batches arrive as doc_id-range files, so
    "first occurrence" is "minimum doc_id", which is exactly what the
    whole-corpus oracle computes. The fingerprint side only ever joins
    and appends 8-byte hashes; document text never re-shuffles."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    work = tempfile.mkdtemp(prefix="mlwss_incrdedup_")
    stage = f"{work}/stage"
    step = hi // 4 + 1
    stage_ordered_files(
        [
            docs.filter(
                (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            )
            for i in range(4)
        ],
        stage,
    )
    fp_dir, out_dir = f"{work}/fingerprints", f"{work}/kept"
    spark.createDataFrame([], "h long, batch_id long").write.partitionBy(
        "batch_id"
    ).parquet(fp_dir)
    spark.createDataFrame([], "doc_id long, batch_id long").write.partitionBy(
        "batch_id"
    ).parquet(out_dir)

    def sink(batch_df, batch_id):
        ss = batch_df.sparkSession
        hashed = batch_df.select(
            "doc_id", F.xxhash64(normalize_text("text")).alias("h")
        )
        # keep-first within the batch, then against the accumulated base.
        # The base read EXCLUDES this batch's own partition: a
        # crash-retried batch would otherwise anti-join against its own
        # half-written hashes, conclude everything is a duplicate, and
        # overwrite its partitions with nothing — losing the rows.
        firsts = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
        base = (
            ss.read.schema("h long, batch_id long")
            .parquet(fp_dir)
            .filter(F.col("batch_id") != batch_id)
        )
        new = firsts.join(base, "h", "left_anti").localCheckpoint(eager=True)
        # exactly-once: per-batch partitions + dynamic overwrite, so a
        # crash-retried batch replaces its own rows instead of
        # double-appending (foreach_batch_append_idempotent pattern)
        prev = ss.conf.get("spark.sql.sources.partitionOverwriteMode")
        ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            new.select("doc_id").withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("overwrite").partitionBy("batch_id").parquet(out_dir)
            new.select("h").withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("overwrite").partitionBy("batch_id").parquet(fp_dir)
        finally:
            ss.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{work}/ckpt_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    kept = (
        spark.read.schema("doc_id long, batch_id long")
        .parquet(out_dir)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return kept.orderBy("doc_id")


@register("s11_session_window_stream", oracle=_S11_SESSION_ORACLE, bench=True)
def q_session_window_stream(spark, sf_dir):
    """§2.10: session windows as a REAL 4-micro-batch stream — the
    hardest stateful window: sessions MERGE in the state store when a
    later batch's event falls inside an open session's gap, and only
    close (emit, append mode) once the watermark passes session end +
    gap. Same determinism recipe as the left-outer join: time-bucketed
    staged files keep arrivals above the watermark, and a user_id=-1
    sentinel pushes the final watermark past every real session so all
    of them flush. Oracle = the batch gap-sessionization SQL — the
    streamed sessions must equal the batch ones exactly."""
    import os
    import shutil
    import tempfile
    import uuid
    from datetime import timedelta

    from machine_learning_with_spark_streaming_spark.streaming.pipeline import sessionized_aggregate

    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    work = tempfile.mkdtemp(prefix="mlwss_sesstream_")
    parts = []
    for i in range(3):
        b_lo, b_hi = lo + span * i, (hi if i == 2 else lo + span * (i + 1))
        cond = (F.col("ts") >= F.lit(b_lo)) & (
            (F.col("ts") <= F.lit(b_hi)) if i == 2 else (F.col("ts") < F.lit(b_hi))
        )
        parts.append(events.filter(cond))
    sentinel_ts = hi + timedelta(hours=3)  # > gap (30m) + watermark (1h)
    parts.append(
        spark.createDataFrame(
            [(-1, sentinel_ts, 0.0)], "user_id bigint, ts timestamp, value double"
        )
    )
    stage = stage_ordered_files(parts, os.path.join(work, "stage"))
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    sessions = sessionized_aggregate(
        stream, gap="30 minutes", watermark="1 hour"
    )
    sink = f"sess_stream_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).filter(F.col("user_id") >= 0).localCheckpoint(
        eager=True
    )
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return mem.select(
        "user_id", "session_start", "n_events", "value_sum"
    ).orderBy("user_id", "session_start")


# ------------------------------- watermark late-data drop, certified

_LATE_DELAY_HOURS = 1
_LATE_MOD = 97

_LATE_STREAM_ORACLE = f"""
WITH e AS (
  SELECT event_id, ts, event_type, value,
         (CASE WHEN day(ts) <= 8 THEN 0 WHEN day(ts) <= 15 THEN 1
               WHEN day(ts) <= 22 THEN 2 ELSE 3 END)
         + (CASE WHEN event_id % {_LATE_MOD} = 0 AND day(ts) <= 15
                 THEN 2 ELSE 0 END) AS b
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
bmax AS (SELECT b, max(ts) AS mx FROM e GROUP BY b),
-- Spark's late filter in micro-batch k uses the watermark IN EFFECT
-- DURING batch k-1 (i.e. max event time over batches 0..k-2, minus the
-- delay) — one batch staler than the eviction watermark. Verified
-- empirically; see the query docstring.
wm AS (
  SELECT b,
         max(mx) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - INTERVAL {_LATE_DELAY_HOURS} HOUR AS filter_wm
  FROM bmax
),
kept AS (
  SELECT e.ts, e.event_type, e.value
  FROM e JOIN wm USING (b)
  WHERE filter_wm IS NULL
     OR date_trunc('hour', ts) + INTERVAL 1 HOUR > filter_wm
)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) + 0.0 AS value_sum
FROM kept GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("s11_late_data_stream", oracle=_LATE_STREAM_ORACLE, bench=True)
def q_late_data_stream(spark, sf_dir):
    """Watermark late-drop semantics as a REAL multi-micro-batch run,
    certified against an oracle that models Spark's exact drop rule.

    The events table streams in four deterministic micro-batches (one
    per ~week of event time, so ingest is approximately time-ordered
    like a real feed), except rows with ``event_id % 97 == 0`` arrive
    TWO batches late. A 1-hour watermark over 1-hour tumbling windows
    then genuinely drops the stragglers whose window fell behind.

    Empirically pinned Spark semantics the oracle encodes (probed on
    this exact build; tests/test_streaming_late.py re-asserts it):

    - the watermark in effect during batch k is ``max(event time over
      batches 0..k-1) - delay`` and drives state EVICTION / append
      emission;
    - the LATE-ROW FILTER in batch k uses the one-batch-STALER value
      (batches 0..k-2) — a late row merging into a window evicted in
      the same batch still counts;
    - a final empty micro-batch applies the last watermark advance
      under ``availableNow``.

    Two trailing flush rows (+10h/+20h, ``__flush`` type, excluded from
    output) force every real window past the final watermark so append
    mode emits the complete set regardless of the empty-batch behavior.
    No timestamp in the testdata lands exactly on an hour, so boundary
    strictness (``<`` vs ``<=``) cannot bite."""
    import shutil
    import tempfile
    import uuid

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_id", "ts", "event_type", "value")
    )
    day = F.dayofmonth("ts")
    b = (
        F.when(day <= 8, 0)
        .when(day <= 15, 1)
        .when(day <= 22, 2)
        .otherwise(3)
        + F.when(
            (F.col("event_id") % _LATE_MOD == 0) & (day <= 15), 2
        ).otherwise(0)
    )
    tagged = ev.withColumn("__b", b).localCheckpoint(eager=True)
    mx = tagged.agg(F.max("ts")).collect()[0][0]  # 1-row bounded scalar
    import datetime as _dt

    def _flush(hours: int):
        return spark.createDataFrame(
            [(-1 * hours, mx + _dt.timedelta(hours=hours), "__flush", 0.0)],
            "event_id long, ts timestamp, event_type string, value double",
        )

    parts = [
        tagged.filter(F.col("__b") == i).drop("__b") for i in range(4)
    ] + [_flush(10), _flush(20)]
    work = tempfile.mkdtemp(prefix="mlwss_late_")
    stage = stage_ordered_files(parts, f"{work}/stage")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", f"{_LATE_DELAY_HOURS} hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum("value"), 6) + F.lit(0.0)).alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    sink = f"late_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return mem.filter(F.col("event_type") != "__flush").orderBy(
        "window_start", "event_type"
    )


# --------------------- streaming -> live-SQL upsert (the namesake loop)

_JDBC_UPSERT_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS last_event_id,
       value AS last_value
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


@register("s11_jdbc_upsert_stream", oracle=_JDBC_UPSERT_ORACLE, bench=True)
def q_jdbc_upsert_stream(spark, sf_dir):
    """The reference's namesake composition end to end: a REAL
    4-micro-batch event stream whose foreachBatch sink maintains a
    latest-wins keyed table in a LIVE SQL engine (embedded Derby over
    JDBC) — stream.py feeding mySQLClass.py's DELETE+INSERT upsert
    (mySQLClass.py:179-220), re-expressed as merge-and-overwrite.

    Per batch: read the target over JDBC, union the batch, keep one row
    per user_id with the max (ts, event_id), replace the target via
    ``staged_atomic_overwrite`` — Spark writes the merged state to a
    stage table, then ONE server-side transaction swaps it into the
    live table. The maintained table is a pure function of the SET of
    rows ever seen (max is associative/commutative/idempotent), so the
    run is batch-order-independent — hash-checkable against a
    whole-input oracle — and because the swap is transactional, a
    crash-retried batch converges from ANY crash point: the live table
    is always fully-old or fully-new, never the truncated intermediate
    that plain JDBC mode='overwrite' exposes
    (tests/test_jdbc_derby.py::test_staged_swap_survives_crash pins
    both halves: the plain sink provably loses rows, this one
    recovers)."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from machine_learning_with_spark_streaming_spark.sources.jdbc import (
        read_table,
        staged_atomic_overwrite,
        write_table,
    )

    work = tempfile.mkdtemp(prefix="mlwss_jdbcup_")
    url = f"jdbc:derby:{work}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    table = "latest_events"
    schema = "user_id long, ts timestamp, event_id long, value double"

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    # pre-create the (empty) target so every batch's read succeeds
    write_table(
        spark.createDataFrame([], schema), url, table,
        mode="overwrite", properties=props,
    )

    def sink(batch_df, batch_id):
        ss = batch_df.sparkSession
        target = read_table(ss, url, table, properties=props)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        merged = (
            target.unionByName(batch_df)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)  # materialize BEFORE swapping
        )
        staged_atomic_overwrite(merged, url, table, properties=props)

    stage, ckpt = f"{work}/stage", f"{work}/ckpt"
    ev.repartition(4).write.parquet(stage)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    final = (
        read_table(spark, url, table, properties=props)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
        .localCheckpoint(eager=True)  # detach from the Derby dir
    )
    shutil.rmtree(work, ignore_errors=True)
    return final


# ------------- streaming drift monitor (per-batch PSI vs frozen baseline)

_DRIFT_STREAM_BINS = 16

_DRIFT_STREAM_ORACLE = f"""
WITH base AS (
  SELECT value AS v FROM events WHERE value IS NOT NULL AND day(ts) <= 15
),
ext AS (
  SELECT min(v) AS lo, max(v) AS hi,
         CASE WHEN (max(v) - min(v)) / {_DRIFT_STREAM_BINS} = 0 THEN 1.0
              ELSE (max(v) - min(v)) / {_DRIFT_STREAM_BINS} END AS w
  FROM base
),
nb AS (SELECT count(*) AS n_base FROM base),
bc AS (
  SELECT CAST(greatest(0, least({_DRIFT_STREAM_BINS - 1},
              floor((v - lo) / w))) AS INT) AS bin,
         count(*) AS c
  FROM base, ext GROUP BY 1
),
cur AS (
  SELECT CASE WHEN day(ts) <= 20 THEN 0
              WHEN day(ts) <= 25 THEN 1 ELSE 2 END AS batch_idx,
         value AS v
  FROM events WHERE value IS NOT NULL AND day(ts) >= 16
),
cc AS (
  SELECT batch_idx,
         CAST(greatest(0, least({_DRIFT_STREAM_BINS - 1},
              floor((v - lo) / w))) AS INT) AS bin,
         count(*) AS c
  FROM cur, ext GROUP BY 1, 2
),
nn AS (SELECT batch_idx, sum(c) AS n_batch FROM cc GROUP BY 1),
grid AS (
  SELECT b.batch_idx, g.bin
  FROM (SELECT DISTINCT batch_idx FROM cc) b,
       (SELECT unnest(range({_DRIFT_STREAM_BINS})) AS bin) g
),
terms AS (
  SELECT grid.batch_idx,
         round(((coalesce(cc.c, 0) + 1) / (nn.n_batch + {_DRIFT_STREAM_BINS}.0)
                - (coalesce(bc.c, 0) + 1) / (nb.n_base + {_DRIFT_STREAM_BINS}.0))
               * ln(((coalesce(cc.c, 0) + 1) / (nn.n_batch + {_DRIFT_STREAM_BINS}.0))
                    / ((coalesce(bc.c, 0) + 1) / (nb.n_base + {_DRIFT_STREAM_BINS}.0))),
               6) AS t
  FROM grid
  LEFT JOIN cc ON cc.batch_idx = grid.batch_idx AND cc.bin = grid.bin
  LEFT JOIN bc ON bc.bin = grid.bin
  JOIN nn ON nn.batch_idx = grid.batch_idx
  CROSS JOIN nb
)
SELECT CAST(t.batch_idx AS BIGINT) AS batch_idx,
       CAST(nn.n_batch AS BIGINT) AS n_rows,
       round(sum(t.t), 6) + 0.0 AS psi
FROM terms t JOIN nn ON nn.batch_idx = t.batch_idx
GROUP BY 1, nn.n_batch ORDER BY 1
"""


@register("s11_drift_monitor_stream", oracle=_DRIFT_STREAM_ORACLE, bench=True)
def q_drift_monitor_stream(spark, sf_dir):
    """Training-serving drift monitoring on a stream: a REAL
    3-micro-batch run where each arriving batch's value distribution is
    scored (PSI, Laplace-smoothed, 6-dp-rounded terms) against a FROZEN
    baseline — bin edges and bin counts from the first half of the
    month, exactly the production contract where the baseline comes
    from training time and never moves with the traffic. Batches are
    the second half staged as three day-range files (ordered ingest),
    so the per-batch verdicts are whole-input-reproducible and the
    oracle recomputes them from the same day buckets.

    Retry idempotence: per-batch dynamic-partition overwrite keyed by
    batch_id (the foreach_batch_append_idempotent pattern), and the
    baseline rides into the sink as plain literal rows — no outer-
    session DataFrames in the closure."""
    import shutil
    import tempfile
    import uuid

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.filter(F.dayofmonth("ts") <= 15).select(F.col("value").alias("v"))
    lo, hi = base.agg(F.min("v"), F.max("v")).collect()[0]
    width = (hi - lo) / _DRIFT_STREAM_BINS or 1.0
    bin_col = F.greatest(
        F.lit(0),
        F.least(
            F.lit(_DRIFT_STREAM_BINS - 1),
            F.floor((F.col("v") - F.lit(lo)) / F.lit(width)),
        ),
    ).cast("int")
    base_counts = {
        r["bin"]: r["c"]
        for r in base.groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }  # bounded: <= 16 rows
    n_base = sum(base_counts.values())
    baseline_rows = [
        (b, int(base_counts.get(b, 0))) for b in range(_DRIFT_STREAM_BINS)
    ]

    work = tempfile.mkdtemp(prefix="mlwss_driftstream_")
    stage, out_dir = f"{work}/stage", f"{work}/out"
    cur = ev.filter(F.dayofmonth("ts") >= 16).select("ts", F.col("value"))
    stage_ordered_files(
        [
            cur.filter(F.dayofmonth("ts") <= 20),
            cur.filter((F.dayofmonth("ts") >= 21) & (F.dayofmonth("ts") <= 25)),
            cur.filter(F.dayofmonth("ts") >= 26),
        ],
        stage,
    )
    spark.createDataFrame(
        [], "n_rows long, psi double, batch_id long"
    ).write.partitionBy("batch_id").parquet(out_dir)

    nbins = _DRIFT_STREAM_BINS

    def sink(batch_df, batch_id):
        from pyspark.sql import Window as _W

        ss = batch_df.sparkSession
        bgrid = ss.createDataFrame(baseline_rows, "bin int, bc long")
        counts = (
            batch_df.select(F.col("value").alias("v"))
            .groupBy(bin_col.alias("bin"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        joined = F.broadcast(bgrid).join(counts, "bin", "left").select(
            "bin", "bc", F.coalesce("c", F.lit(0)).alias("c")
        )
        # r12 (guide §1.2 — job-count diet): the batch total rides a
        # global window over the 16 bin rows instead of a driver
        # collect, and the verdict write is the one materializing job —
        # the per-batch collect + eager-checkpoint jobs are gone (3
        # jobs/batch -> 1). Arithmetic identical: n_batch is an exact
        # long either way, and (c+1)/CAST(n_batch+16 AS DOUBLE) is the
        # same IEEE division the collected literal produced.
        joined = joined.withColumn("n_batch", F.sum("c").over(_W.partitionBy()))
        p_b = (F.col("c") + 1) / (F.col("n_batch") + F.lit(nbins)).cast("double")
        p_base = (F.col("bc") + 1) / F.lit(float(n_base + nbins))
        verdict = (
            joined.select(
                "n_batch",
                F.round((p_b - p_base) * F.log(p_b / p_base), 6).alias("t"),
            )
            .agg(
                F.max("n_batch").cast("long").alias("n_rows"),
                (F.round(F.sum("t"), 6) + F.lit(0.0)).alias("psi"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        prev = ss.conf.get("spark.sql.sources.partitionOverwriteMode")
        ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            verdict.write.mode("overwrite").partitionBy("batch_id").parquet(
                out_dir
            )
        finally:
            ss.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    q = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{work}/ckpt_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    out = (
        spark.read.schema("n_rows long, psi double, batch_id long")
        .parquet(out_dir)
        .select(F.col("batch_id").cast("long").alias("batch_idx"), "n_rows", "psi")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out.orderBy("batch_idx")
