"""Event-time streaming pipelines (SURVEY.md §2.10 superset).

The reference is processing-time-only (no timestamps in its payload); the
engine adds the full Structured Streaming surface over the ``events``
table shape: watermarks, tumbling/sliding/session windows, streaming
dedup, and ``foreachBatch`` sinks (append + the K4 delta-upsert
semantics). Batch and streaming share the same expressions, so
stream-batch parity is testable by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await


def windowed_event_aggregate(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "10 minutes",
    ts_col: str = "ts",
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Tumbling/sliding window aggregate with optional watermark.

    On a streaming frame the watermark bounds state (late rows beyond it
    drop); on a batch frame the same expressions run without state.
    """
    keys = keys if keys is not None else ["event_type"]
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window_duration, slide) if slide else F.window(ts_col, window_duration)
    return (
        df.groupBy(win.alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            *keys,
            "n_events",
            "value_sum",
        )
    )


def sessionized_aggregate(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key: str = "user_id",
) -> DataFrame:
    """Session windows per key: gap-based session assignment."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("sess"), key)
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            key,
            "n_events",
            "value_sum",
        )
    )


def foreach_batch_append(path: str, format: str = "parquet"):
    """foreachBatch sink: plain append per micro-batch."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").format(format).save(path)

    return _sink


def foreach_batch_upsert(path: str, pk: list[str], compare_cols: list[str]):
    """foreachBatch sink with K4 delta-upsert semantics
    (mySQLClass.py:148-220): write only new/changed rows vs the target.
    On Delta Lake this would be ``MERGE INTO``; on plain parquet we
    append the changed set (idempotent for replays that re-send
    identical rows)."""
    from machine_learning_with_spark_streaming_spark.operators.validation import delta_rows

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        try:
            existing = spark.read.parquet(path)
        except AnalysisException:
            # ONLY missing-target means "first batch"; a broad except
            # would turn any transient read error into appending the
            # whole batch unfiltered (duplicate rows on retry) — the
            # same hazard class fixed in foreach_batch_upsert_latest.
            # Other errors propagate and fail the batch (retryable).
            existing = None
        out = batch_df if existing is None else delta_rows(batch_df, existing, pk, compare_cols)
        out.write.mode("append").parquet(path)

    return _sink


def foreach_batch_upsert_latest(path: str, pk: list[str], order_cols: list[str]):
    """foreachBatch sink maintaining a latest-wins keyed table — the
    SCD-1 ``MERGE INTO ... WHEN MATCHED UPDATE`` shape (K4 on an
    engine with real upserts; reference mySQLClass.py:179-220 emulates
    it with DELETE+INSERT). Each batch: union target + batch, keep one
    row per ``pk`` with the max ``order_cols`` (deterministic total
    order — include a unique tiebreaker), overwrite.

    The maintained table is a pure function of the SET of rows ever
    seen (max is associative/commutative), so the result is
    batch-order-independent — which is what makes a real multi-batch
    run hash-checkable against a whole-input oracle. At 100 TB the
    overwrite becomes MERGE on a transactional table format; the
    union+window per batch is the portable-parquet stand-in.
    """
    from pyspark.sql import Window

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        try:
            existing = spark.read.parquet(path)
            merged = existing.unionByName(batch_df)
        except AnalysisException:
            # ONLY the missing-target case means "first batch". A broad
            # except here would turn any transient read error into an
            # overwrite of the maintained table with just this batch —
            # silent total state loss. Other errors propagate and fail
            # the batch (the retryable outcome).
            merged = batch_df
        w = Window.partitionBy(*pk).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            # materialize before overwriting the path being read
            .localCheckpoint(eager=True)
        )
        latest.write.mode("overwrite").parquet(path)

    return _sink


def run_available_now(
    stream_df: DataFrame, sink_fn, checkpoint: str, output_mode: str = "append"
) -> None:
    """Drain all available input through foreachBatch and stop (test/replay
    harness; production uses ``trigger(processingTime='5 seconds')`` to
    match the producer cadence). ``output_mode="complete"`` re-emits the
    full aggregate state each batch (stateful aggregations)."""
    q = (
        stream_df.writeStream.foreachBatch(sink_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    start_and_await(q, stream_df.sparkSession)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    lower_sec: int,
    upper_sec: int,
    watermark: str | None = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on a key plus an event-time range
    (`right_time ∈ [left_time + lower, left_time + upper]`).

    On streaming frames both sides carry watermarks and the time-range
    condition is exactly what lets Spark BOUND the join state: each
    side's buffered rows are evicted once the other side's watermark
    passes their range (unbounded stream-stream joins otherwise keep
    state forever). ``watermark=None`` skips watermarking — legal for
    INNER stream-stream joins (state is then unbounded), and required
    for exactness when micro-batches arrive in arbitrary event-time
    order (any finite watermark would legitimately drop "late" rows).
    On batch frames the identical condition runs stateless, so
    stream-batch parity is testable by construction. Column names other
    than ``key`` must be disjoint between the sides.

    ``how="left_outer"`` REQUIRES watermarks on streams: the
    null-extended row for an unmatched left row can only be emitted
    once the watermark proves no matching right row can still arrive —
    the same state-eviction bound, doing double duty as the
    completeness proof. ``how="full_outer"`` additionally null-extends
    unmatched RIGHT rows (emitted once the LEFT watermark passes their
    range), and the surviving ``key`` column is the COALESCE of the two
    sides — a dropped ``r[key]`` would leave NULL keys on every
    unmatched right row.
    """
    l, r = left, right
    if how != "inner" and (l.isStreaming or r.isStreaming) and watermark is None:
        raise ValueError("outer stream-stream joins need a watermark")
    if l.isStreaming and watermark is not None:
        l = l.withWatermark(left_time, watermark)
    if r.isStreaming and watermark is not None:
        r = r.withWatermark(right_time, watermark)
    # literal INTERVAL arithmetic (not make_dt_interval): the outer-join
    # analyzer must recognize the range condition to derive the state
    # watermark, and it only pattern-matches the literal form
    if int(lower_sec) != lower_sec or int(upper_sec) != upper_sec:
        raise ValueError(
            "interval bounds must be whole seconds: "
            f"got ({lower_sec}, {upper_sec}) — int() would silently "
            "truncate and widen/narrow the join window"
        )
    lo = F.expr(f"INTERVAL {int(lower_sec)} SECONDS")
    hi = F.expr(f"INTERVAL {int(upper_sec)} SECONDS")
    cond = (
        (l[key] == r[key])
        & (r[right_time] >= l[left_time] + lo)
        & (r[right_time] <= l[left_time] + hi)
    )
    j = l.join(r, cond, how)
    if how == "full_outer":
        return (
            j.withColumn("__key", F.coalesce(l[key], r[key]))
            .drop(l[key])
            .drop(r[key])
            .withColumnRenamed("__key", key)
        )
    return j.drop(r[key])


def foreach_batch_append_idempotent(path: str):
    """foreachBatch sink with EXACTLY-ONCE append semantics on plain
    parquet: each micro-batch writes into its own ``batch_id=N``
    partition via dynamic partition overwrite, so a batch that is
    RETRIED after a crash-between-write-and-commit overwrites its own
    partition instead of double-appending (the failure mode of the
    plain ``foreach_batch_append`` — at-least-once by design).

    This is the portable-parquet form of the transactional-sink txn
    check (``if batch_id already committed: skip``); readers see the
    union of partitions, and the ``batch_id`` column doubles as write
    provenance. On Delta/Iceberg the same guarantee comes from
    ``txnAppId``/snapshot commits."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(path)
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev
            )

    return _sink
