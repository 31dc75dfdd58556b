"""Reshaping operators (SURVEY.md §2.9, R2-R4).

The reference's wide month matrices (``getMonthlyHermesForecast``
iterating 12 month columns, myConversionsClass.py:468-504) become native
``DataFrame.unpivot``; month->week disaggregation (``:532-547``) becomes a
factor-table join + ``explode`` — one shuffle-free projection per row
instead of per-month Python loops + concat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

MONTH_ABBRS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def unpivot_months(
    df: DataFrame,
    ids: list[str],
    month_cols: list[str],
    var_col: str = "mth",
    value_col: str = "value",
) -> DataFrame:
    """R2: wide->long unpivot of month columns (stack/melt)."""
    return df.unpivot(ids, month_cols, var_col, value_col)


def disaggregate_to_weeks(
    df: DataFrame,
    month_col: str,
    value_col: str,
    weeks_per_month: int = 4,
) -> DataFrame:
    """R3: month->week disaggregation. Each month row fans out to
    ``weeks_per_month`` week rows carrying ``value * factor``
    (myConversionsClass.py:532-547 joins a week/factor calendar; here the
    calendar is generated inline with ``explode`` — same shape)."""
    factor = 1.0 / weeks_per_month
    weeks = F.explode(
        F.sequence(F.lit(0), F.lit(weeks_per_month - 1))
    ).alias("__week_idx")
    return (
        df.select("*", weeks)
        .withColumn("week_start", F.date_add(F.col(month_col), F.col("__week_idx") * 7))
        .withColumn("week_value", F.col(value_col) * F.lit(factor))
        .drop("__week_idx")
    )


def trim_snapshot_window(
    df: DataFrame, snap_col: str, first_rank: int, last_rank: int
) -> DataFrame:
    """R4: keep snapshots positionally ranked [first..last] newest-first
    (myConversionsClass.py:506-530).

    The unpartitioned rank runs over the *distinct snapshot values* only
    (snapshots are monthly versions — dozens, never fact-scale), then a
    broadcast semi-join keeps matching fact rows: the fact table itself
    is never single-partition sorted."""
    w = Window.orderBy(F.desc(snap_col))
    keep = (
        df.select(snap_col)
        .distinct()
        .withColumn("__rk", F.dense_rank().over(w))
        .filter((F.col("__rk") >= first_rank) & (F.col("__rk") <= last_rank))
        .select(snap_col)
    )
    return df.join(F.broadcast(keep), snap_col, "semi")


# ---------------------------------------------------------------- queries

_month_values_sql = ", ".join(
    f"('{m}', {i + 1})" for i, m in enumerate(MONTH_ABBRS)
)

_R2_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT l_partkey FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
), months(mth, mnum) AS (VALUES {_month_values_sql}),
agg AS (
  SELECT l_partkey, month(l_shipdate) AS mnum, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY 1, 2
)
SELECT k.l_partkey, m.mth, round(coalesce(a.qty, 0), 2) AS qty
FROM keys k
CROSS JOIN months m
LEFT JOIN agg a ON a.l_partkey = k.l_partkey AND a.mnum = m.mnum
ORDER BY 1, m.mnum
"""


@register("r2_unpivot_months", oracle=_R2_ORACLE)
def q_unpivot_months(spark, sf_dir):
    """R2: pivot 1996 shipments to a wide month matrix, then unpivot back
    to long (round-trips the reference's Hermes month loop). Missing
    months materialize as 0 — same as the reference's fillna(0)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    wide = (
        li.withColumn("mth", F.date_format("l_shipdate", "MMM"))
        .groupBy("l_partkey")
        .pivot("mth", MONTH_ABBRS)
        .agg(F.sum("l_quantity"))
        .fillna(0.0, subset=MONTH_ABBRS)
    )
    long = unpivot_months(wide, ["l_partkey"], MONTH_ABBRS, "mth", "qty")
    return long.select(
        "l_partkey", "mth", F.round("qty", 2).alias("qty")
    ).orderBy("l_partkey", "mth")


_R3_ORACLE = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         sum(o_totalprice) AS monthly_value
  FROM orders GROUP BY 1, 2
)
SELECT priority, m + (w.i * 7) AS week_start,
       round(monthly_value * 0.25, 4) AS week_value
FROM monthly
CROSS JOIN (VALUES (0), (1), (2), (3)) w(i)
ORDER BY 1, 2
"""


@register("r3_week_disaggregation", oracle=_R3_ORACLE)
def q_week_disagg(spark, sf_dir):
    """R3: month->week fan-out with per-week factor."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.trunc("o_orderdate", "month").alias("m"),
        )
        .agg(F.sum("o_totalprice").alias("monthly_value"))
    )
    out = disaggregate_to_weeks(monthly, "m", "monthly_value")
    return out.select(
        "priority", "week_start", F.round("week_value", 4).alias("week_value")
    ).orderBy("priority", "week_start")


_R4_ORACLE = """
WITH snaps AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS snapshot_month,
         o_orderpriority AS priority, sum(o_totalprice) AS total_price
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT *, dense_rank() OVER (ORDER BY snapshot_month DESC) AS rk FROM snaps
)
SELECT snapshot_month, priority, round(total_price, 2) AS total_price
FROM ranked WHERE rk BETWEEN 2 AND 4
ORDER BY 1, 2
"""


@register("r4_snapshot_window_trim", oracle=_R4_ORACLE)
def q_snapshot_trim(spark, sf_dir):
    """R4: positional snapshot-window trim (2nd..4th newest months)."""
    orders = load_table(spark, sf_dir, "orders")
    snaps = (
        orders.groupBy(
            F.trunc("o_orderdate", "month").alias("snapshot_month"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.sum("o_totalprice").alias("total_price"))
    )
    out = trim_snapshot_window(snaps, "snapshot_month", 2, 4)
    return out.select(
        "snapshot_month", "priority", F.round("total_price", 2).alias("total_price")
    ).orderBy("snapshot_month", "priority")


# ------------------------------------------------ time-series gap filling

def gap_fill_locf(
    df,
    key_col: str,
    ts_col: str,
    value_col: str,
):
    """Densify a per-key daily time series and forward-fill missing
    days (last observation carried forward) — the gap-filling operator
    time-series stores bolt onto sparse event data.

    Grid generation is ``sequence(min_day, max_day, 1 day)`` per key —
    an ARRAY expression exploded map-side, no driver ranges, no cross
    join against a global calendar (each key densifies only its own
    active span). The fill is ``last(value, ignoreNulls)`` over the
    per-key ordered window; one shuffle on the key partitions both the
    join and the window. ``observed`` flags real vs carried rows.

    Reference analog: the week-calendar densification of
    myConversionsClass.py:549-563, generalized to arbitrary keys with
    carry-forward instead of factor disaggregation."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    obs = (
        df.select(F.col(key_col).alias("k"), day.alias("d"),
                  F.col(value_col).alias("v"))
        .groupBy("k", "d")
        .agg(F.sum("v").alias("v"))
    )
    spine = (
        obs.groupBy("k")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "k",
            F.explode(
                F.sequence(
                    F.col("d0"), F.col("d1"), F.expr("interval 1 day")
                )
            ).alias("d"),
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(obs, ["k", "d"], "left")
    return joined.select(
        F.col("k").alias(key_col),
        F.col("d").alias("day"),
        F.col("v").isNotNull().cast("int").alias("observed"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
    )


_GAP_FILL_ORACLE = """
WITH obs AS (
  SELECT user_id AS k, CAST(date_trunc('day', ts) AS DATE) AS d,
         sum(value) AS v
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT k, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
  FROM (SELECT k, min(d) AS d0, max(d) AS d1 FROM obs GROUP BY 1)
),
joined AS (
  SELECT s.k, s.d, o.v FROM spine s LEFT JOIN obs o ON s.k = o.k AND s.d = o.d
)
SELECT CAST(k AS BIGINT) AS user_id, d AS day,
       CAST(v IS NOT NULL AS INT) AS observed,
       round(last_value(v IGNORE NULLS) OVER (
         PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING), 2) + 0.0
         AS filled_value
FROM joined
ORDER BY 1, 2
"""


@register("r5_gap_fill_locf", oracle=_GAP_FILL_ORACLE)
def q_gap_fill_locf(spark, sf_dir):
    """Daily per-user value series, densified over each user's active
    span with carry-forward fill."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = gap_fill_locf(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        "day",
        "observed",
        (F.round("filled_value", 2) + 0.0).alias("filled_value"),
    ).orderBy("user_id", "day")


def gap_fill_interpolate(
    df,
    key_col: str,
    ts_col: str,
    value_col: str,
):
    """Densify a per-key daily series and LINEARLY interpolate the gaps
    — the companion to :func:`gap_fill_locf` for quantities that move
    between observations (sensor readings, balances) rather than hold.

    Same spine/shuffle shape as LOCF (per-key ``sequence`` explode, one
    key shuffle shared by join and windows). Values are carried in
    integer CENTS and the interpolation is
    ``prev + floor((next - prev) * gap_pos / gap_len)`` — all-integer
    inputs, one floor(double) division whose operands are exact in IEEE
    doubles, so both engines compute bit-identical fills (the
    cross-engine float discipline). Boundary rows fall back to the
    available side (leading gap -> next, trailing gap -> prev)."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    obs = (
        df.select(
            F.col(key_col).alias("k"),
            day.alias("d"),
            F.col(value_col).cast("decimal(18,2)").alias("v"),
        )
        .groupBy("k", "d")
        .agg((F.sum("v") * 100).cast("long").alias("c"))
    )
    spine = (
        obs.groupBy("k")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "k",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("d"),
        )
    )
    joined = spine.join(obs, ["k", "d"], "left")
    w_prev = (
        Window.partitionBy("k").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("k").orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("c").isNotNull(), F.col("d"))
    prev_c = F.last("c", ignorenulls=True).over(w_prev)
    next_c = F.first("c", ignorenulls=True).over(w_next)
    prev_d = F.last(obs_d, ignorenulls=True).over(w_prev)
    next_d = F.first(obs_d, ignorenulls=True).over(w_next)
    gap_len = F.datediff(next_d, prev_d)
    gap_pos = F.datediff(F.col("d"), prev_d)
    interp = (
        F.when(prev_c.isNull(), next_c)
        .when(next_c.isNull(), prev_c)
        .when(gap_len == 0, prev_c)
        .otherwise(
            prev_c
            + F.floor(
                ((next_c - prev_c) * gap_pos).cast("double") / gap_len
            ).cast("long")
        )
    )
    return joined.select(
        F.col("k").alias(key_col),
        F.col("d").alias("day"),
        F.col("c").isNotNull().cast("int").alias("observed"),
        interp.cast("long").alias("interp_cents"),
    )


_INTERP_ORACLE = """
WITH obs AS (
  SELECT user_id AS k, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT k, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
  FROM (SELECT k, min(d) AS d0, max(d) AS d1 FROM obs GROUP BY 1)
),
joined AS (
  SELECT s.k, s.d, o.c FROM spine s LEFT JOIN obs o ON s.k = o.k AND s.d = o.d
),
ctx AS (
  SELECT k, d, c,
         last_value(c IGNORE NULLS) OVER w_prev AS prev_c,
         first_value(c IGNORE NULLS) OVER w_next AS next_c,
         last_value(CASE WHEN c IS NOT NULL THEN d END IGNORE NULLS)
           OVER w_prev AS prev_d,
         first_value(CASE WHEN c IS NOT NULL THEN d END IGNORE NULLS)
           OVER w_next AS next_d
  FROM joined
  WINDOW
    w_prev AS (PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING),
    w_next AS (PARTITION BY k ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT CAST(k AS BIGINT) AS user_id, d AS day,
       CAST(c IS NOT NULL AS INT) AS observed,
       CAST(CASE
         WHEN prev_c IS NULL THEN next_c
         WHEN next_c IS NULL THEN prev_c
         WHEN next_d = prev_d THEN prev_c
         ELSE prev_c + CAST(floor(
           CAST((next_c - prev_c) * (d - prev_d) AS DOUBLE)
           / (next_d - prev_d)) AS BIGINT)
       END AS BIGINT) AS interp_cents
FROM ctx
ORDER BY 1, 2
"""


@register("r6_linear_interpolate", oracle=_INTERP_ORACLE, bench=True)
def q_gap_fill_interpolate(spark, sf_dir):
    """Daily per-user series with gaps LINEARLY interpolated in exact
    integer cents — the moving-quantity companion to r5's
    carry-forward fill, certified bit-identical across engines."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return gap_fill_interpolate(ev, "user_id", "ts", "value").orderBy(
        "user_id", "day"
    )


# ------------------------------------------------ R7: OHLC time resample

def ohlc_resample(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    bucket: str = "hour",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-bucket resample with bar semantics: per (key, bucket) the
    first/max/min/last value plus count and sum — the OHLC shape every
    monitoring/market pipeline computes, generalizing the reference's
    month-grain snapshots (myConversionsClass.py:468-504) to arbitrary
    event time grains.

    Scale shape: first/last are resolved by two row_number windows
    partitioned on the SAME (key, bucket) keys the final groupBy uses,
    so Catalyst reuses one hash partitioning across all three — a
    single shuffle, no self-joins, no min_by/arg_min engine-specific
    tie behavior (ties break on the id column, deterministic
    cross-engine)."""
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start")
    base = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .select(F.col(key), b, F.col(ts_col), F.col(id_col), F.col(value_col))
    )
    w_asc = Window.partitionBy(key, "bucket_start").orderBy(ts_col, id_col)
    w_desc = Window.partitionBy(key, "bucket_start").orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    marked = base.withColumn("__ra", F.row_number().over(w_asc)).withColumn(
        "__rd", F.row_number().over(w_desc)
    )
    return marked.groupBy(key, "bucket_start").agg(
        F.max(F.when(F.col("__ra") == 1, F.col(value_col))).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max(F.when(F.col("__rd") == 1, F.col(value_col))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        (F.round(F.sum(value_col), 6) + F.lit(0.0)).alias("value_sum"),
    )


_OHLC_ORACLE = """
WITH base AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start, ts, event_id,
         value
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
marked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bucket_start
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY event_type, bucket_start
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM base
)
SELECT event_type, bucket_start,
       max(CASE WHEN ra = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rd = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) + 0.0 AS value_sum
FROM marked GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("r7_ohlc_resample", oracle=_OHLC_ORACLE, bench=True)
def q_ohlc_resample(spark, sf_dir):
    """R7: hourly OHLC bars per event type over the events table —
    open/high/low/close plus count and 6-dp sum, ties broken on
    event_id so both engines pick identical first/last rows."""
    ev = load_table(spark, sf_dir, "events")
    return ohlc_resample(ev, "event_type", "ts", "value").orderBy(
        "event_type", "bucket_start"
    )
