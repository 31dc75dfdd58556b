"""Order-statistic and autocorrelation window analytics over daily
rollups — the robust companions to the w6/w11 moving averages:
a rolling MEDIAN shrugs off the single-day spikes that drag a mean,
and the lag-k autocorrelation function (ACF) is the standard "does
this series remember itself at lag k" diagnostic that justifies (or
demolishes) the w16 weekly-seasonality assumption.

Exactness recipes:

- Rolling median: integer-cent daily sums, ROWS-framed sorted-list
  selection, and the median emitted DOUBLED (``med7_x2`` = the sum of
  the two middle order statistics) so even-width frames stay integral
  — the Theil–Sen lower-median trick (robust.py) applied to frames.
  The oracle's ``2*median(...) OVER w`` is exactly that sum.
- ACF: the ml_corr_matrix recipe per (key, lag) — decimal(38,0)
  sufficient statistics over integer cents, one closed-form Pearson in
  doubles at the end, 6-dp rounded. Lags pair strictly by CALENDAR
  distance (lag-k row must be exactly k days earlier), so gap days
  drop pairs instead of silently mis-aligning them.

Scale shape: both operators run over the |keys| x |days| daily rollup,
never the raw corpus — one hash aggregate collapses the fact table,
then one key-partitioned window pass (frame ≤ 7 rows; the three lag
columns ride a single window) and, for ACF, one tiny grouped
aggregate. Nothing is quadratic; the windowed relation is bounded by
the calendar span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

ACF_LAGS = (1, 2, 7)


def daily_cents(
    df: DataFrame, key_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """(key, day, cents): per-key daily integer-cent totals — the
    shared rollup the seasonal/forecast family also builds."""
    return df.groupBy(
        F.col(key_col).alias("key"), F.to_date(ts_col).alias("day")
    ).agg(
        F.sum(F.round(F.col(value_col) * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )


def rolling_median_x2(daily: DataFrame, frame_rows: int = 7) -> DataFrame:
    """Trailing ``frame_rows``-row median of ``cents`` per key, doubled
    to stay integral on even-width (ramp-up) frames: med_x2 = sum of
    the two middle order statistics of the sorted frame."""
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-(frame_rows - 1), 0)
    )
    return (
        daily.withColumn("__a", F.sort_array(F.collect_list("cents").over(w)))
        .withColumn(
            "med_x2",
            F.expr(
                "element_at(__a, cast((size(__a) + 1) div 2 as int))"
                " + element_at(__a, cast(size(__a) div 2 + 1 as int))"
            ).cast("long"),
        )
        .drop("__a")
    )


def acf_lags(daily: DataFrame, lags=ACF_LAGS) -> DataFrame:
    """Per-key lag-k autocorrelation over the daily series, calendar-
    strict pairing, Pearson from decimal sufficient statistics."""
    w = Window.partitionBy("key").orderBy("day")
    d = daily
    stack_args = []
    for k in lags:
        yk = F.when(
            F.datediff(F.col("day"), F.lag("day", k).over(w)) == k,
            F.lag("cents", k).over(w),
        )
        d = d.withColumn(f"__y{k}", yk)
        stack_args.append(f"{k}, __y{k}")
    long = d.select(
        "key",
        "cents",
        F.expr(f"stack({len(lags)}, {', '.join(stack_args)}) as (lag, y)"),
    ).filter(F.col("y").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    stats = long.groupBy("key", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("cents")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("cents") * dec("cents")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
        F.sum(dec("cents") * dec("y")).alias("sxy"),
    )
    nD = F.col("n").cast("double")
    sD = lambda c: F.col(c).cast("double")  # noqa: E731
    num = nD * sD("sxy") - sD("sx") * sD("sy")
    va = nD * sD("sxx") - sD("sx") * sD("sx")
    vb = nD * sD("syy") - sD("sy") * sD("sy")
    acf = F.when(va * vb > 0, F.round(num / F.sqrt(va * vb), 6) + F.lit(0.0))
    return stats.select(
        "key",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        acf.alias("acf"),
    ).orderBy("key", "lag")


_DAILY_CTE = """
daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
)"""

_W23_ORACLE = f"""
WITH {_DAILY_CTE}
SELECT key, day, cents,
       CAST(2 * median(cents) OVER (PARTITION BY key ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS med_x2
FROM daily ORDER BY 1, 2
"""


@register("w23_rolling_median", oracle=_W23_ORACLE, bench=True)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: trailing 7-day rolling MEDIAN of daily
    event revenue per event type — doubled order-statistic form, fully
    integer output."""
    ev = load_table(spark, sf_dir, "events")
    return rolling_median_x2(
        daily_cents(ev, "event_type", "ts", "value")
    ).orderBy("key", "day")


def _acf_pair_branch(k: int) -> str:
    return (
        f"SELECT key, {k} AS lag, cents AS x, "
        f"lag(cents, {k}) OVER w AS y, "
        f"lag(day, {k}) OVER w AS yd, day FROM daily "
        f"WINDOW w AS (PARTITION BY key ORDER BY day)"
    )


_W24_ORACLE = f"""
WITH {_DAILY_CTE},
pairs AS (
  SELECT key, lag, x, y FROM (
    {' UNION ALL '.join(f'SELECT * FROM ({_acf_pair_branch(k)})' for k in ACF_LAGS)}
  ) WHERE y IS NOT NULL AND yd = day - lag
),
stats AS (
  SELECT key, lag, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT key, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                       6) + 0.0
       END AS acf
FROM stats ORDER BY 1, 2
"""


@register("w24_acf_lags", oracle=_W24_ORACLE, bench=True)
def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: lag-1/2/7 autocorrelation of daily revenue
    per event type — the seasonality-memory diagnostic, integer
    sufficient statistics end to end."""
    ev = load_table(spark, sf_dir, "events")
    return acf_lags(daily_cents(ev, "event_type", "ts", "value"))


def rolling_mad_x4(daily: DataFrame, frame_rows: int = 7) -> DataFrame:
    """Trailing rolling MAD per key, emitted QUADRUPLED: with
    med_x2 = (sum of the two middle order statistics) = 2·median, the
    deviations d_i = |2·x_i − med_x2| = 2·|x_i − median| are integers,
    and mad_x4 = (two-middles sum of sorted d) = 4·MAD — integer all
    the way down, two nested order statistics, zero floats. The robust
    volatility companion to ``rolling_median_x2`` (same frame, same
    single window pass; the deviation/selection work is per-row array
    arithmetic over a ≤ frame_rows list)."""
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-(frame_rows - 1), 0)
    )
    two_mid = (
        "element_at({a}, cast((size({a}) + 1) div 2 as int))"
        " + element_at({a}, cast(size({a}) div 2 + 1 as int))"
    )
    return (
        daily.withColumn("__a", F.sort_array(F.collect_list("cents").over(w)))
        .withColumn("med_x2", F.expr(two_mid.format(a="__a")).cast("long"))
        .withColumn(
            "__d",
            F.expr("array_sort(transform(__a, x -> abs(2 * x - med_x2)))"),
        )
        .withColumn("mad_x4", F.expr(two_mid.format(a="__d")).cast("long"))
        .drop("__a", "__d")
    )


_W26_ORACLE = f"""
WITH {_DAILY_CTE},
framed AS (
  SELECT key, day, cents,
         list_sort(list(cents) OVER (PARTITION BY key ORDER BY day
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a
  FROM daily
),
med AS (
  SELECT key, day, cents, a,
         CAST(a[(len(a) + 1) // 2] + a[len(a) // 2 + 1] AS BIGINT) AS med_x2
  FROM framed
),
dev AS (
  SELECT key, day, cents, med_x2,
         list_sort(list_transform(a, x -> abs(2 * x - med_x2))) AS d
  FROM med
)
SELECT key, day, cents, med_x2,
       CAST(d[(len(d) + 1) // 2] + d[len(d) // 2 + 1] AS BIGINT) AS mad_x4
FROM dev ORDER BY 1, 2
"""


@register("w26_rolling_mad", oracle=_W26_ORACLE, bench=True)
def q_rolling_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: trailing 7-day rolling MAD (quadrupled
    integer order-statistic form) of daily event revenue per type —
    the robust volatility band around w23's rolling median."""
    ev = load_table(spark, sf_dir, "events")
    return rolling_mad_x4(
        daily_cents(ev, "event_type", "ts", "value")
    ).orderBy("key", "day")


def robust_stl(daily: DataFrame, frame_rows: int = 7) -> DataFrame:
    """Robust STL-lite decomposition, integer end to end via scaled
    order statistics: trend = trailing rolling median (x2), seasonal =
    per-(key, weekday) MEDIAN of the detrended series (x4; medians, not
    means — one bad week can't bend the weekly profile, the robustness
    choice real STL makes with loess weights), remainder = what's left
    (x4). Exact reconstruction holds by construction:

        4·cents = 2·med_x2 + seasonal_x4 + remainder_x4

    Components: one key-partitioned window (trend), one (key, dow)
    aggregate (seasonal; |keys|·7 rows, broadcast back), pure
    arithmetic for the remainder. dow is 0=Monday (the w16 convention:
    Spark ``weekday`` == ISO dow − 1)."""
    two_mid = (
        "element_at({a}, cast((size({a}) + 1) div 2 as int))"
        " + element_at({a}, cast(size({a}) div 2 + 1 as int))"
    )
    det = (
        rolling_median_x2(daily, frame_rows)
        .withColumn("det_x2", 2 * F.col("cents") - F.col("med_x2"))
        .withColumn("dow", F.weekday("day"))
    )
    seas = (
        det.groupBy("key", "dow")
        .agg(F.sort_array(F.collect_list("det_x2")).alias("__a"))
        .select(
            "key",
            "dow",
            F.expr(two_mid.format(a="__a")).cast("long").alias("seasonal_x4"),
        )
    )
    return (
        det.join(F.broadcast(seas), ["key", "dow"])
        .select(
            "key",
            "day",
            "cents",
            "med_x2",
            "seasonal_x4",
            (2 * F.col("det_x2") - F.col("seasonal_x4"))
            .cast("long")
            .alias("remainder_x4"),
        )
        .orderBy("key", "day")
    )


_W27_ORACLE = f"""
WITH {_DAILY_CTE},
trend AS (
  SELECT key, day, cents,
         CAST(2 * median(cents) OVER (PARTITION BY key ORDER BY day
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS med_x2
  FROM daily
),
det AS (
  SELECT key, day, cents, med_x2,
         2 * cents - med_x2 AS det_x2, isodow(day) - 1 AS dow
  FROM trend
),
seas AS (
  SELECT key, dow, CAST(2 * median(det_x2) AS BIGINT) AS seasonal_x4
  FROM det GROUP BY 1, 2
)
SELECT d.key, d.day, d.cents, d.med_x2, s.seasonal_x4,
       CAST(2 * d.det_x2 - s.seasonal_x4 AS BIGINT) AS remainder_x4
FROM det d JOIN seas s ON s.key = d.key AND s.dow = d.dow
ORDER BY 1, 2
"""


@register("w27_robust_stl", oracle=_W27_ORACLE, bench=True)
def q_robust_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: robust STL-lite (median trend, median
    weekday seasonal, exact integer remainder; 4·cents = 2·med_x2 +
    seasonal_x4 + remainder_x4 reconstructs by construction)."""
    ev = load_table(spark, sf_dir, "events")
    return robust_stl(daily_cents(ev, "event_type", "ts", "value"))


def max_drawdown(daily: DataFrame) -> DataFrame:
    """Per-key maximum drawdown of the cumulative daily series: the
    deepest gap between the running peak and the running total (all
    integer cents), plus the FIRST trough day that achieves it —
    the worst-case-regression summary for any cumulative KPI. One
    key-partitioned window pass (cumsum + running max share the sort)
    and two tiny aggregates."""
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = (
        daily.withColumn("__cum", F.sum("cents").over(w))
        .withColumn("__peak", F.max(F.col("__cum")).over(w))
        .withColumn("__dd", F.col("__peak") - F.col("__cum"))
    )
    worst = dd.groupBy("key").agg(F.max("__dd").alias("max_drawdown"))
    return (
        dd.join(F.broadcast(worst), "key")
        .filter(F.col("__dd") == F.col("max_drawdown"))
        .groupBy("key")
        .agg(
            F.max("__dd").cast("long").alias("max_drawdown"),
            F.min("day").alias("trough_day"),
        )
        .orderBy("key")
    )


_W28_ORACLE = f"""
WITH {_DAILY_CTE},
walk1 AS (
  SELECT key, day, sum(cents) OVER w AS cum
  FROM daily
  WINDOW w AS (PARTITION BY key ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
walk AS (
  SELECT key, day, cum, max(cum) OVER w AS peak
  FROM walk1
  WINDOW w AS (PARTITION BY key ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
dd AS (SELECT key, day, peak - cum AS d FROM walk),
worst AS (SELECT key, max(d) AS max_drawdown FROM dd GROUP BY key)
SELECT w.key, CAST(w.max_drawdown AS BIGINT) AS max_drawdown,
       min(dd.day) AS trough_day
FROM worst w JOIN dd ON dd.key = w.key AND dd.d = w.max_drawdown
GROUP BY 1, 2 ORDER BY 1
"""


@register("w28_max_drawdown", oracle=_W28_ORACLE, bench=True)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: max drawdown (deepest running-peak gap) of
    cumulative daily revenue per event type, with the first trough day
    — integer cents end to end."""
    ev = load_table(spark, sf_dir, "events")
    return max_drawdown(daily_cents(ev, "event_type", "ts", "value"))
