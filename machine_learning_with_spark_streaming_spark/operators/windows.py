"""Window-shaped operators (SURVEY.md §2.5, W1-W5).

The reference builds these from sort + cumsum + transform + self-joins
(pandas); each is one Spark ``Window`` spec here — single shuffle on the
partition key, no self-joins.

ABC rule parity (myConversionsClass.py:228-252): start 'C'; first positive
row of a group is 'A' (``val == CumSum``); ``0 < CumPercent <= A`` is 'A';
``A < CumPercent <= B`` is 'B' unless already 'A'; remaining 'C' rows with
``Percent >= B - A`` get 'B'. Negative values are clamped to 0 before
cumulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.nulls import first_nonzero
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def abc_classify(
    df: DataFrame,
    group: str | None,
    value: str,
    a: float = 0.8,
    b: float = 0.95,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W1: ABC Pareto classification (calcABC,
    myConversionsClass.py:228-252). ``tiebreak`` makes the cumulative
    order total (deterministic) — the reference relies on pandas sort
    stability instead."""
    tiebreak = tiebreak or []
    # keep the input's numeric type: on DECIMAL inputs the cumulations stay
    # exact/associative (identical across engines and partitionings)
    v = F.when(F.col(value) < 0, F.lit(0)).otherwise(
        F.coalesce(F.col(value), F.lit(0))
    )
    df = df.withColumn("__v", v)
    part = [group] if group else []
    order = [F.desc("__v")] + [F.asc(c) for c in tiebreak]
    w_cum = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*part)
    df = (
        df.withColumn("cum_sum", F.sum("__v").over(w_cum))
        .withColumn("total", F.sum("__v").over(w_all))
        .withColumn(
            "percent", F.col("__v").cast("double") / F.col("total").cast("double")
        )
        .withColumn(
            "cum_percent",
            F.col("cum_sum").cast("double") / F.col("total").cast("double"),
        )
    )
    first_row_a = (F.col("__v") > 0) & (F.col("__v") == F.col("cum_sum"))
    share_a = (F.col("cum_percent") > 0) & (F.col("cum_percent") <= a)
    share_b = (F.col("cum_percent") > a) & (F.col("cum_percent") <= b)
    big_c = F.col("percent") >= (b - a)
    abc = (
        F.when(first_row_a | share_a, F.lit("A"))
        .when(share_b, F.lit("B"))
        .when(big_c, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return df.withColumn("abc", abc).drop("__v")


def xyz_classify(
    df: DataFrame,
    mean_col: str,
    std_col: str,
    x: float = 0.5,
    y: float = 1.0,
    default_cov: float = 9.0,
) -> DataFrame:
    """W2: XYZ variability class from mean/std (calcXYZ,
    myConversionsClass.py:215-225): COV defaults to 9.0 unless mean > 0;
    X if 0 < COV <= x, Y if x < COV <= y, else Z."""
    cov = F.when(F.col(mean_col) > 0, F.col(std_col) / F.col(mean_col)).otherwise(
        F.lit(default_cov)
    )
    df = df.withColumn("cov", cov)
    xyz = (
        F.when((F.col("cov") > 0) & (F.col("cov") <= x), F.lit("X"))
        .when((F.col("cov") > x) & (F.col("cov") <= y), F.lit("Y"))
        .otherwise(F.lit("Z"))
    )
    return df.withColumn("xyz", xyz)


def max_per_group(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """W3/J7: keep rows at their group max (filterMaxValue,
    myConversionsClass.py:341-353) — window max + filter, no self-join."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__mx", F.max(value).over(w))
        .filter(F.col(value) == F.col("__mx"))
        .drop("__mx")
    )


def rank_snapshots(df: DataFrame, snap_col: str, k: int = 2) -> DataFrame:
    """W4: latest/previous snapshot ranking (qualitycheck
    PostSql.py:56-78): dense_rank over distinct snapshot values desc.

    The unpartitioned window is safe here by construction: it runs on
    ``.distinct()`` snapshot values (monthly versions — dozens of rows),
    never on a fact table. Callers joining the result back to facts
    should broadcast it."""
    w = Window.orderBy(F.desc(snap_col))
    return (
        df.select(snap_col)
        .distinct()
        .withColumn("snap_rank", F.dense_rank().over(w))
        .filter(F.col("snap_rank") <= k)
    )


coalesce_first_nonzero = first_nonzero  # W5 re-export


# ---------------------------------------------------------------- queries

_W1_ORACLE = """
WITH rev AS (
  SELECT p.p_brand AS brand, l.l_partkey AS partkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), c AS (
  SELECT brand, partkey, revenue,
    sum(CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END)
      OVER (PARTITION BY brand ORDER BY (CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END) DESC, partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_sum,
    sum(CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END)
      OVER (PARTITION BY brand) AS total,
    (CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END) AS v
  FROM rev
), r AS (
  SELECT brand, partkey, revenue, v, cum_sum,
         CAST(v AS DOUBLE) / CAST(total AS DOUBLE) AS pct,
         CAST(cum_sum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_pct
  FROM c
)
SELECT brand, partkey, CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(cum_pct, 6) AS cum_percent,
       CASE
         WHEN (v > 0 AND v = cum_sum) OR (cum_pct > 0 AND cum_pct <= 0.8) THEN 'A'
         WHEN cum_pct > 0.8 AND cum_pct <= 0.95 THEN 'B'
         WHEN pct >= 0.15 THEN 'B'
         ELSE 'C'
       END AS abc
FROM r
ORDER BY brand, partkey
"""


@register("w1_abc_classify", oracle=_W1_ORACLE)
def q_abc(spark, sf_dir):
    """W1: ABC Pareto classification of parts by revenue within brand."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"))
    )
    out = abc_classify(rev, "brand", "revenue", tiebreak=["partkey"])
    return out.select(
        "brand",
        "partkey",
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round("cum_percent", 6).alias("cum_percent"),
        "abc",
    ).orderBy("brand", "partkey")


_W2_ORACLE = """
WITH monthly AS (
  SELECT l_partkey AS partkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
         sum(l_quantity) AS qty
  FROM lineitem GROUP BY 1, 2
), stats AS (
  SELECT partkey, avg(qty) AS mean_qty, stddev_pop(qty) AS std_qty
  FROM monthly GROUP BY 1
)
SELECT partkey, round(mean_qty, 4) AS mean_qty,
       round(CASE WHEN mean_qty > 0 THEN std_qty / mean_qty ELSE 9.0 END, 4) AS cov,
       CASE
         WHEN (CASE WHEN mean_qty > 0 THEN std_qty / mean_qty ELSE 9.0 END) > 0
          AND (CASE WHEN mean_qty > 0 THEN std_qty / mean_qty ELSE 9.0 END) <= 0.5 THEN 'X'
         WHEN (CASE WHEN mean_qty > 0 THEN std_qty / mean_qty ELSE 9.0 END) > 0.5
          AND (CASE WHEN mean_qty > 0 THEN std_qty / mean_qty ELSE 9.0 END) <= 1.0 THEN 'Y'
         ELSE 'Z'
       END AS xyz
FROM stats
ORDER BY partkey
"""


@register("w2_xyz_classify", oracle=_W2_ORACLE)
def q_xyz(spark, sf_dir):
    """W2: XYZ variability classification over monthly demand."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(
            F.col("l_partkey").alias("partkey"),
            F.trunc("l_shipdate", "month").alias("m"),
        )
        .agg(F.sum("l_quantity").alias("qty"))
    )
    stats = monthly.groupBy("partkey").agg(
        F.avg("qty").alias("mean_qty"), F.stddev_pop("qty").alias("std_qty")
    )
    out = xyz_classify(stats, "mean_qty", "std_qty")
    return out.select(
        "partkey",
        F.round("mean_qty", 4).alias("mean_qty"),
        F.round("cov", 4).alias("cov"),
        "xyz",
    ).orderBy("partkey")


_W3_ORACLE = """
SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS l_quantity
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         max(l_quantity) OVER (PARTITION BY l_orderkey) AS mx
  FROM lineitem
) WHERE l_quantity = mx
ORDER BY 1, 2
"""


@register("w3_max_per_group", oracle=_W3_ORACLE)
def q_max_per_group(spark, sf_dir):
    """W3: rows at group max, ties kept (filterMaxValue)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        max_per_group(li, ["l_orderkey"], "l_quantity")
        .select("l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    )


_W4_ORACLE = """
SELECT snapshot_month, CAST(snap_rank AS INT) AS snap_rank FROM (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS snapshot_month,
         dense_rank() OVER (ORDER BY CAST(date_trunc('month', o_orderdate) AS DATE) DESC) AS snap_rank
  FROM orders
) WHERE snap_rank <= 2
ORDER BY 1
"""


@register("w4_latest_previous_snapshot", oracle=_W4_ORACLE)
def q_latest_previous(spark, sf_dir):
    """W4: latest + previous snapshot via dense_rank."""
    orders = load_table(spark, sf_dir, "orders")
    snaps = orders.select(F.trunc("o_orderdate", "month").alias("snapshot_month"))
    return rank_snapshots(snaps, "snapshot_month", k=2).orderBy("snapshot_month")


_W5_ORACLE = """
SELECT round(coalesce(nullif(l_discount, 0), nullif(l_tax, 0)), 2) AS first_rate,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY 1
ORDER BY 1 NULLS LAST
"""


@register("w5_first_nonzero", oracle=_W5_ORACLE)
def q_first_nonzero(spark, sf_dir):
    """W5: first non-zero across ordered columns (searchSequentially,
    myConversionsClass.py:335-339)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.round(first_nonzero("l_discount", "l_tax"), 2).alias("first_rate")
        )
        .groupBy("first_rate")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("first_rate").asc_nulls_last())
    )


def rolling_time_window(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    days: int = 7,
) -> DataFrame:
    """W6: per-key rolling time-range aggregate (trailing ``days``-day
    sum + count per event). One shuffle on ``key_col``; the range frame
    is evaluated in a single sorted pass per key partition — no
    self-join, no explode, so a key's cost is O(rows·frame) and the
    whole operator scales with the number of keys, not the time span.

    The frame is anchored on ``unix_micros`` (int64) rather than a
    seconds cast so sub-second event times keep their ordering and the
    boundary is exactly ``t - days`` at microsecond precision — the
    same arithmetic a DuckDB/ANSI ``RANGE INTERVAL n DAYS PRECEDING``
    frame uses.
    """
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(us)
        .rangeBetween(-days * 86_400 * 1_000_000, 0)
    )
    return df.withColumn("roll_sum", F.sum(value_col).over(w)).withColumn(
        "roll_cnt", F.count(F.lit(1)).over(w)
    )


_W6_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       epoch_us(ts) AS ts_us,
       round(sum(value) OVER w, 2) AS roll_sum_7d,
       CAST(count(*) OVER w AS BIGINT) AS roll_cnt_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


@register("w6_rolling_7d", oracle=_W6_ORACLE)
def q_rolling_7d(spark, sf_dir):
    """W6: trailing 7-day activity per user over the events stream —
    the batch twin of the s11 sliding window (per-event trailing frame
    instead of fixed slide boundaries)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = rolling_time_window(ev, "ts", "user_id", "value", days=7)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("roll_sum", 2).alias("roll_sum_7d"),
        F.col("roll_cnt").alias("roll_cnt_7d"),
    ).orderBy("event_id")


# -------------------------------------------------- SCD2 range compression

def scd2_compress(
    df: DataFrame,
    key_col: str,
    snapshot_col: str,
    value_col: str,
) -> DataFrame:
    """Compress a per-snapshot attribute series into SCD-type-2 validity
    ranges: one row per (key, run of consecutive equal values), with
    ``valid_from`` / ``valid_to`` (inclusive) and ``is_current``.

    The warehouse twin of the reference's snapshot-versioned facts
    (pipeline/datavalidation.py:237-257 tracks latest-vs-previous
    snapshots; SCD2 is the general form). Change detection is a
    null-safe ``lag`` compare + running sum over one per-key window; the
    range rollup groups on ``(key, version)`` which REUSES the window
    partitioning — like sessionize, one data shuffle end-to-end.
    ``valid_to`` of the last version is NULL (open-ended)."""
    w = Window.partitionBy(key_col).orderBy(snapshot_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changed = F.when(
        F.lag(value_col).over(w).isNull()
        | ~F.col(value_col).eqNullSafe(F.lag(value_col).over(w)),
        1,
    ).otherwise(0)
    versioned = df.withColumn("__ver", F.sum(changed).over(run))
    ranges = versioned.groupBy(key_col, "__ver").agg(
        # all values in a version are equal; min is the deterministic pick
        F.min(value_col).alias(value_col),
        F.min(snapshot_col).alias("valid_from"),
        F.max(snapshot_col).alias("valid_to"),
        F.count(F.lit(1)).alias("n_snapshots"),
    )
    wk = Window.partitionBy(key_col)
    return ranges.withColumn(
        "is_current",
        (F.col("valid_to") == F.max("valid_to").over(wk)).cast("int"),
    ).withColumn(
        "valid_to",
        F.when(F.col("is_current") == 1, F.lit(None)).otherwise(
            F.col("valid_to")
        ),
    ).drop("__ver")


_SCD2_ORACLE = """
WITH series AS (
  SELECT o_custkey AS custkey, date_trunc('month', o_orderdate) AS snap,
         o_orderpriority AS prio, count(*) AS n
  FROM orders GROUP BY 1, 2, 3
),
dominant AS (
  SELECT custkey, snap, prio FROM (
    SELECT custkey, snap, prio,
           row_number() OVER (PARTITION BY custkey, snap
                              ORDER BY n DESC, prio) AS rn
    FROM series) WHERE rn = 1
),
flagged AS (
  SELECT custkey, snap, prio,
         CASE WHEN lag(prio) OVER w IS NULL OR prio != lag(prio) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM dominant WINDOW w AS (PARTITION BY custkey ORDER BY snap)
),
versioned AS (
  SELECT custkey, snap, prio,
         sum(chg) OVER (PARTITION BY custkey ORDER BY snap
                        ROWS UNBOUNDED PRECEDING) AS ver
  FROM flagged
),
ranges AS (
  SELECT custkey, ver, min(prio) AS prio,
         min(snap) AS valid_from, max(snap) AS valid_to,
         CAST(count(*) AS BIGINT) AS n_snapshots
  FROM versioned GROUP BY 1, 2
)
SELECT CAST(custkey AS BIGINT) AS custkey, prio,
       CAST(valid_from AS DATE) AS valid_from,
       CASE WHEN valid_to = max(valid_to) OVER (PARTITION BY custkey)
            THEN NULL ELSE CAST(valid_to AS DATE) END AS valid_to,
       n_snapshots,
       CAST(valid_to = max(valid_to) OVER (PARTITION BY custkey) AS INT)
         AS is_current
FROM ranges
ORDER BY 1, valid_from
"""


@register("w7_scd2_ranges", oracle=_SCD2_ORACLE)
def q_scd2_ranges(spark, sf_dir):
    """SCD2 validity ranges for each customer's dominant monthly order
    priority (deterministic mode: count desc, priority asc)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    series = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.date_trunc("month", "o_orderdate").alias("snap"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wd = Window.partitionBy("custkey", "snap").orderBy(
        F.col("n").desc(), F.col("prio")
    )
    dominant = (
        series.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("custkey", "snap", "prio")
    )
    out = scd2_compress(dominant, "custkey", "snap", "prio")
    return out.select(
        "custkey",
        "prio",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "n_snapshots",
        "is_current",
    ).orderBy("custkey", "valid_from")


# ------------------------------- W8: exact running distinct per key

def cumulative_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    dim_col: str,
) -> DataFrame:
    """Exact running count of DISTINCT ``dim_col`` values per key over
    event time — "how many different products has this customer ever
    ordered, as of each day". ``count(distinct) OVER`` is unsupported
    (Spark AND most engines), and the naive fix — a set per window — is
    O(n²) memory. The scalable identity: a dim value contributes 1
    exactly at its FIRST occurrence per key, so mark firsts with one
    ``row_number`` over (key, dim), then a cumulative SUM of the marks
    over (key, time) — two windows sharing key-partitioned sorts,
    no sets, no rescans. Ties in ``ts`` resolve by ``dim_col`` so both
    engines mark the same row first.

    Callers must feed DISTINCT ``(key, ts, dim)`` rows: with exact
    duplicates the (ts, dim) order no longer totally orders the
    partition, and which duplicate carries the +1 is engine-dependent —
    the registered query pre-distincts for exactly this reason."""
    w_first = Window.partitionBy(key_col, dim_col).orderBy(ts_col, dim_col)
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, dim_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = df.withColumn(
        "is_first", (F.row_number().over(w_first) == 1).cast("long")
    )
    return marked.withColumn(
        "distinct_so_far", F.sum("is_first").over(w_cum).cast("long")
    )


_W8_ORACLE = """
WITH src AS (
  SELECT DISTINCT o_custkey, o_orderdate, o_orderpriority
  FROM orders WHERE o_custkey < 200
),
marked AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         CASE WHEN row_number() OVER (
             PARTITION BY o_custkey, o_orderpriority
             ORDER BY o_orderdate, o_orderpriority
           ) = 1 THEN 1 ELSE 0 END AS is_first
  FROM src
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(o_orderdate AS VARCHAR) AS order_ts,
       o_orderpriority AS priority,
       CAST(sum(is_first) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderpriority
         ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS distinct_so_far
FROM marked
ORDER BY 1, 2, 3
"""


@register("w8_cumulative_distinct", oracle=_W8_ORACLE)
def q_cumulative_distinct(spark, sf_dir):
    """Running distinct order-priority count per customer — the exact
    windowed-distinct identity (first-occurrence mark + cumulative
    sum) that replaces the unsupported count(distinct) OVER."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select("o_custkey", "o_orderdate", "o_orderpriority")
        .distinct()
    )
    out = cumulative_distinct(
        orders, "o_custkey", "o_orderdate", "o_orderpriority"
    )
    return out.select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderdate").cast("string").alias("order_ts"),
        F.col("o_orderpriority").alias("priority"),
        "distinct_so_far",
    ).orderBy("custkey", "order_ts", "priority")


# ------------------------------------ W9: time-weighted average (TWAP)

def time_weighted_avg(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-(key, day) time-weighted average: each observation holds its
    value until the next one (step function), the last one until
    midnight — the TWAP/duration-weighted mean that a plain ``avg``
    gets wrong whenever sampling is irregular (the standard
    market-data / sensor downsample next to r7's OHLC bars).

    Durations are exact integer microseconds (epoch-µs differences), so
    the only float arithmetic is the value x weight products — summed
    per small (key, day) group and rounded 6 dp, the certified-safe
    pattern. One shuffle: the lead window and the groupBy share the
    (key, day) hash partitioning."""
    d = F.to_date(ts_col).alias("day")
    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(key), d, F.col(ts_col), F.col(id_col), F.col(value_col))
    w = Window.partitionBy(key, "day").orderBy(ts_col, id_col)
    day_end = F.unix_micros(
        (F.col("day") + F.expr("INTERVAL 1 DAY")).cast("timestamp")
    )
    dur = F.coalesce(
        F.unix_micros(F.lead(ts_col).over(w)), day_end
    ) - F.unix_micros(F.col(ts_col))
    stepped = base.withColumn("__dur_us", dur)
    return stepped.groupBy(key, "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.round(
                F.sum(F.col(value_col) * F.col("__dur_us"))
                / F.sum("__dur_us"),
                6,
            )
            + F.lit(0.0)
        ).alias("twap"),
    )


_TWAP_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
stepped AS (
  SELECT event_type, day, value,
         coalesce(
           epoch_us(lead(ts) OVER (PARTITION BY event_type, day
                                   ORDER BY ts, event_id)),
           epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))
         ) - epoch_us(ts) AS dur_us
  FROM base
)
SELECT event_type, day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value * dur_us) / sum(dur_us), 6) + 0.0 AS twap
FROM stepped GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("w9_time_weighted_avg", oracle=_TWAP_ORACLE, bench=True)
def q_time_weighted_avg(spark, sf_dir):
    """Daily TWAP per event type over the events table — exact integer
    microsecond durations, last observation carried to midnight."""
    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev, "event_type", "ts", "value").orderBy(
        "event_type", "day"
    )


# ----------------------------- W10: per-group percentile normalization

def percentile_normalize(
    df: DataFrame, key: str, value_col: str, id_col: str = "event_id"
) -> DataFrame:
    """Rank-based feature scaling: percent_rank of the value within its
    key group — the monotone [0,1] normalization that is robust to
    outliers and arbitrary distributions (the preprocessing step in
    front of quantile-binned features / calibration curves). Ties rank
    on the VALUE only, so equal values get equal scores in both engines
    regardless of physical row order."""
    w = Window.partitionBy(key).orderBy(value_col)
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col), F.col(key), F.col(value_col)
    )
    return base.withColumn(
        "pctile", F.round(F.percent_rank().over(w), 6) + F.lit(0.0)
    )


_W10_ORACLE = """
SELECT event_id, event_type, value,
       round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6)
         + 0.0 AS pctile
FROM events WHERE value IS NOT NULL
ORDER BY event_id
"""


@register("w10_percentile_normalize", oracle=_W10_ORACLE, bench=True)
def q_percentile_normalize(spark, sf_dir):
    """Percentile-normalized event values per type (rank-based [0,1]
    scaling, tie-stable cross-engine)."""
    ev = load_table(spark, sf_dir, "events")
    return percentile_normalize(ev, "event_type", "value").orderBy("event_id")


# --------------------------- W11: fixed-window EWMA smoothing

EWMA_LAGS = 8  # alpha = 1/2 over the trailing 8 observations


def _daily_mean_series(
    df: DataFrame, key: str, ts_col: str, value_col: str
) -> DataFrame:
    """Shared w11/w13/w14 input: per-(key, day) mean built from exact
    integer cents and counts — the one place the daily-series recipe
    lives, so the EWMA family cannot desync on it."""
    day = F.to_date(ts_col).alias("day")
    return (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key), day)
        .agg(
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("__cents"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn("mean_value", F.col("__cents") / 100.0 / F.col("__n"))
    )


def _trunc_ewma(col_name: str, w) -> "F.Column":
    """The fixed-window truncated EWMA expression (weights 2^-j over
    the trailing EWMA_LAGS present terms, renormalized) — shared by
    w11 and both w13 smoothing passes; one definition, one IEEE tree."""
    num, den = F.lit(0.0), F.lit(0.0)
    for j in range(EWMA_LAGS):
        term = F.lag(col_name, j).over(w)
        wt = float(1 << (EWMA_LAGS - 1 - j))
        num = num + F.coalesce(term, F.lit(0.0)) * wt
        den = den + F.when(term.isNotNull(), wt).otherwise(0.0)
    return num / den


def ewma_smooth(
    df: DataFrame, key: str, ts_col: str, value_col: str
) -> DataFrame:
    """Daily-mean series per key smoothed by a FIXED-window EWMA
    (weights 2^-j over the trailing 8 present days, renormalized over
    the terms that exist) — the dashboard/anomaly-baseline smoother
    beside w6's flat rolling sum. The infinite-memory recursive EWMA is
    inherently sequential; the 8-term truncation (max relative tail
    error 2^-8) is the distributed form: eight lag() reads over one
    key-partitioned sort, no recursion, no state.

    Exactness: daily means are built from exact integer cents and
    counts, and the EWMA is a fixed expression tree over those
    doubles — identical IEEE ops in both engines, 6-dp rounded at the
    output only."""
    daily = _daily_mean_series(df, key, ts_col, value_col)
    w = Window.partitionBy(key).orderBy("day")
    return daily.select(
        F.col(key),
        F.col("day"),
        (F.round("mean_value", 6) + F.lit(0.0)).alias("mean_value"),
        (F.round(_trunc_ewma("mean_value", w), 6) + F.lit(0.0)).alias("ewma"),
    )


def _trunc_ewma_sql(col: str) -> tuple[str, str]:
    """SQL twin of ``_trunc_ewma`` — shared by the w11 and w13/w14
    oracles so the oracle-side recipe has one definition too."""
    nums, dens = [], []
    for j in range(EWMA_LAGS):
        wt = 1 << (EWMA_LAGS - 1 - j)
        t = f"lag({col}, {j}) OVER w"
        nums.append(f"coalesce({t}, 0.0) * {wt}.0")
        dens.append(f"CASE WHEN {t} IS NOT NULL THEN {wt}.0 ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


_EWMA_NUM, _EWMA_DEN = _trunc_ewma_sql("mean_value")

_W11_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
series AS (SELECT event_type, day, cents / 100.0 / n AS mean_value FROM daily),
sm AS (
  SELECT event_type, day, mean_value,
         ({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day,
       round(mean_value, 6) + 0.0 AS mean_value,
       round(ewma, 6) + 0.0 AS ewma
FROM sm ORDER BY 1, 2
"""


@register("w11_ewma_smooth", oracle=_W11_ORACLE, bench=True)
def q_ewma_smooth(spark, sf_dir):
    """8-term EWMA over daily mean event values per type — the
    anomaly-baseline smoother, exact-cents inputs."""
    ev = load_table(spark, sf_dir, "events")
    return ewma_smooth(ev, "event_type", "ts", "value").orderBy(
        "event_type", "day"
    )


# ------------- W13: Brown's double smoothing (level + trend forecast)


def holt_brown_smooth(
    df: DataFrame, key: str, ts_col: str, value_col: str
) -> DataFrame:
    """Brown's linear (double) exponential smoothing over the daily
    series: the classic one-parameter level+trend forecaster. With
    alpha = 1/2 (w11's 2^-j weights): S1 = EWMA(y), S2 = EWMA(S1),
    level = 2*S1 - S2, trend = (alpha/(1-alpha))*(S1-S2) = S1 - S2,
    next-day forecast = level + trend. The recursive form is
    inherently sequential; both smoothings use w11's FIXED-window
    truncation (8 trailing present terms, renormalized — max relative
    tail error 2^-8), so the whole statistic is two window passes over
    ONE key-partitioned sort (same partitioning and ordering: Catalyst
    plans both Window operators behind a single exchange — verified
    one shuffle in the plan).

    Exactness: daily means from exact integer cents; S1 stays
    UNROUNDED into the second pass so both engines run the identical
    IEEE expression tree (w11's contract, applied twice); 6-dp round
    at the output only. Daily series and the truncated-EWMA expression
    are the SAME helpers w11 uses — one definition, no desync."""
    daily = _daily_mean_series(df, key, ts_col, value_col)
    w = Window.partitionBy(key).orderBy("day")
    s1 = daily.withColumn("__s1", _trunc_ewma("mean_value", w))
    out = s1.withColumn("__s2", _trunc_ewma("__s1", w))
    level = 2.0 * F.col("__s1") - F.col("__s2")
    trend = F.col("__s1") - F.col("__s2")
    return out.select(
        F.col(key),
        F.col("day"),
        (F.round("mean_value", 6) + F.lit(0.0)).alias("mean_value"),
        (F.round(level, 6) + F.lit(0.0)).alias("level"),
        (F.round(trend, 6) + F.lit(0.0)).alias("trend"),
        (F.round(level + trend, 6) + F.lit(0.0)).alias("forecast_next"),
    )


_H1_NUM, _H1_DEN = _trunc_ewma_sql("mean_value")
_H2_NUM, _H2_DEN = _trunc_ewma_sql("__s1")

_W13_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
series AS (SELECT event_type, day, cents / 100.0 / n AS mean_value FROM daily),
p1 AS (
  SELECT event_type, day, mean_value,
         ({_H1_NUM}) / ({_H1_DEN}) AS __s1
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
p2 AS (
  SELECT event_type, day, mean_value, __s1,
         ({_H2_NUM}) / ({_H2_DEN}) AS __s2
  FROM p1
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day,
       round(mean_value, 6) + 0.0 AS mean_value,
       round(2.0 * __s1 - __s2, 6) + 0.0 AS level,
       round(__s1 - __s2, 6) + 0.0 AS trend,
       round((2.0 * __s1 - __s2) + (__s1 - __s2), 6) + 0.0 AS forecast_next
FROM p2 ORDER BY 1, 2
"""


@register("w13_holt_brown", oracle=_W13_ORACLE, bench=True)
def q_holt_brown(spark, sf_dir):
    """Brown's double exponential smoothing (level/trend/next-day
    forecast) over daily mean event values per type."""
    ev = load_table(spark, sf_dir, "events")
    return holt_brown_smooth(ev, "event_type", "ts", "value").orderBy(
        "event_type", "day"
    )


# ------------- W14: one-step forecast backtest (the w13 error report)


def forecast_backtest(
    df: DataFrame, key: str, ts_col: str, value_col: str
) -> DataFrame:
    """Backtest of w13's one-step-ahead forecast: pair each day's
    ``forecast_next`` with the NEXT PRESENT day's actual mean (lead()
    over the same key-partitioned order — gap days simply produce no
    evaluation pair, they don't fake a miss), then report per key the
    pair count, the mean absolute error, and the mean error (bias).
    The report that decides whether the smoother is trustworthy enough
    to alert on.

    Cross-engine exactness: forecasts and actuals are the certified
    6-dp-rounded doubles; each pair's |err| and err are floored to
    integer MICRO-units before summation, so the aggregate never sums
    raw doubles in engine-dependent order — mae/bias are integer-exact
    micro-unit divisions."""
    fc = holt_brown_smooth(df, key, ts_col, value_col)
    w = Window.partitionBy(key).orderBy("day")
    paired = fc.select(
        F.col(key),
        "forecast_next",
        F.lead("mean_value", 1).over(w).alias("__actual"),
    ).filter(F.col("__actual").isNotNull())
    paired = paired.withColumn(
        "__err",
        F.round(
            (F.col("__actual") - F.col("forecast_next")) * 1e6
        ).cast("long"),
    )
    return paired.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(abs(__err)) div count(1)").alias("mae_micros"),
        F.expr("sum(__err) div count(1)").alias("bias_micros"),
    )


_W14_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
series AS (SELECT event_type, day, cents / 100.0 / n AS mean_value FROM daily),
p1 AS (
  SELECT event_type, day, mean_value,
         ({_H1_NUM}) / ({_H1_DEN}) AS __s1
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
p2 AS (
  SELECT event_type, day,
         round(mean_value, 6) + 0.0 AS mean_value,
         round((2.0 * __s1 - __s2) + (__s1 - __s2), 6) + 0.0
           AS forecast_next
  FROM (
    SELECT event_type, day, mean_value, __s1,
           ({_H2_NUM}) / ({_H2_DEN}) AS __s2
    FROM p1
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
  )
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
paired AS (
  SELECT event_type, forecast_next,
         lead(mean_value, 1) OVER
           (PARTITION BY event_type ORDER BY day) AS actual
  FROM p2
),
errs AS (
  SELECT event_type,
         CAST(round((actual - forecast_next) * 1e6) AS BIGINT) AS e
  FROM paired WHERE actual IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(e)) // count(*) AS BIGINT) AS mae_micros,
       CAST(sum(e) // count(*) AS BIGINT) AS bias_micros
FROM errs GROUP BY 1 ORDER BY 1
"""


@register("w14_forecast_backtest", oracle=_W14_ORACLE, bench=True)
def q_forecast_backtest(spark, sf_dir):
    """Per-event-type MAE/bias of the w13 one-step forecast against
    the next present day's actual (integer micro-unit report)."""
    ev = load_table(spark, sf_dir, "events")
    return forecast_backtest(ev, "event_type", "ts", "value").orderBy(
        "event_type"
    )


# --------------------- W12: month-over-month % change (time intelligence)

def mom_pct_change(
    df: DataFrame, key: str, date_col: str, amount_col: str
) -> DataFrame:
    """Period-over-period comparison — the DAX time-intelligence staple
    (PREVIOUSMONTH / DIVIDE(cur - prev, prev), reference extracts'
    month-on-month variance shape) as one monthly rollup plus a lag
    window per key. Revenue is summed as exact integer cents; only the
    final ratio is floating, guarded at the 0/absent baseline (NULL —
    the v3/F7 zero-baseline rule).

    Scale shape: the rollup shuffles once on (key, month) with map-side
    partial sums; the lag window partitions by key over the tiny
    month-level result — never over raw rows."""
    monthly = (
        df.filter(F.col(date_col).isNotNull())
        .groupBy(
            F.col(key),
            F.date_trunc("month", F.col(date_col)).cast("date").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col(amount_col) * 100).cast("long")).alias(
                "revenue_cents"
            )
        )
    )
    w = Window.partitionBy(key).orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    return monthly.select(
        key,
        "month",
        "revenue_cents",
        prev.alias("prev_cents"),
        F.when(
            prev.isNotNull() & (prev != 0),
            F.round((F.col("revenue_cents") - prev) / prev, 6) + F.lit(0.0),
        ).alias("pct_change"),
    )


_W12_ORACLE = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1, 2
),
lagged AS (
  SELECT priority, month, revenue_cents,
         lag(revenue_cents) OVER (PARTITION BY priority ORDER BY month)
           AS prev_cents
  FROM monthly
)
SELECT priority, month, revenue_cents, prev_cents,
       CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0
            THEN round((revenue_cents - prev_cents) / (1.0 * prev_cents), 6)
                 + 0.0
       END AS pct_change
FROM lagged ORDER BY 1, 2
"""


@register("w12_mom_pct_change", oracle=_W12_ORACLE, bench=True)
def q_mom_pct_change(spark, sf_dir):
    """Month-over-month revenue % change per order priority (exact
    integer-cents rollup, guarded ratio)."""
    od = load_table(spark, sf_dir, "orders")
    return mom_pct_change(od, "o_orderpriority", "o_orderdate", "o_totalprice") \
        .withColumnRenamed("o_orderpriority", "priority") \
        .orderBy("priority", "month")
