"""Gaps-and-islands: consecutive-day activity streaks per key.

The classic "longest run of consecutive calendar days with activity"
report (retention/engagement analytics; in the reference's domain,
"how many consecutive daily snapshots did a material appear in").
Distinct from S12 sessionization (gap-threshold grouping of event
timestamps): islands are exact calendar-consecutive runs on a DATE
axis, detected with the row_number-difference trick — two shuffles
(distinct dates, then the per-key window), zero joins.

Scale shape: the window partitions by key and sorts each key's
distinct dates — bounded by days-per-key (≤ the calendar span, ~730
here), never by row count; the distinct() pre-aggregation collapses
the fact table first, so at 100 TB the windowed relation is
|keys| x |days| at most. The certified output is the distribution of
per-key best streaks — bounded by the longest streak, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def day_streaks(df: DataFrame, key_col: str, date_col: str) -> DataFrame:
    """Per-(key, island) streak table: ``streak_len`` consecutive days
    starting at ``streak_start``. ``date_col`` must already be a DATE
    expression; duplicate (key, day) rows collapse first."""
    days = df.select(
        F.col(key_col).alias("key"), F.col(date_col).alias("d")
    ).distinct()
    w = Window.partitionBy("key").orderBy("d")
    island = F.date_sub(F.col("d"), F.row_number().over(w))
    return (
        days.withColumn("island", island)
        .groupBy("key", "island")
        .agg(
            F.count(F.lit(1)).cast("long").alias("streak_len"),
            F.min("d").alias("streak_start"),
        )
    )


def best_streak_distribution(streaks: DataFrame) -> DataFrame:
    """(best_len, n_keys): how many keys have a longest streak of
    exactly ``best_len`` consecutive days."""
    best = streaks.groupBy("key").agg(F.max("streak_len").alias("best_len"))
    return (
        best.groupBy("best_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .orderBy("best_len")
    )


_W22_ORACLE = """
WITH days AS (
  SELECT DISTINCT o_custkey AS key, CAST(o_orderdate AS DATE) AS d
  FROM orders
),
islands AS (
  SELECT key, d,
         d - CAST(row_number() OVER (PARTITION BY key ORDER BY d) AS INT)
           AS island
  FROM days
),
streaks AS (
  SELECT key, island, CAST(count(*) AS BIGINT) AS streak_len
  FROM islands GROUP BY key, island
),
best AS (
  SELECT key, max(streak_len) AS best_len FROM streaks GROUP BY key
)
SELECT best_len, CAST(count(*) AS BIGINT) AS n_keys
FROM best GROUP BY best_len ORDER BY best_len
"""


@register("w22_order_streaks", oracle=_W22_ORACLE, bench=True)
def q_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: longest consecutive-order-day streak per
    customer (gaps-and-islands via row_number difference), reported as
    the bounded (best_len, n_keys) distribution."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od")
    )
    return best_streak_distribution(day_streaks(orders, "o_custkey", "od"))
