"""Interval union coverage — merge overlapping per-key time windows
and measure the union's length: "how many distinct days was this
customer inside a 7-day post-order attention window?" The second
classic gaps-and-islands form (w22 chains consecutive POINTS; this
merges overlapping RANGES — SCD2 compaction, dedup of coverage
windows, SLA uptime stitching all reduce to it).

Algorithm: per key, intervals sort by (start, end); an interval opens
a NEW island iff its start clears the running max end of everything
before it (an exclusive-preceding window max — overlap OR adjacency
extends the island); island id = running sum of the open flags; the
union length sums (island max end − island min start + 1) per island.
Two window passes over one key-partitioned sort + one aggregate —
bounded by intervals-per-key, no self-join, no explode-per-day (the
naive explode of a 7-day window costs 7× the rows and dies on long
ranges; the island form is O(n log n) per key at ANY window length).

All integers/dates; the certified output is the bounded distribution
of per-key covered days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

COVER_DAYS = 7


def interval_coverage(iv: DataFrame) -> DataFrame:
    """(key, covered_days) from an interval table (key, s, e) with
    s <= e (DATE columns, inclusive bounds); overlapping or adjacent
    intervals merge."""
    w_prev = (
        Window.partitionBy("key")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("key")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max = F.max("e").over(w_prev)
    opens = F.when(
        prev_max.isNull() | (F.col("s") > F.date_add(prev_max, 1)), 1
    ).otherwise(0)
    islands = iv.withColumn("__island", F.sum(opens).over(w_run))
    per_island = islands.groupBy("key", "__island").agg(
        (F.datediff(F.max("e"), F.min("s")) + 1).alias("__len")
    )
    return per_island.groupBy("key").agg(
        F.sum("__len").cast("long").alias("covered_days")
    )


def coverage_distribution(cov: DataFrame) -> DataFrame:
    return (
        cov.groupBy("covered_days")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .orderBy("covered_days")
    )


_W29_ORACLE = f"""
WITH iv AS (
  SELECT o_custkey AS key, CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + {COVER_DAYS - 1} AS e
  FROM orders
),
flagged AS (
  SELECT key, s, e,
         CASE WHEN max(e) OVER w IS NULL
                OR s > max(e) OVER w + 1 THEN 1 ELSE 0 END AS opens
  FROM iv
  WINDOW w AS (PARTITION BY key ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
islands AS (
  SELECT key, s, e, sum(opens) OVER w AS island
  FROM flagged
  WINDOW w AS (PARTITION BY key ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
per_island AS (
  SELECT key, island, max(e) - min(s) + 1 AS len
  FROM islands GROUP BY 1, 2
),
cov AS (SELECT key, CAST(sum(len) AS BIGINT) AS covered_days
        FROM per_island GROUP BY key)
SELECT covered_days, CAST(count(*) AS BIGINT) AS n_keys
FROM cov GROUP BY 1 ORDER BY 1
"""


@register("w29_interval_coverage", oracle=_W29_ORACLE, bench=True)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: distribution of per-customer covered days
    under merged 7-day post-order windows (interval-union islands)."""
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_custkey").alias("key"),
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), COVER_DAYS - 1).alias("e"),
    )
    return coverage_distribution(interval_coverage(iv))
