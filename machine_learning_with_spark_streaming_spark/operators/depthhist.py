"""Equi-depth (frequency-balanced) histogram — the partner to a17's
equi-WIDTH bins: bins hold ~equal row counts, so bin boundaries ARE
the empirical quantiles. The binning a range-partitioner, a
percentile-bucketed report, or a spill-aware shuffle planner actually
wants (equi-width bins collapse under skew; equi-depth bins can't).

Scale shape — the first cut of this operator ranked RAW ROWS with a
per-group row_number (measured 48 s at 64x facts: with 3 groups the
sort runs on 3 partitions over 38M rows — a parallelism collapse,
exactly the smell the plan audit's single-partition-window rule
exists for). The shipped form collapses to the (group, value) COUNT
relation first — a hash aggregate with map-side partials — and runs
the window over that aggregated, |distinct values|-bounded relation:
bin(v) = (cum_rows_before_v · B) div n. Ties therefore stay together
(a distinct value never straddles bins — the value-collapsed
equi-depth semantics every engine's EQUI_HEIGHT histogram uses), and
bin masses are equal up to tie granularity. Integer-exact end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

DEPTH_BINS = 4


def equi_depth_histogram(
    df: DataFrame, group_col: str, value_cents, n_bins: int = DEPTH_BINS
) -> DataFrame:
    """(g, bin, lo, hi, n_rows): ~equal-mass bins per group over the
    value-collapsed count relation; a distinct value's rows never
    split across bins."""
    # r12 (guide §2.4/§2.5): hash-repartition on the GROUP KEY before the
    # aggregate — shares the groupBy's exchange (same keys, same count ⇒
    # no extra node) while moving the high-cardinality (g, v) hash build
    # off the single task an unsplittable local scan gets. Interleaved
    # A/B at sf0.1: 1.8-2.3 -> 1.4-1.7 s; values identical.
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    counts = (
        df.select(F.col(group_col).alias("g"), value_cents.alias("v"))
        .repartition(n_parts, "g", "v")
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_prev = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("g")
    binned = counts.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w_prev), F.lit(0))
    ).withColumn("n", F.sum("cnt").over(w_all)).withColumn(
        "bin", F.expr(f"(cum_before * {n_bins}) div n").cast("int")
    )
    return (
        binned.groupBy("g", "bin")
        .agg(
            F.min("v").cast("long").alias("lo"),
            F.max("v").cast("long").alias("hi"),
            F.sum("cnt").cast("long").alias("n_rows"),
        )
        .orderBy("g", "bin")
    )


_A23_ORACLE = f"""
WITH counts AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
binned AS (
  SELECT g, v, cnt,
         CAST((coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * {DEPTH_BINS})
              // sum(cnt) OVER (PARTITION BY g) AS INT) AS bin
  FROM counts
)
SELECT g, bin, CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
       CAST(sum(cnt) AS BIGINT) AS n_rows
FROM binned GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("a23_equi_depth_histogram", oracle=_A23_ORACLE, bench=True)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family beyond-ref: 4 frequency-balanced price bins per return
    flag — value-collapsed rank arithmetic, integer cents end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    return equi_depth_histogram(
        li, "l_returnflag", F.round(F.col("l_extendedprice") * 100).cast("long")
    )
