"""Exact mode per group with a deterministic tie rule — the
most-frequent-value aggregate SQL never standardized: engine-native
``mode()`` implementations break ties arbitrarily (DuckDB's docs say
"first value encountered"), which is a cross-engine hash landmine, so
the engine form IS the explicit count + argmax-with-tie-rule plan:
group count, then rank by (count DESC, value ASC) and keep rank 1.

One hash aggregate on (group, value) + one window over the distinct
(group, value) pairs — the window input is value-cardinality-bounded,
never row-bounded. All integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def mode_per_group(df: DataFrame, group_col: str, value_col) -> DataFrame:
    """(g, mode_value, n_occurrences): the most frequent value per
    group, ties to the SMALLEST value."""
    counts = df.select(
        F.col(group_col).alias("g"), value_col.alias("v")
    ).groupBy("g", "v").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("g").orderBy(F.desc("n"), F.asc("v"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "g",
            F.col("v").alias("mode_value"),
            F.col("n").alias("n_occurrences"),
        )
        .orderBy("g")
    )


_A22_ORACLE = """
WITH counts AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS INT) AS v,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT g, v, n,
         row_number() OVER (PARTITION BY g ORDER BY n DESC, v) AS rn
  FROM counts
)
SELECT g, v AS mode_value, n AS n_occurrences
FROM ranked WHERE rn = 1 ORDER BY g
"""


@register("a22_mode_per_group", oracle=_A22_ORACLE, bench=True)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family beyond-ref: exact most-frequent quantity per return
    flag with the deterministic (count DESC, value ASC) tie rule."""
    li = load_table(spark, sf_dir, "lineitem")
    return mode_per_group(
        li, "l_returnflag", F.col("l_quantity").cast("int")
    )
