"""Degree assortativity of the co-purchase graph — Newman's r: the
Pearson correlation of endpoint degrees over edges. Positive r =
hub-meets-hub (social-network shape), negative = hub-meets-leaf
(infrastructure shape); it is the one-number summary of whether the
co-purchase graph will develop "last reducer" hot spots as it grows.

Exactness: the ml_corr_matrix recipe verbatim — edges symmetrize to
(deg_u, deg_v) both directions (so the statistic is direction-free),
ONE aggregate computes the decimal(38,0) sufficient statistics over
exact integer degrees, and the closed-form Pearson runs as a fixed
IEEE expression at the end, 6-dp rounded.

Plan: degree aggregate, two broadcast-friendly equi-joins to attach
endpoint degrees, one total aggregate. Linear in edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.operators.graph import copurchase_edges


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One row: (n_edges, assortativity) over an ``(a < b)`` edge
    table. NULL assortativity on a degree-regular graph (zero
    variance)."""
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ends = edges.join(da, "a").join(db, "b")
    sym = ends.select(
        F.col("da").alias("x"), F.col("db").alias("y")
    ).unionAll(ends.select(F.col("db").alias("x"), F.col("da").alias("y")))
    dec = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    row = sym.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )
    nD = F.col("n").cast("double")
    sD = lambda c: F.col(c).cast("double")  # noqa: E731
    num = nD * sD("sxy") - sD("sx") * sD("sy")
    va = nD * sD("sxx") - sD("sx") * sD("sx")
    vb = nD * sD("syy") - sD("sy") * sD("sy")
    r = F.when(va * vb > 0, F.round(num / F.sqrt(va * vb), 6) + F.lit(0.0))
    return row.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        r.alias("assortativity"),
    )


_ASSORT_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT pa.l_partkey AS a, pb.l_partkey AS b
  FROM li pa JOIN li pb
    ON pa.l_orderkey = pb.l_orderkey AND pa.l_partkey < pb.l_partkey
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY 1
),
ends AS (
  SELECT da.d AS x, db.d AS y
  FROM edges e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
),
sym AS (SELECT x, y FROM ends UNION ALL SELECT y AS x, x AS y FROM ends),
stats AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM sym
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
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
       END AS assortativity
FROM stats
"""


@register("graph_assortativity", oracle=_ASSORT_ORACLE, bench=True)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph beyond-ref: Newman degree assortativity of the
    co-purchase graph from decimal integer sufficient statistics."""
    li = load_table(spark, sf_dir, "lineitem")
    return degree_assortativity(copurchase_edges(li))
