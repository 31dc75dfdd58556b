"""Common-neighbors link prediction over the co-purchase graph — the
classic Liben-Nowell/Kleinberg baseline: unlinked pairs sharing many
neighbors are the likeliest future (or missing) edges. In the
market-basket reading: part pairs that co-occur with many common
partners but never together — cross-sell candidates.

Scale shape — the wedge-enumeration cost is the whole game here, and
it is DEGREE-CAPPED: only nodes with deg ≤ CAP serve as wedge centers,
so candidate volume is Σ_{deg(z)≤CAP} deg(z)² ≤ CAP·Σdeg = 2·CAP·|E| —
linear in edges, immune to hubs (the uncapped form is the Σdeg² "last
reducer" the triangle counter's compact-forward rebuild killed). The
cap is also the Adamic-Adar intuition made hard: a super-hub common
neighbor carries ~no evidence (its 1/log(deg) weight ≈ 0), so skipping
hub centers changes rankings little while bounding the shuffle. The
final top-k is an orderBy().limit() — Spark plans TakeOrdered (per-
partition heaps + driver merge), no single-partition sort.

Everything is integer-exact: counts, degrees, ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.operators.graph import copurchase_edges

CN_DEGREE_CAP = 64
CN_TOP_K = 20


def common_neighbor_candidates(
    edges: DataFrame, degree_cap: int = CN_DEGREE_CAP, top_k: int = CN_TOP_K
) -> DataFrame:
    """Top-k UNLINKED pairs by capped common-neighbor count over an
    undirected ``(a < b)`` edge table. Returns (a, b, cn)."""
    adj = edges.select(F.col("a").alias("z"), F.col("b").alias("x")).unionAll(
        edges.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    low = adj.join(
        deg.filter(F.col("d") <= degree_cap).select("z"), "z"
    )
    l1 = low.select("z", F.col("x").alias("a"))
    l2 = low.select("z", F.col("x").alias("b"))
    cand = (
        l1.join(l2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    unlinked = cand.join(edges, ["a", "b"], "left_anti")
    return (
        unlinked.orderBy(F.desc("cn"), "a", "b")
        .limit(top_k)
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            "cn",
        )
    )


_LINKPRED_ORACLE = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT pa.l_partkey AS a, pb.l_partkey AS b
  FROM li pa JOIN li pb
    ON pa.l_orderkey = pb.l_orderkey AND pa.l_partkey < pb.l_partkey
),
adj AS (
  SELECT a AS z, b AS x FROM edges UNION ALL SELECT b AS z, a AS x FROM edges
),
deg AS (SELECT z, count(*) AS d FROM adj GROUP BY 1),
lowadj AS (
  SELECT adj.z, adj.x FROM adj JOIN deg USING (z)
  WHERE d <= {CN_DEGREE_CAP}
),
cand AS (
  SELECT l1.x AS a, l2.x AS b, count(*) AS cn
  FROM lowadj l1 JOIN lowadj l2 ON l1.z = l2.z AND l1.x < l2.x
  GROUP BY 1, 2
),
unlinked AS (
  SELECT c.a, c.b, c.cn
  FROM cand c LEFT JOIN edges e ON e.a = c.a AND e.b = c.b
  WHERE e.a IS NULL
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(cn AS BIGINT) AS cn
FROM unlinked ORDER BY cn DESC, a, b LIMIT {CN_TOP_K}
"""


@register("graph_link_prediction", oracle=_LINKPRED_ORACLE, bench=True)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph beyond-ref: top-20 unlinked part pairs by degree-capped
    common-neighbor count over the co-purchase graph."""
    li = load_table(spark, sf_dir, "lineitem")
    return common_neighbor_candidates(copurchase_edges(li))
