"""k-core peeling over the repeat-co-purchase graph — the classic
iterative subgraph-refinement loop (degree < k nodes removed in
synchronized rounds), as a bounded-round DataFrame iteration.

Semantics: ``kcore_peel_trace(edges, k, rounds)`` returns the PEEL
TRACE — one row per round with the surviving node and edge counts.
Round 0 is the input graph; round i applies one synchronized peel
(drop nodes whose degree in round i-1's subgraph is < k, keep edges
with both endpoints surviving). A fixed round count — the pagerank
precedent (graph.py PAGERANK_ITERS) — is what makes the operator
cross-engine certifiable: the DuckDB oracle unrolls the same R rounds
as chained MATERIALIZED CTEs (materialization pinned explicitly —
DuckDB inlines multiply-referenced CTEs by default, which re-evaluates
each peel level ~4x and goes exponential over an unrolled loop).
Convergence shows in the trace itself (equal consecutive rows); the
production variant loops until fixpoint with the identical round body.

Scale shape per round: one map-side-combined degree aggregate over the
symmetrized edge list (8-byte keys) and two left-semi joins back onto
the edges (both shuffle on the same key domain); ``localCheckpoint``
truncates lineage so the plan stays constant-size across rounds (the
iterative-DataFrame footgun, same treatment as connected_components /
pagerank). Trace rows are 1-row aggregates — nothing wider than a
count ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

KCORE_K = 3
KCORE_ROUNDS = 6


def repeat_copurchase_edges(lineitem: DataFrame, min_orders: int = 2) -> DataFrame:
    """Part pairs co-purchased in ≥ ``min_orders`` distinct orders
    (``a < b``). The multiplicity cut keeps the graph sparse — the raw
    co-purchase graph is a union of order-cliques whose k-core collapses
    in one round; repeat pairs carry actual signal. Pair join is
    per-order (bounded by order size²), never cross-order."""
    from machine_learning_with_spark_streaming_spark.operators.graph import order_part_pairs

    # r11: per-order pair enumeration from a sorted collect_set array
    # (one lineitem scan, one orderkey exchange) replaces the
    # li ⋈ li self-join — see order_part_pairs. Per-order pair multiset
    # is identical, so the ≥ min_orders multiplicity cut is unchanged.
    return (
        order_part_pairs(lineitem)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__m"))
        .filter(F.col("__m") >= min_orders)
        .select("a", "b")
    )


def _endpoints(e: DataFrame) -> DataFrame:
    return e.select(F.col("a").alias("v")).unionAll(e.select(F.col("b").alias("v")))


def kcore_peel_trace(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """(round, n_nodes, n_edges) for rounds 0..``rounds``. Round-i
    nodes are those passing the degree-≥-k test against round-(i-1)'s
    subgraph; round-0 nodes are the distinct endpoints."""
    e = edges.select("a", "b").localCheckpoint(eager=True)
    parts = [
        _endpoints(e)
        .agg(F.countDistinct("v").alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .select(F.lit(0).alias("round"), "n_nodes", "n_edges")
    ]
    for i in range(1, rounds + 1):
        deg = _endpoints(e).groupBy("v").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("v").localCheckpoint(eager=True)
        e = (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        parts.append(
            keep.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(F.lit(i).alias("round"), "n_nodes", "n_edges")
        )
    trace = parts[0]
    for p in parts[1:]:
        trace = trace.unionAll(p)
    return trace.select(
        F.col("round").cast("int").alias("round"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
    ).orderBy("round")


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    parts = [
        """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT pa.l_partkey AS a, pb.l_partkey AS b
  FROM li pa JOIN li pb
    ON pa.l_orderkey = pb.l_orderkey AND pa.l_partkey < pb.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e{p} UNION ALL SELECT b AS v FROM e{p}
  ) GROUP BY 1
),
k{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{p} e
  JOIN k{i} ka ON ka.v = e.a
  JOIN k{i} kb ON kb.v = e.b
)"""
        )
    trace = [
        "SELECT 0 AS round,"
        " (SELECT count(*) FROM (SELECT a AS v FROM e0 UNION SELECT b FROM e0))"
        " AS n_nodes, (SELECT count(*) FROM e0) AS n_edges"
    ]
    for i in range(1, rounds + 1):
        trace.append(
            f"SELECT {i}, (SELECT count(*) FROM k{i}),"
            f" (SELECT count(*) FROM e{i})"
        )
    return (
        ",\n".join(parts)
        + "\nSELECT CAST(round AS INT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,"
        " CAST(n_edges AS BIGINT) AS n_edges FROM (\n"
        + "\nUNION ALL\n".join(trace)
        + "\n) ORDER BY 1"
    )


@register("graph_kcore_peel", oracle=_kcore_oracle(), bench=True)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six synchronized 3-core peel rounds over the repeat-co-purchase
    part graph — the trace of surviving (nodes, edges) per round."""
    li = load_table(spark, sf_dir, "lineitem")
    return kcore_peel_trace(repeat_copurchase_edges(li))
