"""Bounded-round multi-source BFS over the co-purchase graph —
"distance to the nearest seed" is the classic graph feature (distance
to a flagged account, to a recalled part, to a curated golden record)
and the reachability primitive under k-hop audience queries.

Algorithm: synchronized frontier expansion, ``MAX_HOPS`` rounds. Each
round is ONE equi-join of the frontier against the adjacency list plus
one anti-join against the visited set — the same bounded-round
checkpointed shape as kcore_peel/label_propagation (eager
localCheckpoint per round cuts the lineage, so round r's plan does not
re-derive rounds 1..r-1). Frontiers only shrink the unvisited set;
total work is O(edges · rounds) worst case, hub-safe because the
frontier join is an equi-join, never a wedge enumeration.

The certified output is the bounded distance histogram (dist,
n_nodes) with unreached nodes at dist = -1; the oracle unrolls the
same rounds as MATERIALIZED CTEs (the kcore precedent — pinned against
DuckDB's exponential CTE re-inlining).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.operators.graph import copurchase_edges

MAX_HOPS = 3
SEED_MOD = 97


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = MAX_HOPS,
    seed_pred=None,
) -> DataFrame:
    """(node, dist) for every node reachable from the seed set within
    ``max_hops`` over an undirected ``(a < b)`` edge table; nodes of
    the graph NOT reached get dist = -1. Seeds are given either as a
    DataFrame with column `node` (seeds absent from the graph are
    ignored) or as ``seed_pred``, a boolean Column over `node` applied
    to the graph's own node set — the predicate form skips the
    separate seed derivation + semi-join when the seed set is defined
    BY a predicate anyway (r11, guide §2.4).

    r11 checkpoint diet (guide §1.2 — each eager localCheckpoint is a
    full materialization job): only the per-round FRONTIER is
    checkpointed. The visited set is a union of already-checkpointed
    layers, so checkpointing it again materialized a growing table
    max_hops times for no lineage benefit — the anti-join now reads
    the union of the flat layer RDDs directly."""
    from functools import reduce

    adj = edges.select(F.col("a").alias("z"), F.col("b").alias("x")).unionAll(
        edges.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    nodes = adj.select(F.col("z").alias("node")).distinct().localCheckpoint()
    if seed_pred is not None:
        # cheap filter over the materialized node RDD — no extra job
        frontier = nodes.filter(seed_pred)
    else:
        frontier = nodes.join(seeds, "node", "left_semi").localCheckpoint()
    layers = [frontier.withColumn("dist", F.lit(0).cast("int"))]
    visited_ids = frontier.select("node")
    for r in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier.node == adj.z)
            .select(F.col("x").alias("node"))
            .distinct()
            .join(visited_ids, "node", "left_anti")
            .localCheckpoint()
        )
        layers.append(nxt.withColumn("dist", F.lit(r).cast("int")))
        visited_ids = visited_ids.unionByName(nxt.select("node"))
        frontier = nxt
    visited = reduce(lambda a, b: a.unionByName(b), layers)
    return nodes.join(visited, "node", "left").select(
        "node", F.coalesce("dist", F.lit(-1)).cast("int").alias("dist")
    )


def bfs_histogram(dists: DataFrame) -> DataFrame:
    return (
        dists.groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("dist")
    )


def _level_cte(r: int) -> str:
    prev = " UNION ALL ".join(f"SELECT node FROM d{i}" for i in range(r))
    return f"""
d{r} AS MATERIALIZED (
  SELECT DISTINCT a.x AS node
  FROM adj a JOIN d{r - 1} f ON f.node = a.z
  WHERE a.x NOT IN ({prev})
)"""


_BFS_ORACLE = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT pa.l_partkey AS a, pb.l_partkey AS b
  FROM li pa JOIN li pb
    ON pa.l_orderkey = pb.l_orderkey AND pa.l_partkey < pb.l_partkey
),
adj AS MATERIALIZED (
  SELECT a AS z, b AS x FROM edges UNION ALL SELECT b AS z, a AS x FROM edges
),
nodes AS MATERIALIZED (SELECT DISTINCT z AS node FROM adj),
d0 AS MATERIALIZED (SELECT node FROM nodes WHERE node % {SEED_MOD} = 0),
{','.join(_level_cte(r) for r in range(1, MAX_HOPS + 1))},
alld AS (
  {' UNION ALL '.join(f'SELECT node, {r} AS dist FROM d{r}' for r in range(MAX_HOPS + 1))}
)
SELECT CAST(COALESCE(a.dist, -1) AS INT) AS dist,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM nodes n LEFT JOIN alld a USING (node)
GROUP BY 1 ORDER BY 1
"""


@register("graph_bfs_distance", oracle=_BFS_ORACLE, bench=True)
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph beyond-ref: 3-hop multi-source BFS distance histogram over
    the co-purchase graph from the partkey % 97 == 0 seed set."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li).persist()
    try:
        # seed set == nodes satisfying the mod predicate, so apply it to
        # the BFS's own node table instead of re-deriving (union +
        # distinct over the edge list) and semi-joining it back — one
        # distinct pass and one checkpoint job fewer (r11, guide §2.4)
        return bfs_histogram(
            bfs_distances(edges, seed_pred=F.col("node") % SEED_MOD == 0)
        )
    finally:
        edges.unpersist()
