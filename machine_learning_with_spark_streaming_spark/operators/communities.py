"""Synchronous label propagation (LPA) — community detection over the
repeat-co-purchase graph as a bounded-round DataFrame iteration.

Semantics: labels initialize to the node id; each synchronized round
every node adopts its neighbors' most frequent label, ties to the
SMALLEST label (the determinism pin — vanilla LPA breaks ties randomly,
which would be uncertifiable; min-label ties are the standard
deterministic variant). A fixed round count (the kcore/pagerank
precedent) is what the DuckDB oracle can replay: the same rounds
unrolled as MATERIALIZED CTEs. Synchronous LPA can oscillate on
bipartite-ish structures — bounded rounds make the output well-defined
either way, and the registered output (community sizes) is the signal a
curation pipeline actually consumes (cluster mass, not membership).

Scale shape per round: one shuffle join of the symmetrized edge list
against the |V|-row label table, one (node, label) count aggregate, one
per-node window over candidate labels (bounded by distinct neighbor
labels, ≤ degree), with eager ``localCheckpoint`` truncating lineage.
Same 8-byte-key shuffle economics as connected_components — LPA is the
denser-signal sibling (components merge everything reachable; LPA keeps
weakly-attached regions apart).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.kcore import repeat_copurchase_edges
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

LPA_ROUNDS = 4
LPA_MIN_SIZE = 5


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """(node, label) after ``rounds`` synchronized LPA rounds over the
    undirected edge list (columns a, b)."""
    sym = (
        edges.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select("v").distinct().select("v", F.col("v").alias("lab"))
    ).localCheckpoint(eager=True)
    rn_w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(rounds):
        counts = (
            sym.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        winner = (
            counts.withColumn("rn", F.row_number().over(rn_w))
            .filter(F.col("rn") == 1)
            .select("v", F.col("lab").alias("new_lab"))
        )
        labels = (
            labels.join(winner, "v", "left")
            .select("v", F.coalesce("new_lab", "lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    return labels


def community_sizes(labels: DataFrame, min_size: int = LPA_MIN_SIZE) -> DataFrame:
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= min_size)
        .select(
            F.col("community").cast("long").alias("community"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy(F.desc("n_members"), "community")
    )


def _lpa_oracle(rounds: int = LPA_ROUNDS, min_size: int = LPA_MIN_SIZE) -> str:
    parts = [
        """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS MATERIALIZED (
  SELECT pa.l_partkey AS a, pb.l_partkey AS b
  FROM li pa JOIN li pb
    ON pa.l_orderkey = pb.l_orderkey AND pa.l_partkey < pb.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS MATERIALIZED (
  SELECT a AS v, b AS u FROM edges UNION ALL SELECT b AS v, a AS u FROM edges
),
l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lab FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT s.v, l.lab, count(*) AS c
  FROM sym s JOIN l{p} l ON l.v = s.u
  GROUP BY 1, 2
),
w{i} AS MATERIALIZED (
  SELECT v, lab FROM (
    SELECT v, lab, row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
    FROM c{i}
  ) WHERE rn = 1
),
l{i} AS MATERIALIZED (
  SELECT p.v, coalesce(w.lab, p.lab) AS lab
  FROM l{p} p LEFT JOIN w{i} w USING (v)
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT CAST(lab AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_members
FROM l{rounds}
GROUP BY 1
HAVING count(*) >= {min_size}
ORDER BY 2 DESC, 1"""
    )


@register("graph_label_propagation", oracle=_lpa_oracle(), bench=True)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of size ≥5 after 4 synchronized min-tie LPA rounds
    over the repeat-co-purchase part graph."""
    li = load_table(spark, sf_dir, "lineitem")
    return community_sizes(label_propagation(repeat_copurchase_edges(li)))
