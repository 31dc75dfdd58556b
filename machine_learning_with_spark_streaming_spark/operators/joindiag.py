"""Join-cardinality diagnostic — the EXACT output size of an equi-join
computed WITHOUT running the join: Σ_k n_left(k)·n_right(k) over the
two sides' per-key count tables. The planning question every skew
incident starts with ("how big would this join be, and which keys
dominate?") answered from two aggregates whose output is
key-cardinality-bounded — at 100 TB this costs two scans + a tiny
count-table join while the join itself might cost terabytes of
shuffle. Companion to diag_key_skew (which profiles one side; this
multiplies both).

Also emits the top contributing key, because the answer to "why is
this join 100x the inputs" is almost always one key.

All integers; the oracle certifies the arithmetic identity by
COUNTING THE ACTUAL JOIN — Σ n_a·n_b must equal count(*) of the join,
so a green hash proves the estimator is exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def join_cardinality(
    left: DataFrame, right: DataFrame, key: str
) -> DataFrame:
    """One row: (n_keys_matched, join_rows, top_key, top_key_rows)
    for the equi-join of left and right on ``key`` — from count
    tables only, the join itself is never materialized."""
    lc = left.groupBy(key).agg(F.count(F.lit(1)).alias("__nl"))
    rc = right.groupBy(key).agg(F.count(F.lit(1)).alias("__nr"))
    prod = lc.join(rc, key).select(
        F.col(key).alias("k"), (F.col("__nl") * F.col("__nr")).alias("__p")
    )
    return prod.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys_matched"),
        F.sum("__p").cast("long").alias("join_rows"),
        F.max_by("k", F.struct(F.col("__p"), -F.col("k"))).cast("long").alias(
            "top_key"
        ),
        F.max("__p").cast("long").alias("top_key_rows"),
    )


_DIAG_JOIN_ORACLE = """
WITH lc AS (SELECT l_partkey AS k, count(*) AS nl FROM lineitem GROUP BY 1),
rc AS (SELECT l_partkey AS k, count(*) AS nr
       FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
prod AS (SELECT k, nl * nr AS p FROM lc JOIN rc USING (k)),
actual AS (
  SELECT count(*) AS c
  FROM lineitem a JOIN (SELECT * FROM lineitem WHERE l_returnflag = 'R') b
    ON a.l_partkey = b.l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_keys_matched,
       CAST((SELECT c FROM actual) AS BIGINT) AS join_rows,
       CAST((SELECT k FROM prod ORDER BY p DESC, k LIMIT 1) AS BIGINT)
         AS top_key,
       CAST(max(p) AS BIGINT) AS top_key_rows
FROM prod
"""


@register("diag_join_cardinality", oracle=_DIAG_JOIN_ORACLE, bench=True)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diag beyond-ref: exact size of the lineitem x returned-lineitem
    self-join per part key, computed from count tables only — the
    oracle counts the REAL join, so the identity Σ n_a·n_b = |join| is
    what gets hash-certified."""
    li = load_table(spark, sf_dir, "lineitem")
    return join_cardinality(
        li, li.filter(F.col("l_returnflag") == "R"), "l_partkey"
    )
