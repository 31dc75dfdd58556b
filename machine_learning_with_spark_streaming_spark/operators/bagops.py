"""Bag-semantics set operations — EXCEPT ALL / INTERSECT ALL, the
multiset algebra SQL mandates and row-level dedup workflows lean on
(e.g. "which rows of the new extract are NOT in the old one, counting
multiplicity" — the U2 key-set compare answers the DISTINCT question,
these answer the bag question).

Spark implements both natively (``exceptAll`` / ``intersectAll`` plan
as a count-diff aggregate + generate — no join explosion); the
registered query certifies the exact multiset semantics against
DuckDB's ``EXCEPT ALL`` / ``INTERSECT ALL`` on overlapping lineitem
slices, then compacts each result to its per-key multiplicity profile
so the certified output stays bounded.

Scale shape: both operators are ONE hash aggregate over the union of
the two inputs (count per side, emit max(l−r, 0) / min(l, r) copies) —
the same shuffle economics as a groupBy on the row key; no step is
quadratic and nothing depends on row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def bag_compare(a: DataFrame, b: DataFrame) -> DataFrame:
    """(op, n_rows, n_keys) for a EXCEPT ALL b, b EXCEPT ALL a and
    a INTERSECT ALL b — the multiset reconciliation summary."""
    parts = []
    for op, df in (
        ("a_except_all_b", a.exceptAll(b)),
        ("b_except_all_a", b.exceptAll(a)),
        ("a_intersect_all_b", a.intersectAll(b)),
    ):
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(*df.columns).alias("n_keys"),
            ).select(
                F.lit(op).alias("op"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_keys").cast("long").alias("n_keys"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("op")


_BAG_ORACLE = """
WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
b AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'),
eab AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
eba AS (SELECT * FROM b EXCEPT ALL SELECT * FROM a),
iab AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
SELECT 'a_except_all_b' AS op,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys FROM eab
UNION ALL
SELECT 'a_intersect_all_b',
       CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT)
FROM iab
UNION ALL
SELECT 'b_except_all_a',
       CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT)
FROM eba
ORDER BY 1
"""


@register("u4_bag_set_ops", oracle=_BAG_ORACLE, bench=True)
def q_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset reconciliation of two overlapping lineitem slices
    (returned rows vs finalized rows, keyed by order): EXCEPT ALL both
    directions + INTERSECT ALL, summarized as bounded profiles."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    return bag_compare(a, b)
