"""Projection / rename / filter operators (SURVEY.md §2.2, P1-P13; sorts
O1-O4).

Every predicate here is a plain Catalyst expression, so parquet scans get
predicate pushdown + column pruning for free — the reference hand-built
these as Python `.loc` masks and SQL string `IN`-lists
(``packages/mySQLClass.py:117-146``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def keep_first_per_key(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """P12 (deterministic ``drop_duplicates(subset, keep='first')``):
    explicit ordering, then ``row_number() == 1``."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_rows(df: DataFrame, keys: list[str]) -> DataFrame:
    """P13: all rows whose key occurs more than once
    (``df[df.duplicated(subset, keep=False)]``, myConversionsClass.py:194) —
    a window count, no self-join."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )


# ---------------------------------------------------------------- queries

_P5P8_ORACLE = """
SELECT
  o.o_orderpriority AS priority,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(sum(o.o_totalprice), 2) AS total_price
FROM orders o
WHERE o.o_totalprice > 1000
  AND o.o_orderstatus IN ('O', 'F')
  AND o.o_orderpriority IS NOT NULL
  AND o.o_orderdate >= DATE '1994-01-01'
  AND o.o_orderdate < DATE '1997-01-01'
  AND o.o_orderpriority NOT IN ('5-LOW')
GROUP BY 1
ORDER BY 1
"""


@register("p5_p8_predicates", oracle=_P5P8_ORACLE)
def q_predicates(spark, sf_dir):
    """P5 comparison + P6 IN/NOT-IN + P7 null-ness + P8 date-range
    (FCST_DemandBlank.ps1:28-30,59; FCST_DemandNonBlank1.ps1:24-34)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_totalprice") > 1000)
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .filter(F.col("o_orderpriority").isNotNull())
        .filter(
            (F.col("o_orderdate") >= F.lit("1994-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .filter(~F.col("o_orderpriority").isin("5-LOW"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("priority")
    )


_P9_ORACLE = """
SELECT p_type, p_name, CAST(count(*) AS BIGINT) AS n_parts
FROM part
WHERE regexp_matches(p_name, '^(red|blue) (widget|bolt)$')
  AND regexp_matches(p_type, '^(ECONOMY|STANDARD)$')
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("p9_regex_filter", oracle=_P9_ORACLE)
def q_regex_filter(spark, sf_dir):
    """P9: OR-of-patterns regex predicate (the last-12-months Attribute
    OR-regex, pipeline/datavalidation.py:173-234)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_name").rlike(r"^(red|blue) (widget|bolt)$")
            & F.col("p_type").rlike(r"^(ECONOMY|STANDARD)$")
        )
        .groupBy("p_type", "p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("p_type", "p_name")
    )


_P11_ORACLE = """
SELECT o_orderkey, round(o_totalprice, 2) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@register("p11_top_n", oracle=_P11_ORACLE)
def q_top_n(spark, sf_dir):
    """P11/O3: deterministic TOP(n) with tie-break
    (pipeline/SqlUpload.py:107-123, Staging.py:18)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


_P12_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY 1, 2
"""


@register("p12_distinct", oracle=_P12_ORACLE)
def q_distinct(spark, sf_dir):
    """P12/A8: distinct key combinations (drop_duplicates,
    myConversionsClass.py:269,476)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct().orderBy(
        "l_returnflag", "l_linestatus"
    )


_P12F_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey
FROM (
  SELECT l_orderkey, l_linenumber, l_partkey,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey) AS rn
  FROM lineitem
) WHERE rn = 1
ORDER BY l_orderkey
"""


@register("p12_keep_first", oracle=_P12F_ORACLE)
def q_keep_first(spark, sf_dir):
    """P12: deterministic keep-first-per-key dedup."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        keep_first_per_key(li, ["l_orderkey"], [F.asc("l_linenumber"), F.asc("l_partkey")])
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey")
    )


_P13_ORACLE = """
SELECT l_orderkey, l_partkey, CAST(count(*) AS BIGINT) AS n_dups
FROM lineitem
GROUP BY 1, 2
HAVING count(*) > 1
ORDER BY 1, 2
"""


@register("p13_duplicate_keys", oracle=_P13_ORACLE)
def q_duplicate_keys(spark, sf_dir):
    """P13: duplicate-key detection via window count
    (myConversionsClass.py:194)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        duplicate_rows(li, ["l_orderkey", "l_partkey"])
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .orderBy("l_orderkey", "l_partkey")
    )
