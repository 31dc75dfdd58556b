"""The SQL front door — proof that a user of this engine can drive it
through ``spark.sql`` alone: registered temp views + a multi-table
analytical query text (the TPC-H Q3 shape), a CREATE TEMPORARY
FUNCTION SQL scalar function (Spark 4 SQL UDFs — a reusable expression
that stays INSIDE Catalyst: it inlines into the plan, full codegen, no
Python), and the Spark 4 VARIANT type for semi-structured payloads
(``parse_json`` → ``variant_get`` typed access, the modern replacement
for stringly get_json_object).

Exactness: revenue is e4 fixed-point — cents × integer discount-
percent — so the Q3 aggregate is BIGINT end to end; the variant path
extracts an INT. Plans are ordinary Catalyst plans (the SQL text
lowers to the same operators the DataFrame API builds), so all the
usual pushdown/broadcast behavior applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

Q3_CUT = "1998-01-01"
Q3_SEGMENT = "BUILDING"


def _register_views(spark: SparkSession, sf_dir: str, tables=()) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


_Q3_SPARK_SQL = f"""
SELECT l.l_orderkey,
       CAST(o.o_orderdate AS DATE) AS order_date,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS INT)))
            AS BIGINT) AS revenue_e4
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{Q3_SEGMENT}'
  AND o.o_orderdate < DATE '{Q3_CUT}'
  AND l.l_shipdate > DATE '{Q3_CUT}'
GROUP BY 1, 2
ORDER BY revenue_e4 DESC, l_orderkey
LIMIT 10
"""

_Q3_ORACLE = f"""
SELECT l.l_orderkey,
       CAST(o.o_orderdate AS DATE) AS order_date,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS INT)))
            AS BIGINT) AS revenue_e4
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{Q3_SEGMENT}'
  AND o.o_orderdate < DATE '{Q3_CUT}'
  AND l.l_shipdate > DATE '{Q3_CUT}'
GROUP BY 1, 2
ORDER BY revenue_e4 DESC, l_orderkey
LIMIT 10
"""


@register("sql_q3_shipping_priority", oracle=_Q3_ORACLE, bench=True)
def q_sql_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: the TPC-H Q3 shape as pure ``spark.sql`` text over
    registered views — segment-filtered 3-table join, e4 fixed-point
    revenue, deterministic top-10."""
    _register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(_Q3_SPARK_SQL)


_UDF_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS INT)))
            AS BIGINT) AS revenue_e4
FROM lineitem GROUP BY 1 ORDER BY 1
"""


@register("sql_scalar_function", oracle=_UDF_ORACLE)
def q_sql_scalar_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: a CREATE TEMPORARY FUNCTION scalar SQL UDF
    (Catalyst-inlined, zero Python) reused inside an aggregate — the
    oracle inlines the same expression, so the function's inlining is
    what gets hash-certified."""
    _register_views(spark, sf_dir, ("lineitem",))
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION discounted_e4(price DOUBLE, disc DOUBLE)
RETURNS BIGINT
RETURN CAST(round(price * 100) AS BIGINT)
       * (100 - CAST(round(disc * 100) AS INT))
""")
    return spark.sql("""
SELECT l_returnflag,
       CAST(sum(discounted_e4(l_extendedprice, l_discount)) AS BIGINT)
         AS revenue_e4
FROM lineitem GROUP BY 1 ORDER BY 1
""")


_VARIANT_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS k_sum
FROM events GROUP BY 1 ORDER BY 1
"""


@register("f13_variant_props", oracle=_VARIANT_ORACLE, bench=True)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-family: semi-structured payload access through the Spark 4
    VARIANT type — parse_json once, typed variant_get extraction —
    beside s11_json_props_extract's stringly get_json_object form."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select(k.alias("__k"))
        .groupBy((F.col("__k") % 10).cast("int").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("__k").cast("long").alias("k_sum"),
        )
        .orderBy("k_bucket")
    )


# ------------------------------------------------------------------
# r11: the reference's three signature query shapes as PURE SQL text
# (VERDICT r10 item 3). Each statement below is dialect-portable ANSI,
# so the SAME text runs on Spark and on the DuckDB oracle — the front
# door itself (view registration + spark.sql) is what gets certified,
# over the richest semantics the reference expresses declaratively:
# the DAX ROLLUPADDISSUBTOTAL flag (BPCbySKU.ps1:90-107), the +/-15%
# QC verdict with 0-baseline edge rules (pipeline/qualitycheck.py:
# 175-180), and the ABC Pareto classifier (packages/
# myConversionsClass.py:228-252). Results intentionally match the
# DataFrame-form a5/v3/w1 queries: same semantics, second surface.
# Plans are ordinary Catalyst plans — the rollup lowers to Expand +
# hash agg, the QC verdict to two pushed-filter scans + a broadcast
# full-outer, the ABC to one shuffle on brand + window.

_SQL_ROLLUP = """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS total_price,
       CAST(count(*) AS BIGINT) AS n_rows,
       (GROUPING(o_orderstatus) = 1) AS is_grand_total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
"""


@register("sql_rollup_grand_total", oracle=_SQL_ROLLUP, bench=True)
def q_sql_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface A5: rollup + GROUPING() grand-total flag as pure
    ``spark.sql`` text (DAX ROLLUPADDISSUBTOTAL/ISGRANDTOTALROWTOTAL,
    BPCbySKU.ps1:90-107). One Expand + single-shuffle hash aggregate."""
    _register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SQL_ROLLUP)


_SQL_QC = """
WITH new AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS nv
  FROM orders WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  GROUP BY priority
), base AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS bv
  FROM orders WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
    AND o_orderpriority <> '5-LOW'
  GROUP BY priority
)
SELECT coalesce(n.priority, b.priority) AS priority,
       round(coalesce(nv, 0), 2) AS new_value,
       round(coalesce(bv, 0), 2) AS baseline_value,
       CASE WHEN coalesce(bv, 0) = 0 AND coalesce(nv, 0) = 0 THEN 0.0
            WHEN coalesce(bv, 0) = 0 THEN NULL
            ELSE round((coalesce(nv, 0) - coalesce(bv, 0)) / coalesce(bv, 0), 6)
       END AS pct_diff,
       CASE WHEN coalesce(bv, 0) = 0 AND coalesce(nv, 0) = 0 THEN 'PASS'
            WHEN coalesce(bv, 0) = 0 THEN 'FAIL'
            WHEN abs((coalesce(nv, 0) - coalesce(bv, 0)) / coalesce(bv, 0)) <= 0.15
              THEN 'PASS'
            ELSE 'FAIL'
       END AS qc
FROM new n FULL OUTER JOIN base b ON n.priority = b.priority
ORDER BY priority
"""


@register("sql_qc_verdict", oracle=_SQL_QC, bench=True)
def q_sql_qc_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface V3: the +/-15% QC verdict with the reference's
    0-baseline edge rules (pipeline/qualitycheck.py:175-180) as pure
    SQL text — exact DECIMAL(27,6) sums, FULL OUTER reconcile."""
    _register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SQL_QC)


_SQL_ABC = """
WITH rev AS (
  SELECT p.p_brand AS brand, l.l_partkey AS partkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, l.l_partkey
), c AS (
  SELECT brand, partkey, revenue,
    sum(CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END)
      OVER (PARTITION BY brand ORDER BY (CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END) DESC, partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_sum,
    sum(CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END)
      OVER (PARTITION BY brand) AS total,
    (CASE WHEN revenue < 0 THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue END) AS v
  FROM rev
), r AS (
  SELECT brand, partkey, revenue, v, cum_sum,
         CAST(v AS DOUBLE) / CAST(total AS DOUBLE) AS pct,
         CAST(cum_sum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_pct
  FROM c
)
SELECT brand, partkey, CAST(round(revenue, 2) AS DOUBLE) AS revenue,
       round(cum_pct, 6) AS cum_percent,
       CASE
         WHEN (v > 0 AND v = cum_sum) OR (cum_pct > 0 AND cum_pct <= 0.8) THEN 'A'
         WHEN cum_pct > 0.8 AND cum_pct <= 0.95 THEN 'B'
         WHEN pct >= 0.15 THEN 'B'
         ELSE 'C'
       END AS abc
FROM r
ORDER BY brand, partkey
"""


@register("sql_abc_classify", oracle=_SQL_ABC, bench=True)
def q_sql_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface W1: ABC Pareto classification as pure SQL text
    (packages/myConversionsClass.py:228-252) — DECIMAL cumulations so
    the classifier's boundary comparisons are engine-exact, one window
    shuffle on brand."""
    _register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_SQL_ABC)
