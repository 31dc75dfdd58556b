"""Dynamic partition pruning — the star-schema join that reads ONLY the
fact partitions the dim filter selects, with the pruning decided at
RUNTIME by Catalyst (not by a static predicate).

The 100 TB shape: the fact table is stored partitioned by its join-time
attribute (ship month here — the ingest-side layout decision, same
write-time philosophy as ivf.ensure_cell_store); a query joins it to a
dim table carrying a selective filter the planner cannot see statically
(quarter → months). With ``spark.sql.optimizer.dynamicPartitionPruning``
(on by default) Catalyst injects the dim side's month list as a runtime
subquery INTO the fact scan's PartitionFilters — the scan skips ~93% of
a multi-year fact table before a single row moves. The test asserts the
plan carries a ``dynamicpruning`` expression on the scan; the oracle is
the plain join (pruning is a read optimization, never a semantics
change).

This completes the pruning ladder: static predicate pushdown (S6),
static partition pruning over a stored layout (sim_topk_ivf_stored),
bloom semi-join row pruning (j17), and now runtime PARTITION pruning —
each certified by result-identity to the unpruned form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

MONTH_STORE_ROOT = "/tmp/mlwss_month_store"
DPP_QUARTER = "1996Q1"


def ensure_month_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir, mtime-invalidated) lineitem stored
    partitioned by ship month — the write-time layout the pruning
    reads. Only the query's columns are stored (column pruning is a
    write-time decision too for a purpose-built mart)."""
    base = os.path.basename(sf_dir.rstrip("/")) or "default"
    path = os.path.join(MONTH_STORE_ROOT, base)
    marker = os.path.join(path, "_BUILT")
    src = os.path.join(sf_dir, "lineitem.parquet")
    src_mtime = os.path.getmtime(src)
    if os.path.isdir(src):
        for f in os.listdir(src):
            src_mtime = max(src_mtime, os.path.getmtime(os.path.join(src, f)))
    if os.path.exists(marker) and os.path.getmtime(marker) >= src_mtime:
        return path
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
    )
    li.write.mode("overwrite").partitionBy("ship_month").parquet(path)
    with open(marker, "w") as fh:
        fh.write("built\n")
    return path


def month_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A calendar dim derived from the orders time axis: (month,
    quarter). Independent of the fact store, so the quarter filter is
    invisible to static pruning — exactly the DPP trigger shape."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderdate").isNotNull())
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.concat(
                F.year("o_orderdate").cast("string"),
                F.lit("Q"),
                F.quarter("o_orderdate").cast("string"),
            ).alias("quarter"),
        )
        .distinct()
    )


_DPP_ORACLE = f"""
WITH dim AS (
  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
  FROM orders
  WHERE o_orderdate IS NOT NULL
    AND date_part('year', o_orderdate) || 'Q' || date_part('quarter', o_orderdate)
        = '{DPP_QUARTER}'
)
SELECT d.month,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem l
JOIN dim d ON strftime(l.l_shipdate, '%Y-%m') = d.month
GROUP BY 1
ORDER BY 1
"""


@register("j18_dpp_partition_join", oracle=_DPP_ORACLE, bench=True)
def q_dpp_partition_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter revenue by ship month through the month-partitioned fact
    store: the quarter filter lives on the dim side only, and Catalyst's
    runtime subquery prunes the fact scan to that quarter's partitions
    (plan-asserted in tests). Result identical to the plain join."""
    path = ensure_month_store(spark, sf_dir)
    fact = spark.read.parquet(path)
    dim = month_dim(spark, sf_dir).filter(F.col("quarter") == DPP_QUARTER)
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        fact.join(dim, fact.ship_month == dim.month)
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev_c).alias("revenue_c"),
        )
        .orderBy("month")
    )
