"""Re-aggregatable distinct counts — HLL sketch partials merged UP an
aggregation hierarchy (day → month), certified by the a13 error-bound
contract.

The 100 TB problem this models: COUNT(DISTINCT) does not re-aggregate —
monthly distinct users is NOT the sum of daily distincts, so a naive
rollup tree must re-scan raw events for every level. The sketch answer
(Datasketches HLL, Spark's native ``hll_sketch_agg`` /
``hll_union_agg``) builds per-day sketch partials ONCE at ingest and
merges them losslessly to any coarser grain — the monthly estimate
reads |days| sketch blobs, never the events.

Certification (the ``a13_sketch_error_bounds`` recipe): DuckDB cannot
replay Datasketches internals, so the certified output carries the
EXACT monthly distinct (recomputed in both engines) plus a violation
flag — |merged-sketch estimate − exact| must sit inside 5% (≈3σ at the
default lgK=12, rsd 1.6%; at testdata cardinalities the sketch is in
sparse mode and exact). The hash certifies the bound holds, the flag
column pins it to zero. The exact column exists only for certification;
production keeps the sketch path alone.

Scale shape: one (key, day) aggregate over events builds the partials
(map-side combined); the month merge aggregates |keys|·|days| sketch
blobs (~KB each). The exact certification pass is a second distinct
aggregate — at 100 TB you run it on an audit sample, not the fleet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

HLL_REL_BOUND = 0.05  # ~3 sigma at default lgK=12 (rsd 1.04/sqrt(4096))


def hll_daily_partials(
    events: DataFrame, key: str = "event_type", ts: str = "ts", id_col: str = "user_id"
) -> DataFrame:
    """(key, day, sk) — the ingest-time sketch partial per (key, day)."""
    return (
        events.filter(F.col(ts).isNotNull() & F.col(id_col).isNotNull())
        .groupBy(
            F.col(key), F.to_date(ts).alias("day")
        )
        .agg(F.hll_sketch_agg(id_col).alias("sk"))
    )


def hll_month_rollup(daily: DataFrame, key: str = "event_type") -> DataFrame:
    """Merge the day partials up to months — no raw-event access."""
    return (
        daily.groupBy(
            F.col(key), F.date_trunc("month", "day").cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        )
    )


_HLL_ORACLE = """
SELECT event_type,
       CAST(date_trunc('month', ts) AS DATE) AS month,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(0 AS BIGINT) AS est_violation
FROM events
WHERE ts IS NOT NULL AND user_id IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("a21_hll_reaggregate", oracle=_HLL_ORACLE, bench=True)
def q_hll_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly distinct users per event type from MERGED day-level HLL
    partials, bound-certified against the exact recount (violation flag
    pinned to 0 by the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    monthly_est = hll_month_rollup(hll_daily_partials(ev))
    exact = (
        ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(
            "event_type", F.date_trunc("month", "ts").cast("date").alias("month")
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    viol = (
        F.abs(F.col("est_users") - F.col("exact_users"))
        > HLL_REL_BOUND * F.col("exact_users")
    )
    return (
        monthly_est.join(exact, ["event_type", "month"])
        .select(
            "event_type",
            "month",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("exact_users").cast("long").alias("exact_users"),
            viol.cast("long").alias("est_violation"),
        )
        .orderBy("event_type", "month")
    )
