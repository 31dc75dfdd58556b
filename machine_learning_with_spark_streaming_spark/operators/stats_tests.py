"""Contingency-table independence testing (chi-square) — the QC
counterpart to the distribution-drift family (v14/v17/v20): "are these
two categorical columns independent, and which cells drive the
dependence?"

Cross-engine exactness recipe (the v20 PSI precedent): every term is
derived from EXACT integer sufficient statistics — per-cell observed
count ``o``, margin totals ``r`` and ``c``, grand total ``n`` — and the
floating-point part is a fixed sequence of single IEEE ops on those
integers, identical in Spark and DuckDB:

    diff = o*n - r*c                 (exact BIGINT)
    term = (diff * diff) / (n * (r*c))   in DOUBLE, then round 6dp

which is algebraically (o-e)^2/e with e = r*c/n, but with the division
deferred to one final op so both engines round identically. The total
row (flag='__TOTAL__') sums the ROUNDED terms and rounds again —
sum order over ~6 values is immaterial after per-term rounding.

At 100 TB the BIGINT products would be computed in DECIMAL(38,0)
internally (o*n overflows int64 past ~3e9 rows x cells); the margins
and cells are two tiny hash aggregates either way, and the cell grid
join is a broadcast of a handful of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def chi2_independence(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Per-cell chi-square decomposition of a two-way contingency table
    plus a '__TOTAL__' statistic row. Columns: a, b, o (observed),
    r_tot, c_tot (margins), chi2_term (6dp)."""
    base = df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    n = base.count()  # plan-time literal, like v20's n_old/n_new
    cells = base.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    r_m = base.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("r_tot"))
    c_m = base.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c_tot"))
    grid = r_m.crossJoin(F.broadcast(c_m))  # |a| x |b| tiny post-agg rows
    full = grid.join(F.broadcast(cells), ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        "r_tot",
        "c_tot",
    )
    diff = F.col("o") * F.lit(n) - F.col("r_tot") * F.col("c_tot")
    rc = (F.col("r_tot") * F.col("c_tot")).cast("double")
    term = (diff.cast("double") * diff.cast("double")) / (
        F.lit(float(n)) * rc
    )
    terms = full.withColumn(
        "chi2_term", F.round(term, 6) + F.lit(0.0)
    )
    total = terms.agg(
        F.lit("__TOTAL__").alias("a"),
        F.lit("").alias("b"),
        F.sum("o").cast("long").alias("o"),
        F.lit(n).cast("long").alias("r_tot"),
        F.lit(n).cast("long").alias("c_tot"),
        (F.round(F.sum("chi2_term"), 6) + F.lit(0.0)).alias("chi2_term"),
    )
    return terms.unionByName(total).orderBy("a", "b")


_V25_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
cells AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM base GROUP BY a, b
),
r_m AS (SELECT a, CAST(count(*) AS BIGINT) AS r_tot FROM base GROUP BY a),
c_m AS (SELECT b, CAST(count(*) AS BIGINT) AS c_tot FROM base GROUP BY b),
grid AS (SELECT a, r_tot, b, c_tot FROM r_m, c_m),
full_g AS (
  SELECT g.a, g.b, CAST(COALESCE(c.o, 0) AS BIGINT) AS o, g.r_tot, g.c_tot
  FROM grid g LEFT JOIN cells c USING (a, b)
),
terms AS (
  SELECT a, b, o, r_tot, c_tot,
         round((CAST(o * n - r_tot * c_tot AS DOUBLE)
                * CAST(o * n - r_tot * c_tot AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(r_tot * c_tot AS DOUBLE)), 6)
           + 0.0 AS chi2_term
  FROM full_g, tot
)
SELECT * FROM terms
UNION ALL
SELECT '__TOTAL__', '', (SELECT CAST(sum(o) AS BIGINT) FROM terms),
       (SELECT n FROM tot), (SELECT n FROM tot),
       (SELECT round(sum(chi2_term), 6) + 0.0 FROM terms)
ORDER BY 1, 2
"""


@register("v25_chi2_independence", oracle=_V25_ORACLE, bench=True)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-family beyond-ref: chi-square independence decomposition of
    l_returnflag x l_linestatus — per-cell terms from exact integer
    margins, plus the '__TOTAL__' statistic row."""
    li = load_table(spark, sf_dir, "lineitem")
    return chi2_independence(li, "l_returnflag", "l_linestatus")


# --------------- w25: rank-based winsorized mean (robust aggregate)

def winsorized_mean(
    df: DataFrame,
    group_col: str,
    value_cents,
    lo_q: int = 10,
    hi_q: int = 90,
) -> DataFrame:
    """Winsorized mean per group with RANK-based bounds — the robust
    mean that survives fat tails without trimming mass. Bounds are the
    exact order statistics at ceil(q·n/100) (1-indexed), computed with
    pure integer arithmetic ((q·n + 99) div 100), so every emitted
    number — bounds, clamped sum, floored mean — is integer-exact in
    both engines; no interpolated-percentile cross-engine hazard.

    Plan: one per-group window pass (row_number + count over the sort
    by value) feeds a tiny per-group bounds aggregate, broadcast back
    for the clamp+sum. The sort is per-group like a14's exact
    percentiles; the sketch-mergeable alternative at 100 TB is
    a14_group_percentiles_approx feeding approximate bounds."""
    from pyspark.sql import Window

    base = df.select(
        F.col(group_col).alias("g"), value_cents.alias("cents")
    )
    w = Window.partitionBy("g").orderBy("cents")
    wc = Window.partitionBy("g")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    rank_lo = F.expr(f"({lo_q} * n + 99) div 100")
    rank_hi = F.expr(f"({hi_q} * n + 99) div 100")
    bounds = ranked.groupBy("g").agg(
        F.max(F.when(F.col("rn") == rank_lo, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == rank_hi, F.col("cents"))).alias("hi"),
    )
    clamped = base.join(F.broadcast(bounds), "g").select(
        "g",
        "lo",
        "hi",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")).alias(
            "__c"
        ),
    )
    return (
        clamped.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("lo").cast("long").alias("lo_cents"),
            F.max("hi").cast("long").alias("hi_cents"),
            F.sum("__c").cast("long").alias("winsorized_sum"),
            F.expr("sum(__c) div count(1)").cast("long").alias("mean_floor"),
        )
        .orderBy("g")
    )


_W25_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT g, cents,
         row_number() OVER (PARTITION BY g ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM base
),
bounds AS (
  SELECT g,
         max(CASE WHEN rn = (10 * n + 99) // 100 THEN cents END) AS lo,
         max(CASE WHEN rn = (90 * n + 99) // 100 THEN cents END) AS hi
  FROM ranked GROUP BY g
),
clamped AS (
  SELECT b.g, bo.lo, bo.hi,
         least(greatest(b.cents, bo.lo), bo.hi) AS c
  FROM base b JOIN bounds bo ON bo.g = b.g
)
SELECT g, CAST(count(*) AS BIGINT) AS n,
       CAST(max(lo) AS BIGINT) AS lo_cents,
       CAST(max(hi) AS BIGINT) AS hi_cents,
       CAST(sum(c) AS BIGINT) AS winsorized_sum,
       CAST(sum(c) // count(*) AS BIGINT) AS mean_floor
FROM clamped GROUP BY g ORDER BY g
"""


@register("w25_winsorized_mean", oracle=_W25_ORACLE, bench=True)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family beyond-ref: 10/90 rank-winsorized mean of order value
    per priority class — integer order-statistic bounds, integer
    clamped sums, floored mean."""
    orders = load_table(spark, sf_dir, "orders")
    return winsorized_mean(
        orders,
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )


# --------------- v26: per-key monotonicity conformance

def monotonic_violations(
    df: DataFrame, key_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Sequence-sanity QC: within each key, ordered by ``order_col``,
    count the adjacent pairs where ``value_col`` moves BACKWARD — the
    check every append-only/cumulative/SCD feed should pass ("order
    dates must not decrease along the order-key sequence", "version
    numbers only grow"). One lag window per key + one aggregate;
    bounded (n_keys_checked, n_keys_violating, n_pairs, n_violations)
    report. Strictly-integer output; NULL values never pair (both
    engines skip them via the IS NOT NULL guard)."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("o")
    pairs = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(order_col).alias("o"),
            F.col(value_col).alias("v"),
        )
        .withColumn("__pv", F.lag("v").over(w))
        .filter(F.col("__pv").isNotNull() & F.col("v").isNotNull())
        .withColumn(
            "__bad", F.when(F.col("v") < F.col("__pv"), 1).otherwise(0)
        )
    )
    per_key = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__bad").alias("__b")
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys_checked"),
        F.sum(F.when(F.col("__b") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_keys_violating"),
        F.sum("__n").cast("long").alias("n_pairs"),
        F.sum("__b").cast("long").alias("n_violations"),
    )


_V26_ORACLE = """
WITH pairs AS (
  SELECT o_custkey AS k, o_orderdate AS v,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey) AS pv
  FROM orders
),
valid AS (SELECT * FROM pairs WHERE pv IS NOT NULL AND v IS NOT NULL),
per_key AS (
  SELECT k, count(*) AS n,
         sum(CASE WHEN v < pv THEN 1 ELSE 0 END) AS b
  FROM valid GROUP BY k
)
SELECT CAST(count(*) AS BIGINT) AS n_keys_checked,
       CAST(sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keys_violating,
       CAST(sum(n) AS BIGINT) AS n_pairs,
       CAST(sum(b) AS BIGINT) AS n_violations
FROM per_key
"""


@register("v26_monotonic_violations", oracle=_V26_ORACLE, bench=True)
def q_monotonic_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-family beyond-ref: does o_orderdate move backward along each
    customer's order-key sequence? The append-only sequence-sanity
    gate, as a bounded violations report."""
    orders = load_table(spark, sf_dir, "orders")
    return monotonic_violations(
        orders, "o_custkey", "o_orderkey", "o_orderdate"
    )
