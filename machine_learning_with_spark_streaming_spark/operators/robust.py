"""Theil–Sen robust trend estimation per group — the median of all
pairwise slopes, immune to outlier months that wreck the OLS slope
(``ml_linear_trend``'s closed-form fit, operators ml/examples.py:282).

Estimator notes: the pairwise-slope table is quadratic IN THE SERIES
LENGTH, not the data — each group contributes C(n_months, 2) rows
(~83 months in testdata → ≤3.4k pairs per group), so the self-join is
per-key bounded exactly like the per-order pair join in
graph.copurchase_edges. The median is the LOWER MEDIAN (the order
statistic at rank ⌈n/2⌉), not the interpolated midpoint — it is an
element of the sample (standard in robust-statistics implementations)
and keeps the output exact BIGINT, sidestepping the cross-engine
interpolated-double hazard the plan audit guards against.

Exactness: monthly revenue is summed as integer cents; each pairwise
slope is ``round(Δcents · 1e6 / Δmonths)`` — the numerator stays under
2^53 so the double quotient is computed from exactly-represented
operands, and ``round`` is away-from-zero in both engines. The median
pick is a row_number window ordered by the slope value alone: the
value at rank k is invariant to tie order, so no engine-specific tie
break can change the output.

Scale shape: one (key, month) rollup shuffle with map-side partial
sums; the pair self-join and the median window both partition by key
over the tiny month-level rollup — never over raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

E6 = 1_000_000


def theilsen_trend(
    df: DataFrame, key: str, t_col: str, value_col: str
) -> DataFrame:
    """(key, n_points, n_pairs, slope_e6) per group: the lower-median
    pairwise slope of ``value_col`` (integer units) over integer time
    ``t_col``, scaled 1e6. Groups with a single point emit no pairs and
    are dropped (slope undefined)."""
    a = df.select(
        F.col(key).alias("k"), F.col(t_col).alias("ta"), F.col(value_col).alias("va")
    )
    b = df.select(
        F.col(key).alias("k"), F.col(t_col).alias("tb"), F.col(value_col).alias("vb")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("ta") < F.col("tb"))
        .select(
            "k",
            F.round((F.col("vb") - F.col("va")) * E6 / (F.col("tb") - F.col("ta")))
            .cast("long")
            .alias("slope_e6"),
        )
    )
    w = Window.partitionBy("k").orderBy("slope_e6")
    ranked = pairs.select(
        "k",
        "slope_e6",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("k")).alias("__n"),
    )
    med = ranked.filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
    pts = df.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    return (
        med.join(pts, "k")
        .select(
            F.col("k").alias(key),
            F.col("n_points").cast("long").alias("n_points"),
            F.col("__n").cast("long").alias("n_pairs"),
            "slope_e6",
        )
        .orderBy(key)
    )


_THEILSEN_ORACLE = """
WITH monthly AS MATERIALIZED (
  SELECT n.n_name AS nation,
         CAST(date_part('year', l.l_shipdate) * 12
              + date_part('month', l.l_shipdate) AS BIGINT) AS t,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                  AS BIGINT)) AS rev_c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT a.nation,
         CAST(round((b.rev_c - a.rev_c) * 1e6 / (b.t - a.t)) AS BIGINT)
           AS slope_e6
  FROM monthly a JOIN monthly b
    ON a.nation = b.nation AND a.t < b.t
),
ranked AS (
  SELECT nation, slope_e6,
         row_number() OVER (PARTITION BY nation ORDER BY slope_e6) AS rn,
         count(*) OVER (PARTITION BY nation) AS n
  FROM pairs
),
pts AS (SELECT nation, count(*) AS n_points FROM monthly GROUP BY 1)
SELECT r.nation,
       CAST(p.n_points AS BIGINT) AS n_points,
       CAST(r.n AS BIGINT) AS n_pairs,
       r.slope_e6
FROM ranked r JOIN pts p USING (nation)
WHERE r.rn = (r.n + 1) // 2
ORDER BY 1
"""


@register("w20_theilsen_trend", oracle=_THEILSEN_ORACLE, bench=True)
def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust monthly-revenue trend per supplier nation: Theil–Sen
    lower-median slope in 1e-6 cents/month over the full shipdate
    range."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("long")
            .alias("t"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
                .cast("long")
            ).alias("rev_c")
        )
    )
    return theilsen_trend(monthly, "nation", "t", "rev_c")


# ----------------------- W21: Mann–Kendall trend test (integer-exact)

MK_Z2_E4 = 38416  # 1.96^2 * 1e4 — two-sided 5% critical value, squared


def mann_kendall(df: DataFrame, key: str, t_col: str, value_col: str) -> DataFrame:
    """Mann–Kendall monotone-trend test per group, entirely in BIGINT.

    ``S = Σ_{i<j} sign(v_j − v_i)`` over time order; the variance uses
    the standard tie correction
    ``18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)`` (t_g = size of
    each tied-value group), kept ×18 so it stays integral. The 5%
    two-sided decision with continuity correction —
    ``|z| > 1.96  ⇔  (|S|−1)²·180000 > 38416·var18`` — multiplies both
    sides out instead of taking sqrt, so the verdict is integer-exact
    cross-engine. S = 0 or var18 = 0 (constant series) ⇒ ``no_trend``.

    Pairs with ``theilsen_trend``: MK answers IS there a monotone trend,
    Theil–Sen answers how steep. Same per-key bounded pair join over the
    month-level rollup."""
    a = df.select(
        F.col(key).alias("k"), F.col(t_col).alias("ta"), F.col(value_col).alias("va")
    )
    b = df.select(
        F.col(key).alias("k"), F.col(t_col).alias("tb"), F.col(value_col).alias("vb")
    )
    s_stat = (
        a.join(b, "k")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("k")
        .agg(
            F.sum(F.signum(F.col("vb") - F.col("va")).cast("long")).alias("s_stat")
        )
    )
    n_pts = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("n"))
    ties = (
        df.groupBy(F.col(key).alias("k"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("k")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_corr")
        )
    )
    verdict = (
        s_stat.join(n_pts, "k")
        .join(ties, "k")
        .select(
            "k",
            F.col("n").cast("long").alias("n_points"),
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_corr")
            )
            .cast("long")
            .alias("var18"),
        )
        .withColumn(
            "trend",
            F.when(
                (F.col("s_stat") == 0)
                | (F.col("var18") == 0)
                | (
                    (F.abs(F.col("s_stat")) - 1)
                    * (F.abs(F.col("s_stat")) - 1)
                    * 180000
                    <= MK_Z2_E4 * F.col("var18")
                ),
                F.lit("no_trend"),
            )
            .when(F.col("s_stat") > 0, F.lit("increasing"))
            .otherwise(F.lit("decreasing")),
        )
    )
    return verdict.select(
        F.col("k").alias(key), "n_points", "s_stat", "var18", "trend"
    ).orderBy(key)


_MK_ORACLE = """
WITH monthly AS MATERIALIZED (
  SELECT n.n_name AS nation,
         CAST(date_part('year', l.l_shipdate) * 12
              + date_part('month', l.l_shipdate) AS BIGINT) AS t,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                  AS BIGINT)) AS rev_c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
s AS (
  SELECT a.nation, sum(CAST(sign(b.rev_c - a.rev_c) AS BIGINT)) AS s_stat
  FROM monthly a JOIN monthly b ON a.nation = b.nation AND a.t < b.t
  GROUP BY 1
),
pts AS (SELECT nation, count(*) AS n FROM monthly GROUP BY 1),
ties AS (
  SELECT nation, sum(t * (t - 1) * (2 * t + 5)) AS tie_corr
  FROM (SELECT nation, rev_c, count(*) AS t FROM monthly GROUP BY 1, 2)
  GROUP BY 1
)
SELECT s.nation,
       CAST(pts.n AS BIGINT) AS n_points,
       CAST(s.s_stat AS BIGINT) AS s_stat,
       CAST(pts.n * (pts.n - 1) * (2 * pts.n + 5) - ties.tie_corr AS BIGINT)
         AS var18,
       CASE
         WHEN s.s_stat = 0
              OR pts.n * (pts.n - 1) * (2 * pts.n + 5) - ties.tie_corr = 0
              OR (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1) * 180000
                 <= 38416 * (pts.n * (pts.n - 1) * (2 * pts.n + 5)
                             - ties.tie_corr)
         THEN 'no_trend'
         WHEN s.s_stat > 0 THEN 'increasing'
         ELSE 'decreasing'
       END AS trend
FROM s JOIN pts USING (nation) JOIN ties USING (nation)
ORDER BY 1
"""


@register("w21_mann_kendall", oracle=_MK_ORACLE, bench=True)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend verdict per supplier nation over the
    monthly revenue series (5% two-sided, tie-corrected, continuity-
    corrected — and integer-exact end to end)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("long")
            .alias("t"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
                .cast("long")
            ).alias("rev_c")
        )
    )
    return mann_kendall(monthly, "nation", "t", "rev_c")
