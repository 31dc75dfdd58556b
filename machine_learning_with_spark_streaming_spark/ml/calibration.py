"""Binned model calibration — reliability diagram + expected
calibration error (ECE) in pure BIGINT arithmetic.

Completes the bucketed-metrics family (ml/metrics.py: ml_auc_bucketed,
ml_pr_bucketed): AUC/PR say how well scores RANK; calibration says
whether the scores MEAN what they claim (a 0.9 bucket should be ~90%
positives). The reference's streamed LogisticRegression consumers
(`Dataset/stream.py`) report accuracy only; this is the
production-monitoring companion a trained scorer needs.

Exactness contract: the squashing function is the ALGEBRAIC sigmoid
p = (1 + m/(1+|m|))/2 — a rational function, so with the e6-quantized
margin it evaluates in pure integer arithmetic:

    p_e6 = 500000 + (margin_e6 * 500000) div (1000000 + abs(margin_e6))

No exp()/libm anywhere, so both engines produce bit-identical p_e6,
bin ids, and ECE — the driver hash-certifies the metric itself (the
transcendental sigmoid would risk last-ulp exp() divergence between
JVM Math.exp and DuckDB's libm under the 6-dp gate; see the
DOUBLE_OUTPUT_ALLOWLIST rationale in tests/test_plan_audit.py).

Scale shape: one scan → 10-bin groupBy (map-side combined; window-free)
→ a broadcast of the 10-row bin table for the ECE total. The curve and
the total are both O(bins), independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.ml_artifacts import LOGREG_WEIGHTS
from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array, dot
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

E6 = 1_000_000
N_BINS = 10
BIN_W_E6 = E6 // N_BINS


def calibration_bins(
    scored: DataFrame,
    label_col: str = "y",
    margin_col: str = "margin_e6",
    n_bins: int = N_BINS,
) -> DataFrame:
    """Reliability rows (bin 0..n_bins-1) + an ECE total row (bin -1).

    Per bin: n, n_pos, conf_e6 = mean predicted probability,
    acc_e6 = empirical positive rate, gap_e6 = |acc - conf|; the total
    row carries pooled conf/acc and ECE = sum(n * gap) div N in gap_e6.
    All columns BIGINT; integer division throughout.
    """
    bin_w = E6 // n_bins
    rows = scored.select(
        F.col(label_col).alias("y"),
        F.expr(
            f"500000 + ({margin_col} * 500000) div "
            f"(1000000 + abs({margin_col}))"
        ).alias("p_e6"),
    )
    bins = (
        rows.groupBy(
            F.least(
                F.expr(f"p_e6 div {bin_w}"), F.lit(n_bins - 1)
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.sum("p_e6").alias("sum_p"),
        )
        .select(
            F.col("bin").cast("long"),
            "n",
            F.col("n_pos").cast("long"),
            F.expr("sum_p div n").cast("long").alias("conf_e6"),
            F.expr("(n_pos * 1000000) div n").cast("long").alias("acc_e6"),
            F.expr(
                "abs((n_pos * 1000000) div n - sum_p div n)"
            )
            .cast("long")
            .alias("gap_e6"),
            F.col("sum_p"),
        )
    )
    total = bins.agg(
        F.lit(-1).cast("long").alias("bin"),
        F.sum("n").alias("n"),
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.expr("sum(sum_p) div sum(n)").cast("long").alias("conf_e6"),
        F.expr("(sum(n_pos) * 1000000) div sum(n)")
        .cast("long")
        .alias("acc_e6"),
        F.expr("sum(n * gap_e6) div sum(n)").cast("long").alias("gap_e6"),
    )
    return bins.drop("sum_p").unionByName(total).orderBy("bin")


def _w0_values() -> str:
    w = LOGREG_WEIGHTS[0]
    lit = "[" + ", ".join(repr(x) for x in w[1]) + "]"
    return f"(CAST({lit} AS DOUBLE[]), {w[2]!r})"


_CALIBRATION_ORACLE = f"""
WITH w0(w, b) AS (VALUES
  {_w0_values()}
),
scored AS (
  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
         CAST(round(
           (list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             w0.w) + w0.b) * 1e6, 0) AS BIGINT) AS m
  FROM embeddings, w0
),
p AS (
  SELECT y, 500000 + (m * 500000) // (1000000 + abs(m)) AS p_e6 FROM scored
),
bins AS (
  SELECT least(p_e6 // {BIN_W_E6}, {N_BINS - 1}) AS bin,
         count(*) AS n, sum(y) AS n_pos, sum(p_e6) AS sum_p
  FROM p GROUP BY 1
),
curve AS (
  SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
         CAST(n_pos AS BIGINT) AS n_pos,
         CAST(sum_p // n AS BIGINT) AS conf_e6,
         CAST((n_pos * 1000000) // n AS BIGINT) AS acc_e6,
         CAST(abs((n_pos * 1000000) // n - sum_p // n) AS BIGINT) AS gap_e6,
         sum_p
  FROM bins
)
SELECT bin, n, n_pos, conf_e6, acc_e6, gap_e6 FROM curve
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(sum(n) AS BIGINT),
       CAST(sum(n_pos) AS BIGINT),
       CAST(sum(sum_p) // sum(n) AS BIGINT),
       CAST((sum(n_pos) * 1000000) // sum(n) AS BIGINT),
       CAST(sum(n * gap_e6) // sum(n) AS BIGINT)
FROM curve
ORDER BY bin
"""


@register("ml_calibration_bins", oracle=_CALIBRATION_ORACLE, bench=True)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE for the frozen logreg class-0 scorer
    over the embeddings corpus — all-BIGINT, window-free, O(bins)
    output."""
    emb = load_table(spark, sf_dir, "embeddings")
    wdf = spark.createDataFrame(
        [LOGREG_WEIGHTS[0]], "class int, w array<double>, b double"
    )
    scored = emb.crossJoin(F.broadcast(wdf)).select(
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
        F.round(
            (dot(as_double_array("embedding"), F.col("w")) + F.col("b")) * E6,
            0,
        )
        .cast("long")
        .alias("margin_e6"),
    )
    return calibration_bins(scored)
