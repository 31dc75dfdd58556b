"""Per-dimension Fisher discriminant scores over the labeled embedding
corpus — "which dimensions actually separate the classes?" The
feature-selection diagnostic ahead of dimension pruning (matryoshka
truncation, PCA cuts) and the first thing to check when a probe
classifier underperforms: between-class scatter over within-class
scatter, per coordinate.

Exactness recipe: coordinates quantize to e5 fixed-point integers
(floor(x·1e5) — deterministic in both engines), every sufficient
statistic (n_c, Σx, Σx²) is an exact BIGINT, the per-class projection
term s_c² div n_c uses FLOOR division (exact integer semantics both
engines; the ≤1-unit floor loss is 1e-10 of a coordinate's energy),
and the only float op is the final sb/sw ratio — one division + one
6-dp round on exact integer operands (the corr/chi2 recipe). At sf1+
the S² products outgrow int64 — the decimal(38,0) upgrade is the
ml_corr_matrix precedent; documented, not needed at certified scales.

Plan: posexplode to (dim, label) granularity, ONE hash aggregate
(64·|labels| keys), pure arithmetic, TakeOrdered top-8. The explode is
a map-side row multiplier (64x) with map-side partial aggregation —
no shuffle grows with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

FISHER_TOP_K = 8
FISHER_SCALE = 100_000  # e5 fixed point


def fisher_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    top_k: int = FISHER_TOP_K,
) -> DataFrame:
    """(dim, sb, sw, fisher) for the top_k most discriminative
    dimensions (fisher DESC, dim ASC); sb/sw in e5-squared integer
    units, fisher 6-dp rounded."""
    exploded = df.select(
        F.col(label_col).alias("c"),
        F.posexplode(vec_col).alias("dim", "x"),
    ).select(
        "c",
        "dim",
        F.floor(F.col("x").cast("double") * FISHER_SCALE)
        .cast("long")
        .alias("xi"),
    )
    per_cl = exploded.groupBy("dim", "c").agg(
        F.count(F.lit(1)).alias("n_c"),
        F.sum("xi").alias("s_c"),
        F.sum(F.col("xi") * F.col("xi")).alias("q_c"),
    )
    per_dim = per_cl.groupBy("dim").agg(
        F.sum("n_c").alias("n"),
        F.sum("s_c").alias("s"),
        F.sum("q_c").alias("q"),
        F.sum(F.expr("(s_c * s_c) div n_c")).alias("a"),
    )
    stats = per_dim.select(
        F.col("dim").cast("int").alias("dim"),
        (F.col("a") - F.expr("(s * s) div n")).cast("long").alias("sb"),
        (F.col("q") - F.col("a")).cast("long").alias("sw"),
    )
    fisher = F.when(
        F.col("sw") > 0,
        F.round(F.col("sb").cast("double") / F.col("sw").cast("double"), 6)
        + F.lit(0.0),
    )
    return (
        stats.withColumn("fisher", fisher)
        .orderBy(F.desc_nulls_last("fisher"), "dim")
        .limit(top_k)
    )


_FISHER_ORACLE = f"""
WITH exploded AS (
  SELECT label AS c, CAST(g.i - 1 AS INT) AS dim,
         CAST(floor(CAST(embedding[g.i] AS DOUBLE) * {FISHER_SCALE})
              AS BIGINT) AS xi
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
per_cl AS (
  SELECT dim, c, count(*) AS n_c, sum(xi) AS s_c, sum(xi * xi) AS q_c
  FROM exploded GROUP BY 1, 2
),
per_dim AS (
  SELECT dim, sum(n_c) AS n, sum(s_c) AS s, sum(q_c) AS q,
         sum((s_c * s_c) // n_c) AS a
  FROM per_cl GROUP BY 1
),
stats AS (
  SELECT dim, CAST(a - (s * s) // n AS BIGINT) AS sb,
         CAST(q - a AS BIGINT) AS sw
  FROM per_dim
)
SELECT dim, sb, sw,
       CASE WHEN sw > 0
            THEN round(CAST(sb AS DOUBLE) / CAST(sw AS DOUBLE), 6) + 0.0
       END AS fisher
FROM stats
ORDER BY fisher DESC NULLS LAST, dim LIMIT {FISHER_TOP_K}
"""


@register("emb_fisher_scores", oracle=_FISHER_ORACLE, bench=True)
def q_fisher_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emb beyond-ref: the 8 most class-discriminative embedding
    dimensions by Fisher ratio — integer sufficient statistics, one
    float division at the very end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return fisher_scores(emb)
