"""PCA reconstruction-residual outliers — "how far off the frozen
subspace is this embedding?" The complement of emb_pca_project: the
projection keeps what the top-4 axes explain, the residual energy

    r² = |x − mean|² − Σ_j ⟨x − mean, axis_j⟩²

is what they DON'T. Rows with extreme residuals are off-manifold —
corrupted vectors, out-of-distribution inputs, or a drifted encoder —
the triage queue emb_centroid_outliers can't see (a vector can sit
close to its label centroid in the projected space while carrying
huge unexplained energy).

Exactness: every piece is an explicitly ORDERED sum of exactly-widened
doubles (the PQ-LUT/PCA-nano recipe — identical IEEE op sequence in
both engines), floored to integer nano-units before the top-k, so
ranking and output are BIGINT. Map-only scan + one TakeOrdered top-k;
zero shuffle beyond the final k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array

RESIDUAL_TOP_K = 12


def pca_residual_nano(vec_col: str = "embedding"):
    """BIGINT nano-unit residual energy vs the frozen PCA artifact."""
    from machine_learning_with_spark_streaming_spark.functions.pca_artifacts import (
        PCA_COMPONENTS,
        PCA_MEAN,
    )

    v = as_double_array(vec_col)
    total = None
    for i, m in enumerate(PCA_MEAN):
        d = F.element_at(v, i + 1) - F.lit(m)
        t = d * d
        total = t if total is None else total + t
    expl = None
    for comp in PCA_COMPONENTS:
        proj = None
        for i, (m, c) in enumerate(zip(PCA_MEAN, comp)):
            t = (F.element_at(v, i + 1) - F.lit(m)) * F.lit(c)
            proj = t if proj is None else proj + t
        p2 = proj * proj
        expl = p2 if expl is None else expl + p2
    return F.floor((total - expl) * 1_000_000_000).cast("long")


def _residual_sql() -> str:
    from machine_learning_with_spark_streaming_spark.functions.pca_artifacts import (
        PCA_COMPONENTS,
        PCA_MEAN,
    )

    total = " + ".join(
        f"(emb[{i + 1}] - {m!r}) * (emb[{i + 1}] - {m!r})"
        for i, m in enumerate(PCA_MEAN)
    )
    projs = []
    for comp in PCA_COMPONENTS:
        terms = " + ".join(
            f"(emb[{i + 1}] - {m!r}) * {c!r}"
            for i, (m, c) in enumerate(zip(PCA_MEAN, comp))
        )
        projs.append(f"(({terms}) * ({terms}))")
    return (
        f"CAST(floor((({total}) - ({' + '.join(projs)})) * 1000000000)"
        " AS BIGINT)"
    )


def _residual_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
r AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INT) AS label,
         {_residual_sql()} AS residual2_nano
  FROM v
)
SELECT * FROM r
ORDER BY residual2_nano DESC, vec_id LIMIT {RESIDUAL_TOP_K}
"""


@register("emb_pca_residual_topk", oracle=_residual_oracle(), bench=True)
def q_pca_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emb beyond-ref: the 12 embeddings with the most energy OUTSIDE
    the frozen top-4 principal axes — the off-manifold triage queue,
    integer nano-units end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("label").cast("int").alias("label"),
            pca_residual_nano().alias("residual2_nano"),
        )
        .orderBy(F.desc("residual2_nano"), "vec_id")
        .limit(RESIDUAL_TOP_K)
    )
