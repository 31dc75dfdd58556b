"""Farthest-first diversity seeding over the embedding corpus — the
k-means++ / coreset / diverse-few-shot selection primitive: grow a
seed set by repeatedly taking the corpus row LEAST similar to anything
already chosen (argmin over rows of max-cosine-to-chosen). Training-
data pipelines use it to pick maximally-diverse exemplars before
labeling budgets or prompt slots are spent.

Plan shape per round: ONE corpus-once Arrow scoring pass against the
chosen set (``score_all_queries`` — the frozen-artifact pattern: the
chosen vectors are plan-time literals, the corpus ships through Arrow
once), one |corpus|-row max aggregate, one deterministic argmin
(TakeOrdered limit 1, tie to the smallest id; NULL cosines — zero
vectors — are pinned LAST in both engines). k rounds = k passes; the
whole loop is driver-coordinated exactly like the IVF probe-cell
computation, with one id collected per round.

Exactness: cosines are the engine's bit-exact dimension-order fold;
the emitted max_cos is 6-dp rounded; round/vec_id are integers. The
oracle unrolls the same k rounds as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array
from machine_learning_with_spark_streaming_spark.operators.ivf import score_all_queries
from machine_learning_with_spark_streaming_spark.operators.similarity import (
    EMB_DIM,
    _cos_sql,
)

DIVERSE_K = 4


def diverse_seeds(
    corpus: DataFrame,
    k: int = DIVERSE_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMB_DIM,
) -> DataFrame:
    """(round, vec_id, max_cos): round 0 is the smallest id; round r is
    the row minimizing max cosine to the rounds before it."""
    spark = corpus.sparkSession
    base = corpus.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("__v")
    )
    first = base.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(0, int(first["vec_id"]), None, list(first["__v"]))]
    for r in range(1, k):
        q_rows = [(cid, v) for _rnd, cid, _c, v in chosen]
        scored = score_all_queries(
            base, q_rows, dim=dim, id_col="vec_id", vec_col="__v"
        )
        picked_ids = [cid for _rnd, cid, _c, _v in chosen]
        cand = (
            scored.filter(~F.col("neighbor_id").isin(picked_ids))
            .groupBy("neighbor_id")
            .agg(F.max("cos").alias("__mc"))
            .orderBy(F.asc_nulls_last("__mc"), F.asc("neighbor_id"))
            .limit(1)
            .collect()[0]
        )
        nid = int(cand["neighbor_id"])
        vec = [
            list(rw["__v"])
            for rw in base.filter(F.col("vec_id") == nid).collect()
        ][0]
        mc = cand["__mc"]
        chosen.append((r, nid, None if mc is None else round(mc, 6), vec))
    return spark.createDataFrame(
        [(r, cid, c) for r, cid, c, _v in chosen],
        "round int, vec_id long, max_cos double",
    ).orderBy("round")


def _diverse_oracle(k: int = DIVERSE_K) -> str:
    cos = _cos_sql("e.embedding", "s.embedding")
    ctes = ["s0 AS (SELECT min(vec_id) AS id FROM embeddings)"]
    for r in range(1, k):
        prev_ids = " UNION ALL ".join(f"SELECT id FROM s{i}" for i in range(r))
        ctes.append(f"""
m{r} AS (
  SELECT e.vec_id AS id, max({cos}) AS mc
  FROM embeddings e
  JOIN embeddings s ON s.vec_id IN ({prev_ids})
  WHERE e.vec_id NOT IN ({prev_ids})
  GROUP BY e.vec_id
),
s{r} AS (
  SELECT id, mc FROM m{r}
  ORDER BY mc ASC NULLS LAST, id LIMIT 1
)""")
        prev = prev_ids  # noqa: F841 (readability)
    rows = ["SELECT 0 AS round, (SELECT id FROM s0) AS vec_id, CAST(NULL AS DOUBLE) AS max_cos"]
    for r in range(1, k):
        rows.append(
            f"SELECT {r}, (SELECT id FROM s{r}), "
            f"(SELECT round(mc, 6) + 0.0 FROM s{r})"
        )
    return (
        "WITH " + ",".join(ctes) + "\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY 1"
    )


@register("sample_diverse_seeds", oracle=_diverse_oracle(), bench=True)
def q_diverse_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling beyond-ref: 4 farthest-first diversity seeds over the
    embedding corpus (argmin of max-cosine-to-chosen per round,
    corpus-once Arrow scoring, deterministic ties)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return diverse_seeds(emb)
