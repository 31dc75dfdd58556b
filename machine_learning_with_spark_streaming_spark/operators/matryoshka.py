"""Matryoshka recall curve — retrieval quality as a function of
embedding truncation, the serving-knob analysis behind MRL-style
dimension-adaptive deployment (Kusupati et al., "Matryoshka
Representation Learning": prefixes of one embedding serve as cheaper
embeddings; the deployment question is always "how much recall does
dropping to d dims cost?").

One query answers it in-engine: for each truncation d, exact cosine
top-k over the FIRST d dimensions is compared to the full-dimension
exact top-k, and recall@k aggregates over the probe queries — the same
set-intersection protocol as ``sim_ann_recall`` (ann-benchmarks style),
emitted as integer per-mille so nothing floating crosses engines.
(Renormalization is omitted on purpose: cosine is scale-invariant, so
slicing alone determines the ranking.)

Scale shape: each arm is the certified ``topk_cosine`` plan — corpus
partition-parallel, probe queries broadcast; the curve runs |dims|+1
arms over a SAMPLED query set (the brute-force arms cost |queries| ×
corpus each — at 100 TB recall is estimated from hundreds of probes,
the corpus is never self-joined). The per-dim hit join and the final
union operate on k·|queries|-row toy relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.similarity import (
    _cos_sql,
    topk_cosine,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

MRL_DIMS = (32, 16, 8)
MRL_K = 5
MRL_QUERIES = 8


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple = MRL_DIMS,
    k: int = MRL_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(dim, n_queries, sum_hits, recall_permille) per truncation —
    dim 0 rows are never emitted; the full-dim arm is the reference."""
    full = topk_cosine(corpus, queries, k, id_col, vec_col, dim=64)
    parts = []
    for d in dims:
        tc = corpus.select(id_col, F.slice(vec_col, 1, d).alias(vec_col))
        tq = queries.select(id_col, F.slice(vec_col, 1, d).alias(vec_col))
        trunc = topk_cosine(tc, tq, k, id_col, vec_col, dim=d)
        hits = (
            full.alias("f")
            .join(
                trunc.alias("t"),
                (F.col("f.query_id") == F.col("t.query_id"))
                & (F.col("f.neighbor_id") == F.col("t.neighbor_id")),
                "left",
            )
            .agg(
                F.countDistinct(F.col("f.query_id")).alias("n_queries"),
                F.count(F.col("t.neighbor_id")).alias("sum_hits"),
            )
            .select(
                F.lit(d).cast("int").alias("dim"),
                F.col("n_queries").cast("long").alias("n_queries"),
                F.col("sum_hits").cast("long").alias("sum_hits"),
                F.expr(f"sum_hits * 1000 div ({k} * n_queries)").alias(
                    "recall_permille"
                ),
            )
        )
        parts.append(hits)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy(F.desc("dim"))


def _mrl_oracle(dims: tuple = MRL_DIMS, k: int = MRL_K) -> str:
    def arm(expr_q: str, expr_c: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_cos_sql(expr_q, expr_c)} AS cos,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos_sql(expr_q, expr_c)} DESC, c.vec_id
           ) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id < {MRL_QUERIES} AND c.vec_id <> q.vec_id
  ) WHERE rank <= {k}
)"""

    ctes = [arm("q.embedding", "c.embedding", "full_arm")]
    selects = []
    for d in dims:
        ctes.append(
            arm(f"q.embedding[1:{d}]", f"c.embedding[1:{d}]", f"arm_{d}")
        )
        selects.append(
            f"""SELECT {d} AS dim,
       count(DISTINCT f.query_id) AS n_queries,
       count(t.neighbor_id) AS sum_hits,
       count(t.neighbor_id) * 1000
         // ({k} * count(DISTINCT f.query_id)) AS recall_permille
FROM full_arm f LEFT JOIN arm_{d} t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT CAST(dim AS INT) AS dim, CAST(n_queries AS BIGINT) AS n_queries,"
        " CAST(sum_hits AS BIGINT) AS sum_hits,"
        " CAST(recall_permille AS BIGINT) AS recall_permille FROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY dim DESC"
    )


@register("sim_matryoshka_recall", oracle=_mrl_oracle(), bench=True)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 vs full-dim exact retrieval at 32/16/8-dim truncations
    for the 8 probe queries — the dimension-vs-quality serving curve."""
    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_recall(emb, emb.filter(F.col("vec_id") < MRL_QUERIES))
