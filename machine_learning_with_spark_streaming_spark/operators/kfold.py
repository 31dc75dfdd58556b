"""Deterministic group-atomic k-fold assignment — the cross-validation
rotation on the engine's md5 gate discipline (operators/sampling.py):
fold membership is a pure function of (group key, seed), so every rerun,
repartition, and engine derives the byte-identical folds, and — the
leakage guard shared with ``sample_group_split`` — hashing a GROUP key
(source/domain/dedup-component) keeps near-duplicates inside one fold,
so no rotation ever trains on a held-out document's twin.

The report certifies the properties an eval harness depends on: the
per-fold mass (docs, groups, chars), and the train-side complement per
rotation (``train_docs = total − fold_docs`` — emitted from one
broadcast 1-row total, not a second scan). Fold balance is hash-uniform
over GROUPS, not rows — a skewed-group corpus shows skewed rows per
fold, which is the honest number an experimenter needs to see (that is
why the report exists).

Scale shape: one map-side md5 expression + one groupBy(fold) aggregate;
the group→fold function needs no table, no shuffle of its own, and at
100 TB the same expression rides the ingest write as a stored column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

KFOLD_K = 5
KFOLD_SEED = "kf0"


def assign_kfold(
    df: DataFrame,
    key_col: str = "source",
    k: int = KFOLD_K,
    seed: str = KFOLD_SEED,
) -> DataFrame:
    """Add a ``fold`` column in [0, k): group-atomic, deterministic."""
    gate = md5_hash60(
        F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}"))
    )
    return df.withColumn("fold", (gate % k).cast("int"))


def kfold_report(
    df: DataFrame, key_col: str = "source", k: int = KFOLD_K
) -> DataFrame:
    """(fold, n_docs, n_groups, sum_chars, train_docs) per rotation."""
    assigned = assign_kfold(df, key_col, k)
    total = df.agg(F.count(F.lit(1)).alias("total_docs"))
    return (
        assigned.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(key_col).alias("n_groups"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "fold",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_groups").cast("long").alias("n_groups"),
            "sum_chars",
            (F.col("total_docs") - F.col("n_docs")).cast("long").alias(
                "train_docs"
            ),
        )
        .orderBy("fold")
    )


_KFOLD_ORACLE = f"""
WITH assigned AS (
  SELECT *,
         CAST(('0x' || substr(md5(source || '#{KFOLD_SEED}'), 1, 15))::BIGINT
              % {KFOLD_K} AS INT) AS fold
  FROM documents
),
total AS (SELECT count(*) AS total_docs FROM documents)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_groups,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(t.total_docs - count(*) AS BIGINT) AS train_docs
FROM assigned, total t
GROUP BY fold, t.total_docs
ORDER BY fold
"""


@register("sample_kfold_assign", oracle=_KFOLD_ORACLE, bench=True)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-atomic 5-fold assignment over documents with the per-fold
    mass and train-complement report."""
    docs = load_table(spark, sf_dir, "documents")
    return kfold_report(docs)
