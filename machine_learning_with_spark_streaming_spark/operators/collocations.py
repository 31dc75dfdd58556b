"""PMI collocation mining — the phrase/multi-word-expression detector a
tokenizer-training pipeline runs before merging frequent pairs (the
statistical cousin of the BPE pair counts in operators/tokenize.py:
BPE merges by raw frequency, PMI surfaces pairs that co-occur far above
chance — "new york" scores high on both, "of the" only on frequency).

PMI over the bigram sample space: for adjacent pair (w1, w2),
``pmi = ln( c12 · N / (cf1 · cs2) )`` with N = total bigrams, cf1 = how
often w1 opens a bigram, cs2 = how often w2 closes one — all from ONE
bigram table, no second tokenization pass. A minimum-count cut
(``MIN_PAIR_COUNT``) removes the classic PMI pathology (hapax pairs
score highest); the result ranks by 6-dp-stabilized integer PMI with
deterministic ties.

Exactness: counts are BIGINT; the only float is one ln() rounded to
1e-6 at source (the NB/refit contract). Scale shape: bigram explode →
vocabulary-sized groupBys (map-side combined); the candidate table
after the count cut is collocation-sized, so the final ranking window
runs over an aggregated bounded relation (plan-audit-allowed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import (
    _grams_from_words,
    normalize_text,
)
from machine_learning_with_spark_streaming_spark.operators.text import _NORM
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

E6 = 1_000_000
MIN_PAIR_COUNT = 20
TOP_COLLOCATIONS = 50


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = MIN_PAIR_COUNT,
    top: int = TOP_COLLOCATIONS,
) -> DataFrame:
    """(w1, w2, c12, pmi_e6) — the ``top`` adjacent pairs by PMI among
    pairs seen ≥ ``min_count`` times."""
    bg = docs.select(
        F.explode(
            _grams_from_words(F.split(normalize_text(text_col), " "), 2, distinct=False)
        ).alias("bg")
    )
    c12 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    total = c12.agg(F.sum("c12").alias("n_bigrams"))
    cf1 = (
        c12.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("c12").alias("cf1"))
    )
    cs2 = (
        c12.groupBy(F.substring_index("bg", " ", -1).alias("w2"))
        .agg(F.sum("c12").alias("cs2"))
    )
    cand = (
        c12.filter(F.col("c12") >= min_count)
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("w2", F.substring_index("bg", " ", -1))
        .join(cf1, "w1")
        .join(cs2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    F.col("c12")
                    * F.col("n_bigrams")
                    / (F.col("cf1") * F.col("cs2"))
                )
                * E6,
                0,
            )
            .cast("long")
            .alias("pmi_e6"),
        )
    )
    w = Window.orderBy(F.desc("pmi_e6"), F.asc("w1"), F.asc("w2"))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top)
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"), "pmi_e6")
        .orderBy(F.desc("pmi_e6"), "w1", "w2")
    )


_PMI_ORACLE = f"""
WITH wr AS (
  SELECT string_split({_NORM}, ' ') AS ws FROM documents
),
bg AS (
  SELECT ws[g.i] || ' ' || ws[g.i + 1] AS bg
  FROM wr, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
),
c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
total AS (SELECT sum(c12) AS n_bigrams FROM c12),
cf1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS cf1 FROM c12 GROUP BY 1),
cs2 AS (SELECT split_part(bg, ' ', 2) AS w2, sum(c12) AS cs2 FROM c12 GROUP BY 1),
cand AS (
  SELECT split_part(c.bg, ' ', 1) AS w1, split_part(c.bg, ' ', 2) AS w2,
         c.c12,
         CAST(round(ln(CAST(c.c12 AS DOUBLE) * t.n_bigrams
                       / (f.cf1 * CAST(s.cs2 AS DOUBLE))) * 1e6, 0) AS BIGINT)
           AS pmi_e6
  FROM c12 c
  JOIN cf1 f ON f.w1 = split_part(c.bg, ' ', 1)
  JOIN cs2 s ON s.w2 = split_part(c.bg, ' ', 2)
  CROSS JOIN total t
  WHERE c.c12 >= {MIN_PAIR_COUNT}
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, pmi_e6
FROM (
  SELECT *, row_number() OVER (ORDER BY pmi_e6 DESC, w1, w2) AS rn FROM cand
)
WHERE rn <= {TOP_COLLOCATIONS}
ORDER BY pmi_e6 DESC, w1, w2
"""


@register("text_pmi_collocations", oracle=_PMI_ORACLE, bench=True)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations (min pair count 20) over the documents
    corpus — integer-exact phrase mining."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return pmi_collocations(docs)
