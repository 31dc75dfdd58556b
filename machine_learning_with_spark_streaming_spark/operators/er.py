"""Entity resolution via blocking + bounded edit-distance verification.

The classic two-stage ER shape a training-data pipeline uses to merge
near-identical entity names (suppliers, products, authors): a cheap
BLOCKING key bounds the candidate space, then an exact Levenshtein
verifies only within-block pairs — the same
candidate-generation/verify split as the MinHash-LSH dedup family
(dedup.py), applied to short entity strings instead of documents.

Scale shape: pairs are generated over DISTINCT names, not rows — the
fact table collapses to |names| first (a hash aggregate that also
carries each name's row support), and the pair join is an equi-join on
the block key with a triangular ``name_a < name_b`` cut, so candidate
volume is Σ_block |distinct names in block|² — bounded by the blocking
fan-in (names-per-block), never by corpus rows. At 100 TB you tighten
the block key (more tokens / length bucket) exactly like adding LSH
bands; the verify stage (``levenshtein``) is an integer-exact JVM
built-in, no Python.

j15_fuzzy_symspell_join covers the deletion-neighborhood JOIN form
(probe-side expansion against a clean dimension); this operator is the
self-join corpus-cleanup form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def blocked_editdist_pairs(
    df: DataFrame,
    name_col: str,
    block_expr,
    max_dist: int = 3,
) -> DataFrame:
    """Within-block distinct-name pairs with levenshtein <= max_dist.
    Columns: block, name_a, name_b, dist, n_a, n_b (row support)."""
    names = (
        df.select(F.col(name_col).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .withColumn("block", block_expr(F.col("name")))
    )
    a = names.select(
        "block",
        F.col("name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
    )
    b = names.select(
        "block",
        F.col("name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
    )
    pairs = a.join(b, "block").filter(F.col("name_a") < F.col("name_b"))
    return (
        pairs.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("dist") <= max_dist)
        .select("block", "name_a", "name_b", "dist", "n_a", "n_b")
        .orderBy("block", "name_a", "name_b")
    )


_ER_ORACLE = """
WITH names AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows,
         regexp_extract(p_name, '[^ ]+$') AS block
  FROM part GROUP BY p_name
)
SELECT a.block,
       a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       a.n_rows AS n_a, b.n_rows AS n_b
FROM names a JOIN names b
  ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
ORDER BY 1, 2, 3
"""


@register("dedup_blocked_editdist", oracle=_ER_ORACLE, bench=True)
def q_blocked_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-family beyond-ref: blocked entity resolution over part
    names — block on the head noun (last token), verify with exact
    Levenshtein <= 3 over distinct names, carry row support."""
    part = load_table(spark, sf_dir, "part")
    return blocked_editdist_pairs(
        part,
        "p_name",
        lambda c: F.regexp_extract(c, "[^ ]+$", 0),
        max_dist=3,
    )
