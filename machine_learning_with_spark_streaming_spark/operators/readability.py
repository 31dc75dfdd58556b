"""Readability scoring over the documents corpus — the
Flesch-reading-ease axis of text quality filtering (length/punct/
stopword axes live in text.py's quality gates). Training-data curation
uses it to drop both word-salad (absurdly high syllable density) and
run-on boilerplate (absurdly long sentences).

Counting rules (identical regex semantics both engines):
- words      = count of ``[a-z]+`` runs (lowercased)
- sentences  = 1 + count of ``[.!?]`` (min one sentence per doc)
- syllables  = count of vowel GROUPS ``[aeiouy]+`` (the standard
  cheap heuristic: consecutive vowels are one nucleus)

All three are integers per document. The certified report aggregates
per (lang, source) group, and the Flesch score is computed ONCE from
exact integer group totals —

    206.835 - 1.015·(words/sentences) - 84.6·(syllables/words)

— a fixed sequence of IEEE ops on integer-cast operands, 6-dp rounded
(the chi2/PSI recipe), so there is no per-doc float accumulation at
all. One regexp projection pass + one hash aggregate; scales with the
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def doc_reading_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document integer (words, sentences, syllables) columns."""
    low = F.lower(F.col(text_col))
    return df.withColumns(
        {
            "words": F.size(F.regexp_extract_all(low, F.lit("[a-z]+"), 0)).cast(
                "long"
            ),
            "sentences": (
                F.lit(1) + F.size(F.regexp_extract_all(low, F.lit("[.!?]"), 0))
            ).cast("long"),
            "syllables": F.size(
                F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0)
            ).cast("long"),
        }
    )


def readability_report(
    df: DataFrame, keys=("lang", "source"), text_col: str = "text"
) -> DataFrame:
    """Per-group totals + group-level Flesch reading ease (6dp)."""
    counts = doc_reading_counts(df, text_col)
    g = counts.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("sentences").cast("long").alias("sentences"),
        F.sum("syllables").cast("long").alias("syllables"),
    )
    wD = F.col("words").cast("double")
    sD = F.col("sentences").cast("double")
    yD = F.col("syllables").cast("double")
    flesch = (
        F.lit(206.835) - F.lit(1.015) * (wD / sD) - F.lit(84.6) * (yD / wD)
    )
    return g.select(
        *keys,
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.when(F.col("words") > 0, F.round(flesch, 6) + F.lit(0.0)).alias(
            "flesch"
        ),
    ).orderBy(*keys)


_READABILITY_ORACLE = """
WITH counts AS (
  SELECT lang, source,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS words,
         CAST(1 + len(regexp_extract_all(lower(text), '[.!?]')) AS BIGINT)
           AS sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syllables
  FROM documents
),
g AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(words) AS BIGINT) AS words,
         CAST(sum(sentences) AS BIGINT) AS sentences,
         CAST(sum(syllables) AS BIGINT) AS syllables
  FROM counts GROUP BY 1, 2
)
SELECT lang, source, n_docs, words, sentences, syllables,
       CASE WHEN words > 0 THEN
         round(206.835
               - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
               - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)),
               6) + 0.0
       END AS flesch
FROM g ORDER BY 1, 2
"""


@register("text_readability", oracle=_READABILITY_ORACLE, bench=True)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text beyond-ref: Flesch reading-ease report per (lang, source)
    from exact integer word/sentence/vowel-group totals."""
    docs = load_table(spark, sf_dir, "documents")
    return readability_report(docs)
