"""Composed curation pipeline v4 — this session's quality axis wired
into the canonical-dedup funnel: readability GATE (integer word count
and syllable-density rules from readability.py) → shingle-fingerprint
exact dedup keeping the smallest doc_id (text.py's fingerprint) →
per-stage funnel manifest. The report a curation run publishes first:
how much mass each stage dropped.

Everything is one linear chain of certified stage shapes — a regexp
projection, one filter, the fingerprint projection, one group-agg
keeper election, one semi-join — so the composed cost is the sum of
its stages (the pipeline_llm_data_prep_v3 precedent). All-integer
output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.operators.readability import (
    doc_reading_counts,
)
from machine_learning_with_spark_streaming_spark.operators.text import fingerprint

MIN_WORDS = 40
MAX_SYL_PER_10W = 15  # syllables*10 <= words*15, i.e. density <= 1.5


def curation_funnel(docs: DataFrame) -> DataFrame:
    """(stage, n_docs, word_mass) for ingested → readable → canonical.

    r11 (guide §1.2/§2.4): the stage union used to re-evaluate the
    regex-heavy reading-count pass once per branch (3x) and the shingle
    fingerprint twice (both sides of the keeper semi-join) — 4 regex
    passes + 2 shingle passes per run. Now the counts materialize ONCE
    (persist — the ``persist_shingles`` house pattern; cluster analog is
    a temp-table write), and the keeper election is a single
    ``min_by(words, doc_id)`` aggregate per fingerprint (the row with
    the min doc_id IS the keeper, so its words value is identical to
    the old semi-join's) — one shingle pass, no self-join."""
    counts = doc_reading_counts(docs).persist(StorageLevel.MEMORY_AND_DISK)
    gated = counts.filter(
        (F.col("words") >= MIN_WORDS)
        & (F.col("syllables") * 10 <= F.col("words") * MAX_SYL_PER_10W)
    )
    # NULL fingerprints (normalized text with <3 whitespace tokens — an
    # empty shingle array) are NOT canonical docs: the pre-r11 semi-join
    # and the DuckDB oracle both drop them (no shingle rows → no
    # fingerprint group), so the min_by election must skip the NULL
    # group too (r12, ADVICE). Unreachable behind the words>=40 gate for
    # space-tokenized text, but hyphen/punctuation-glued tokens can pass
    # the gate with <3 whitespace tokens.
    fp = fingerprint(gated.select("doc_id", "text", "words")).filter(
        F.col("fingerprint").isNotNull()
    )
    canon = fp.groupBy("fingerprint").agg(
        F.min_by("words", "doc_id").alias("words")
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("words").cast("long").alias("word_mass"),
        )

    return (
        stage("1_ingested", counts)
        .unionByName(stage("2_readable", gated))
        .unionByName(stage("3_canonical", canon))
        .orderBy("stage")
    )


_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_V4_ORACLE = f"""
WITH counts AS (
  SELECT doc_id, text,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS words,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syl
  FROM documents
),
gated AS (
  SELECT * FROM counts
  WHERE words >= {MIN_WORDS} AND syl * 10 <= words * {MAX_SYL_PER_10W}
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2] AS shingle
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM gated) w,
         LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
  )
),
fp AS (
  SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
),
keeper AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp GROUP BY 1),
kept AS (
  SELECT g.doc_id, g.words FROM gated g JOIN keeper k USING (doc_id)
)
SELECT '1_ingested' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(words) AS BIGINT) AS word_mass FROM counts
UNION ALL
SELECT '2_readable', CAST(count(*) AS BIGINT), CAST(sum(words) AS BIGINT)
FROM gated
UNION ALL
SELECT '3_canonical', CAST(count(*) AS BIGINT), CAST(sum(words) AS BIGINT)
FROM kept
ORDER BY 1
"""


@register("pipeline_curation_v4", oracle=_V4_ORACLE, bench=True)
def q_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed v4 curation funnel: readability gate → fingerprint
    canonical dedup → per-stage (n_docs, word_mass) manifest."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curation_funnel(docs)
