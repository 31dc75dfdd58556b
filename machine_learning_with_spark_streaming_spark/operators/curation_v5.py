"""Composed curation pipeline v5 — this round's primitives wired into
the funnel: LOSSLESS near-dup removal (the prefix-filtered exact
Jaccard join, ppjoin.py — no recall trade, unlike the stop-shingle or
LSH stages earlier funnels used) plus a KMV distinct-vocabulary
monitor per stage (kmv.py — the sketch a 100 TB curation run publishes
instead of a COUNT(DISTINCT word) re-scan).

Near-dup drop rule: greedy keep-smallest — a doc is dropped iff it is
the LARGER id of any verified >= 0.8 pair. Deterministic and
anti-join-cheap; on transitive chains it can drop more than the
connected-components canonical keeper (dedup_canonical_keeper is the
cluster-exact alternative) — a funnel wants the cheap conservative
cut, and the oracle replays the identical rule so the choice itself is
certified.

Per stage: n_docs, word_mass (normalized-split word count — the same
normalization the shingle/jaccard machinery uses, so mass and pairs
see the same text), est_vocab (k=64 KMV over distinct words; both
engines replay the estimator exactly — the monitoring column is
hash-certified, not bound-checked). All BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import (
    _JACCARD_PAIRS_CTES,
    _NORM,
    corpus_with_duplicates,
    normalize_text,
)
from machine_learning_with_spark_streaming_spark.operators.kmv import K, M, SALT, _est, kmv_sketch
from machine_learning_with_spark_streaming_spark.operators.ppjoin import (
    prefix_filtered_jaccard_pairs,
)
from machine_learning_with_spark_streaming_spark.registry import register


def _stage_row(name: str, docs: DataFrame) -> DataFrame:
    words = docs.select(
        "doc_id", F.explode(F.split(normalize_text("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    # r12 (guide §1.2/§2.3): the mass row needs only per-doc word
    # COUNTS, so it reads the non-exploded corpus — size(filter(split))
    # per row, no word-row explosion, no second corpus-sized explode
    # evaluation per stage (the explode now runs once, for the KMV
    # sketch). Identical values: sum(per-doc count) == count of word
    # rows, and count_distinct over docs with >=1 word == the exploded
    # countDistinct(doc_id). size() of a NULL-text doc is NULL with
    # ANSI on but -1 with ANSI off; greatest(0, ...) makes it 0 in both
    # modes, so that doc contributes nothing either way.
    per_doc = docs.select(
        "doc_id",
        F.greatest(
            F.lit(0),
            F.size(
                F.filter(F.split(normalize_text("text"), " "), lambda w: w != "")
            ),
        ).alias("__nw"),
    )
    mass = per_doc.agg(
        F.lit(name).alias("stage"),
        F.count_distinct(F.when(F.col("__nw") > 0, F.col("doc_id")))
        .cast("long")
        .alias("n_docs"),
        F.coalesce(F.sum("__nw"), F.lit(0)).cast("long").alias("word_mass"),
    )
    # Corpus-global sketch: the constant key folds away, so kmv_sketch's
    # phase-2 window runs partitionless (WindowExec warns) — its input
    # is structurally capped at NSHARDS*k = 4096 rows by the phase-1
    # per-shard rank filter, so the single-partition sort is bounded by
    # construction regardless of corpus size.
    vocab = (
        kmv_sketch(words.select(F.lit("all").alias("k0"), "w"), "k0", "w")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("kth"))
        .select(_est(F.col("cnt"), "kth", K).cast("long").alias("est_vocab"))
    )
    return mass.crossJoin(F.broadcast(vocab))


def curation_funnel_v5(corpus: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    pairs = prefix_filtered_jaccard_pairs(corpus)
    # drops is tiny (one id per dropped doc) but its lineage is the
    # whole prefix-filter machinery; `kept` feeds BOTH stage-2 rows
    # (mass + vocab), so without the persist the pair subtree executes
    # per consumer — measured 3x replication (and 3 concurrent shingle
    # shuffles) at 64x docs.
    drops = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    kept = corpus.join(drops, "doc_id", "left_anti")
    return (
        _stage_row("1_ingested", corpus)
        .unionByName(_stage_row("2_near_dedup", kept))
        .orderBy("stage")
    )


_VOCAB_SQL = f"""
    SELECT CAST(CASE WHEN count(*) < {K} THEN count(*)
                ELSE ({K - 1} * {M}) // max(CASE WHEN rn <= {K} THEN h END)
           END AS BIGINT)
    FROM (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (
        SELECT DISTINCT
               ('0x' || substr(md5(w || '{SALT}'), 1, 15))::BIGINT % {M} AS h
        FROM {{src}}_words
      )
    ) WHERE rn <= {K}
"""

_V5_ORACLE = f"""
WITH {_JACCARD_PAIRS_CTES},
drops AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
kept AS (
  SELECT c.* FROM corpus c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM drops)
),
corpus_words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM corpus
  ) WHERE w <> ''
),
kept_words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM kept
  ) WHERE w <> ''
)
SELECT '1_ingested' AS stage,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS word_mass,
       ({_VOCAB_SQL.format(src="corpus")}) AS est_vocab
FROM corpus_words
UNION ALL
SELECT '2_near_dedup',
       CAST(count(DISTINCT doc_id) AS BIGINT),
       CAST(count(*) AS BIGINT),
       ({_VOCAB_SQL.format(src="kept")})
FROM kept_words
ORDER BY 1
"""


@register("pipeline_curation_v5", oracle=_V5_ORACLE)
def q_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed v5 funnel: prefix-filtered lossless near-dedup +
    per-stage KMV vocabulary monitor."""
    return curation_funnel_v5(corpus_with_duplicates(spark, sf_dir))
