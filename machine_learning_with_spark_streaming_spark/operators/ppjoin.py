"""Prefix-filtered exact set-similarity self-join (AllPairs/PPJoin
candidate pruning, Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06) —
the same verified n-gram-Jaccard pairs as ``dedup_ngram_jaccard``,
from a far smaller candidate set.

Why it matters at 100 TB: the plain inverted index (dedup.py:
jaccard_candidates) emits a candidate row for EVERY shared shingle
occurrence — sum over shingles of df² — and only the stop-shingle cut
(a recall trade) tames the hot tail. The prefix filter is the LOSSLESS
version of that idea: order the shingle universe by ascending document
frequency (rarest first; any total order is correct, df-order is the
one that minimizes candidates), and index each doc's first

    p(x) = |x| - ceil(t·|x|) + 1

shingles only. Two docs with Jaccard ≥ t must overlap by
I ≥ t/(1+t)·(|A|+|B|) ≥ ceil(t·|x|) shingles (each side, given the
size filter below), and a doc's NON-prefix tail holds only
ceil(t·|x|) - 1 shingles — so the intersection cannot hide entirely
past both prefixes: some shared shingle sits in the smaller-ordered
doc's prefix while every shingle ordered before it (shared or not) is
in the other doc's prefix. Candidates shrink to prefix-df², with the
prefix concentrated on RARE shingles (tiny df) — boilerplate shingles
with huge df land at the order's far end and almost never in a prefix.
Recall is exactly 100%: the theorem is an if-and-only-miss bound, and
the exact verify on full shingle arrays re-checks every candidate
anyway (a missing-pair bug would break the shared oracle's hash).

Size filter: J(A,B) ≥ t forces t·|B| ≤ |A| ≤ |B|/t; candidates outside
the band are pruned before the verify join (5·min ≥ 4·max at t=0.8,
pure integer arithmetic).

Scale shape: one df-aggregate over exploded shingles (map-side
combined), one shuffle join back, one PER-DOC window (partition =
one document's shingles — bounded by document length, never by corpus
size), then the self-join runs on the prefix index only. The verify
join is identical to jaccard_pairs. Total-order tiebreak is
(df, shingle string): distinct docs must rank equal-df shingles
identically or the theorem breaks — a hash tiebreak with a collision
would silently reorder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from machine_learning_with_spark_streaming_spark.operators.dedup import (
    _JACCARD_ORACLE_BODY,
    JACCARD_THRESHOLD,
    SHINGLE_N,
    corpus_with_duplicates,
    shingle_table,
)
from machine_learning_with_spark_streaming_spark.registry import register


def prefix_candidates(sh_tab: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing a PREFIX shingle, size
    band applied. ``threshold`` must be a ratio p/q with small
    integers; 0.8 → ceil arithmetic stays integer-exact."""
    # threshold as exact rational (0.8 = 4/5); ceil(t*n) = (p*n + q - 1) div q
    tp, tq = (
        (4, 5) if abs(threshold - 0.8) < 1e-12 else
        (int(round(threshold * 100)), 100)
    )
    sh = sh_tab.select("id", F.explode("sh").alias("shingle"))
    sizes = sh_tab.select("id", F.size("sh").alias("n_sh"))
    df_tab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = sh.join(df_tab, "shingle").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "shingle")
        ),
    )
    prefixed = (
        ordered.join(sizes, "id")
        .filter(
            F.col("rn")
            <= F.col("n_sh")
            - F.expr(f"({tp} * n_sh + {tq} - 1) div {tq}")
            + F.lit(1)
        )
        .select("id", "n_sh", F.xxhash64("shingle").alias("sk"))
    )
    a, b = prefixed.alias("a"), prefixed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sk") == F.col("b.sk"))
            & (F.col("a.id") < F.col("b.id"))
            # size band: t*max <= min, integer form
            & (F.col("a.n_sh") * tq >= F.col("b.n_sh") * tp)
            & (F.col("b.n_sh") * tq >= F.col("a.n_sh") * tp),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    n: int = SHINGLE_N,
) -> DataFrame:
    """(id_a, id_b, jaccard) with id_a < id_b — identical output to
    dedup.py:jaccard_pairs, candidates pruned losslessly by prefix +
    size filtering."""
    sh_tab = shingle_table(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = prefix_candidates(sh_tab, threshold)
    # The verify joins MUST shuffle: Catalyst's size estimate for the
    # not-yet-materialized persisted shingle table reads small, and the
    # auto-chosen BuildRight broadcast then ships the FULL per-doc
    # shingle arrays — measured OOM at 64x docs when a consumer
    # replicates this subtree. Both sides are corpus-sized at scale;
    # shuffle-hash keeps the scan streaming (no corpus sort) and
    # survives 100 TB — measured at 64x docs: broadcast 43.1 s (and
    # OOM when replicated), sort-merge 77.7 s, shuffle-hash 41.2 s.
    return (
        cand.join(
            sh_tab.select(
                F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
            ).hint("shuffle_hash"),
            "id_a",
        )
        .join(
            sh_tab.select(
                F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
            ).hint("shuffle_hash"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


@register("dedup_jaccard_prefix_filter", oracle=_JACCARD_ORACLE_BODY, bench=True)
def q_prefix_filtered_pairs(spark, sf_dir):
    """The dedup_ngram_jaccard result through the lossless prefix-
    filtered candidate path — same oracle certifies that pruning
    dropped no pair and invented none."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    return prefix_filtered_jaccard_pairs(corpus).orderBy("id_a", "id_b")
