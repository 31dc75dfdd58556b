"""Round-12 optimization invariants.

Each optimization this round restructured HOW an operator computes,
never WHAT: these tests pin the equivalences the restructurings rely
on, on inputs small enough to reason about by hand.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.curation_v4 import (
    curation_funnel,
)
from machine_learning_with_spark_streaming_spark.operators.curation_v5 import (
    _stage_row,
)
from machine_learning_with_spark_streaming_spark.operators.sampling import (
    epoch_shuffle,
)
from machine_learning_with_spark_streaming_spark.sources.timetravel import (
    resolve_asof,
    resolve_asof_many,
    write_snapshot,
)


# ------------------------------------------------- batched as-of resolve


def test_resolve_asof_many_matches_per_asof(spark, tmp_path):
    base = os.path.join(str(tmp_path), "store")
    df = spark.range(5).select(F.col("id").alias("k"))
    for v in (1, 3, 7):
        write_snapshot(df, base, v, "k")
    asofs = [1, 2, 3, 6, 7, 99]
    batched = resolve_asof_many(spark, base, asofs)
    assert batched == {a: resolve_asof(spark, base, a) for a in asofs}
    with pytest.raises(ValueError):
        resolve_asof_many(spark, base, [0])


# ------------------------------------------------- epoch_shuffle guard


def test_epoch_shuffle_rejects_colliding_keep_cols(spark):
    df = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("shard")
    )
    with pytest.raises(ValueError, match="keep_cols"):
        epoch_shuffle(df, epoch=0, keep_cols=("shard",))


# ------------------------------------------------- curation_v5 mass pass


def test_v5_stage_row_scalar_mass_equals_exploded(spark):
    # the r12 mass row derives (n_docs, word_mass) from per-doc counts
    # (no explode); pin it against the exploded formulation, including
    # the degenerate docs (empty text, whitespace-only, NULL)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "  one   two  "),
            (3, ""),
            (4, None),
            (5, "solo"),
        ],
        "doc_id long, text string",
    )
    row = _stage_row("s", docs).collect()[0]
    from machine_learning_with_spark_streaming_spark.operators.dedup import (
        normalize_text,
    )

    words = docs.select(
        "doc_id", F.explode(F.split(normalize_text("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    exploded = words.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("word_mass"),
    ).collect()[0]
    assert row["n_docs"] == exploded["n_docs"] == 3
    assert row["word_mass"] == exploded["word_mass"] == 7

    # with ANSI off size(NULL) is -1: the NULL-text doc still adds nothing
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        row = _stage_row("s", docs).collect()[0]
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")
    assert (row["n_docs"], row["word_mass"]) == (3, 7)


# ------------------------------------------------- curation_v4 NULL fp


def test_v4_null_fingerprint_doc_not_canonical(spark):
    # a doc can pass the words>=40 gate (words counts [a-z]+ runs) with
    # <3 whitespace tokens — its shingle array is empty, fingerprint
    # NULL. The oracle's shingle CTE drops it; the keeper election must
    # too (r12 fix: filter before the min_by groupBy).
    glued = "-".join(["ab"] * 50)  # 50 alpha runs, ONE whitespace token
    normal = " ".join(["word"] * 50)
    docs = spark.createDataFrame(
        [(1, glued), (2, normal)], "doc_id long, text string"
    )
    rows = {r["stage"]: r for r in curation_funnel(docs).collect()}
    assert rows["2_readable"]["n_docs"] == 2  # both pass the gate
    assert rows["3_canonical"]["n_docs"] == 1  # NULL-fp doc dropped
    assert rows["3_canonical"]["word_mass"] == rows["2_readable"]["word_mass"] - 50


# ------------------------------------------------- scan-spread hardening


def test_scan_spread_directory_layout_no_raise(spark, tmp_path, monkeypatch):
    # a directory-layout table (the cluster shape) must not raise and
    # must produce directory-aware metadata; the decision is cached
    from machine_learning_with_spark_streaming_spark import schemas

    path = os.path.join(str(tmp_path), "documents.parquet")
    spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text")
    ).repartition(2).write.parquet(path)

    df = spark.read.parquet(path)
    out = schemas._scan_spread(spark, df, path, "documents")
    assert out.count() == 2000
    files = schemas._parquet_files(path)
    assert len(files) == 2
    assert (files, spark.sparkContext.defaultParallelism) in schemas._SPREAD_CACHE
    rows, size = schemas._parquet_meta(files)
    assert rows == 2000 and size > 0

    # a rewrite inside a nested partition directory leaves the top
    # directory's stat alone, and must still not serve the old decision
    nested = os.path.join(str(tmp_path), "nested.parquet")
    part = os.path.join(nested, "k=0")
    os.makedirs(part)

    def write_part(n):
        table = pa.table({"doc_id": list(range(n)), "text": ["t"] * n})
        pq.write_table(table, os.path.join(part, "part-0.parquet"))

    write_part(100)
    small = spark.read.parquet(nested)
    assert schemas._scan_spread(spark, small, nested, "documents") is small
    top = os.stat(nested)
    write_part(2000)
    assert (os.stat(nested).st_mtime_ns, os.stat(nested).st_size) == (
        top.st_mtime_ns,
        top.st_size,
    )
    big = spark.read.parquet(nested)
    assert schemas._scan_spread(spark, big, nested, "documents") is not big

    # a failed metadata read is not cached, so a later load can spread
    one = os.path.join(str(tmp_path), "one.parquet")
    spark.range(2000).coalesce(1).write.parquet(one)
    df = spark.read.parquet(one)
    monkeypatch.setattr(schemas, "_parquet_meta", lambda p: 1 / 0)
    assert schemas._scan_spread(spark, df, one, "documents") is df
    monkeypatch.undo()
    assert schemas._scan_spread(spark, df, one, "documents") is not df
