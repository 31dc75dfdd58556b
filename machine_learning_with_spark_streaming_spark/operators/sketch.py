"""Count-min sketch: mergeable approximate counting for heavy-hitter
tracking (Cormode & Muthukrishnan 2005, "An improved data stream
summary: the count-min sketch and its applications").

The mergeable-summary family here already covers distinct counts /
quantiles (HLL++ / approx-percentile, `a13`), histogram bins and hash
fingerprints (`datasheet_sketch`); CMS adds *per-key frequency*
estimation in fixed space: a d×w integer grid where cell (r, b) sums
the counts of every token hashing to bucket b under hash row r.
``est(token) = min_r grid[r][bucket_r(token)]`` — always ≥ the true
count (only collisions inflate it), with ε ≈ e/w overestimate at
confidence 1-(1/e)^d.

Why it matters at 100 TB: exact vocabulary counts shuffle |vocab| rows
(fine here, certified in `text_vocab_topk`), but a CMS is d×w = 256
integers regardless of corpus size, merges across partitions, batches
and days by cell-wise addition (same contract as `merge_sketches`),
and lets an ingest stream answer "is this token suddenly hot?" without
a vocabulary join. The registered query certifies BOTH sides of the
contract: the estimate from the grid and the exact count, with the
always-overestimates invariant visible as ``overestimate >= 0``.

Cross-engine determinism: buckets come from the md5-derived 60-bit
hash (``dedup.md5_hash60`` — the house xxhash64 alternative DuckDB can
replay verbatim), and every output is an exact BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60
from machine_learning_with_spark_streaming_spark.operators.text import _NORM, words
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

CMS_D = 4  # hash rows
CMS_W = 64  # buckets per row
CMS_TOPK = 20


def _bucket(token: Column, r: Column) -> Column:
    return md5_hash60(
        F.concat(token, F.lit("#cms"), r.cast("string"))
    ) % CMS_W


def _with_rows(df: DataFrame, token_col: str = "token") -> DataFrame:
    """×d fanout: (.., r, bucket) for every hash row."""
    return df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("r")
    ).withColumn("bucket", _bucket(F.col(token_col), F.col("r")))


def cms_sketch(token_counts: DataFrame) -> DataFrame:
    """(r, bucket, value): the d×w grid from a (token, cnt) relation.
    Mergeable: two sketches combine with groupBy(r, bucket).sum —
    identical to building from the concatenated corpora."""
    return (
        _with_rows(token_counts)
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("value"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame) -> DataFrame:
    """(token, est): min over the d grid cells each probe token hashes
    into. ``sketch`` is d×w rows — always broadcast."""
    return (
        _with_rows(probes.select("token"))
        .join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("token")
        .agg(F.min("value").cast("long").alias("est"))
    )


_CMS_ORACLE = f"""
WITH exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(t, ' ')) AS token
        FROM (SELECT {_NORM} AS t FROM documents))
  GROUP BY 1
),
grid AS (
  SELECT r.r,
         ('0x' || substr(md5(e.token || '#cms' || CAST(r.r AS VARCHAR)), 1, 15))::BIGINT
           % {CMS_W} AS bucket,
         SUM(e.cnt) AS value
  FROM exact e, (SELECT unnest(range({CMS_D})) AS r) r
  GROUP BY 1, 2
),
top AS (
  SELECT token, cnt FROM exact ORDER BY cnt DESC, token LIMIT {CMS_TOPK}
),
est AS (
  SELECT t.token, MIN(g.value) AS est
  FROM top t, (SELECT unnest(range({CMS_D})) AS r) r
  JOIN grid g
    ON g.r = r.r
   AND g.bucket = ('0x' || substr(md5(t.token || '#cms' || CAST(r.r AS VARCHAR)), 1, 15))::BIGINT
                  % {CMS_W}
  GROUP BY 1
)
SELECT t.token AS token, t.cnt AS exact_count,
       CAST(e.est AS BIGINT) AS cms_est,
       CAST(e.est - t.cnt AS BIGINT) AS overestimate
FROM top t JOIN est e ON e.token = t.token
ORDER BY exact_count DESC, t.token
"""


@register("text_cms_heavy_hitters", oracle=_CMS_ORACLE, bench=True)
def q_cms_heavy_hitters(spark, sf_dir):
    """Corpus heavy-hitters through the count-min grid: top-20 exact
    tokens probed against the 4×64 sketch; ``overestimate >= 0`` is the
    CMS invariant, and its size shows the ε·N collision inflation."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    exact = (
        docs.select(F.explode(words("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    sketch = cms_sketch(exact)
    top = exact.orderBy(F.desc("cnt"), "token").limit(CMS_TOPK)
    est = cms_estimate(sketch, top)
    return (
        top.join(est, "token")
        .select(
            "token",
            F.col("cnt").alias("exact_count"),
            F.col("est").alias("cms_est"),
            (F.col("est") - F.col("cnt")).cast("long").alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), "token")
    )
