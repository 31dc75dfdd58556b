"""Bloom-style semi-join reduction: prune the fact side of a big join
with a bounded broadcast *key-fingerprint bitmap* before the shuffle.

The scale problem this models: fact ⋈ dim where the dim side is far too
large to broadcast (so the join is sort-merge, shuffling the full fact
table) but only a small fraction of fact rows actually match. Spark's
AQE can inject a runtime bloom filter for some shapes
(``spark.sql.optimizer.runtime.bloomFilter.enabled``); this operator is
the explicit, planner-independent form:

1. hash every (filtered-)dim key into ``m`` bit positions —
   ``pmod(xxhash64(key), m)`` — and PACK the set bits into 64-bit
   words: ``groupBy(bit >> 6).agg(bit_or(1 << (bit & 63)))``. The
   bitmap is **at most m/64 rows of (word, mask) regardless of dim
   cardinality** — a true bloom bitmap stored relationally, so it stays
   a first-class broadcastable DataFrame (m = 2^22 bits ⇒ ≤ 65,536
   rows ≈ 1 MB broadcast);
2. broadcast-join the fact on its key's word index and test the bit —
   a map-side filter that drops most non-matching fact rows *before*
   they are shuffled (false positives possible, false negatives not —
   exactly a 1-hash bloom filter);
3. run the exact join on the survivors. Correctness never depends on
   the filter: step 3 re-checks equality, so the composed result is
   IDENTICAL to the plain join (which is what the DuckDB oracle runs).

Sizing (learned at 64× stress, round 10): the fp rate of the 1-hash
filter IS its bit occupancy ``1 − exp(−keys/m)``. The first cut of this
operator used an UNPACKED m = 65,536 bucket table; at 64× facts the dim
carried ~1.9 M distinct keys, the table saturated (occupancy → 1) and
the "filter" passed everything while still paying its probe — pure
overhead. The packed form buys a 64× larger m for the same broadcast
bytes: at m = 2^22, 1.9 M keys sit at ~37% occupancy (still pruning
~2/3 of non-matches), and ≤130 k keys stay under 3%. Dims beyond ~4 M
distinct keys should raise ``m`` (the bitmap grows by m/64 rows) or
move to a multi-hash filter; at that point also reconsider whether the
dim still out-sizes a plain broadcast join.

Shuffle math at 100 TB: with dim selectivity s and occupancy p, the
fact bytes entering the sort-merge exchange shrink to ~(s + p·(1−s)) of
the unfiltered plan for the cost of one ≤1 MB broadcast. The registered
demo pins the final join to sort-merge (``hint("merge")``) — modeling
the dim-too-big-to-broadcast case — and the test asserts the plan
shape: a broadcast probe join feeding a SortMergeJoin (the exact join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

DEFAULT_BITS = 1 << 22  # 4.19M bits = <=65,536 (word, mask) rows ~ 1 MB


def _bit(key: str, m: int):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(m))


def bloom_bits(dim: DataFrame, key: str, m: int = DEFAULT_BITS) -> DataFrame:
    """The dim side's key-fingerprint bitmap, packed 64 bits per row:
    (``__word``, ``__mask``) with ≤ m/64 rows."""
    return (
        dim.select(_bit(key, m).alias("__bit"))
        .select(
            F.expr("shiftright(__bit, 6)").alias("__word"),
            F.expr("shiftleft(1L, cast(__bit % 64 AS INT))").alias("__b"),
        )
        .groupBy("__word")
        .agg(F.bit_or("__b").alias("__mask"))
    )


def bloom_prune(
    fact: DataFrame, bits: DataFrame, key: str, m: int = DEFAULT_BITS
) -> DataFrame:
    """Map-side fact filter: keep rows whose key's bit is set in the
    bitmap. Never drops a matching row (same hash ⇒ same bit). An empty
    dim yields an empty bitmap and the inner probe join drops all."""
    probe = (
        fact.withColumn("__bit", _bit(key, m))
        .withColumn("__word", F.expr("shiftright(__bit, 6)"))
        .withColumn("__pos", F.expr("cast(__bit % 64 AS INT)"))
    )
    return (
        probe.join(F.broadcast(bits), "__word")
        .filter(F.expr("(shiftright(__mask, __pos) & 1) = 1"))
        .drop("__bit", "__word", "__pos", "__mask")
    )


def bloom_prejoin(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m: int = DEFAULT_BITS,
    merge_hint: bool = True,
) -> DataFrame:
    """fact ⋈ dim with the bloom pre-filter; result identical to the
    plain inner join. ``merge_hint`` pins sort-merge on the exact join
    (the at-scale shape this operator exists for)."""
    pruned = bloom_prune(fact, bloom_bits(dim, dim_key, m), fact_key, m)
    right = dim.hint("merge") if merge_hint else dim
    return pruned.join(right, pruned[fact_key] == right[dim_key])


_BLOOM_ORACLE = """
SELECT o.o_orderpriority,
       CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("j17_bloom_prejoin", oracle=_BLOOM_ORACLE, bench=True)
def q_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by month through the bloom-pruned join:
    lineitem rows are pre-filtered by the urgent orders' packed key
    bitmap (broadcast ≤1 MB) before the sort-merge join shuffles them.
    Revenue is cent-integer (the engine's cross-engine money contract)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderpriority", "o_orderdate")
    joined = bloom_prejoin(li, urgent, "l_orderkey", "o_orderkey")
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        joined.groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev_c).alias("revenue_c"),
        )
        .orderBy("o_orderpriority", "order_month")
    )


# ------------------- negative-cache composition with incremental dedup


def bloom_split(fact: DataFrame, bits: DataFrame, key: str, m: int = DEFAULT_BITS):
    """(maybe, definite_miss): rows whose key bit is set vs provably
    absent from the filtered-through set. The miss side never needs the
    exact join — that is the negative-cache contract."""
    bit = _bit(key, m)
    probe = (
        fact.withColumn("__bit", bit)
        .withColumn("__word", F.expr("shiftright(__bit, 6)"))
        .withColumn("__pos", F.expr("cast(__bit % 64 AS INT)"))
        .join(F.broadcast(bits), "__word", "left")
    )
    hit = F.col("__mask").isNotNull() & (
        F.expr("(shiftright(__mask, __pos) & 1) = 1")
    )
    clean = lambda df: df.drop("__bit", "__word", "__pos", "__mask")  # noqa: E731
    return clean(probe.filter(hit)), clean(probe.filter(~hit))


def incremental_dedup_bloom(
    batch: DataFrame,
    base: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = DEFAULT_BITS,
) -> DataFrame:
    """``dedup.incremental_dedup`` semantics (drop batch docs whose
    normalized text exists in the base corpus) with the base fingerprint
    set consulted through a bloom NEGATIVE CACHE first:

    - rows whose hash bit is CLEAR are provably novel — they skip the
      base anti-join entirely (no false negatives in a bloom filter);
    - only the bit-set rows (true dupes + occupancy-rate false
      positives) join against the base hash table for exact resolution.

    Identical output to the plain anti-join (the oracle). At 100 TB the
    base fingerprint table is the large side; for a mostly-novel ingest
    batch the exact-join volume collapses from |batch| to
    ~|dupes| + fp·|batch| while the cache itself stays a ≤1 MB
    broadcast rebuilt (or incrementally OR-ed) per ingest.
    """
    from machine_learning_with_spark_streaming_spark.operators.dedup import normalize_text

    base_h = base.select(
        F.xxhash64(normalize_text(text_col)).alias("__h")
    ).distinct()
    batch_h = batch.withColumn("__h", F.xxhash64(normalize_text(text_col)))
    maybe, definite_new = bloom_split(batch_h, bloom_bits(base_h, "__h", m), "__h", m)
    resolved_new = maybe.join(base_h, "__h", "left_anti")
    return definite_new.unionByName(resolved_new).drop("__h")


_INCR_BLOOM_ORACLE = """
WITH batch AS (
  SELECT doc_id + 100000 AS doc_id, text || ' zzz extra' AS text
  FROM documents WHERE doc_id < 25
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents
  WHERE doc_id >= 25 AND doc_id < 50
),
base_norms AS (
  SELECT DISTINCT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm
  FROM documents
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id
FROM batch b
LEFT JOIN base_norms d
  ON lower(trim(regexp_replace(b.text, '\\s+', ' ', 'g'))) = d.nrm
WHERE d.nrm IS NULL
ORDER BY 1
"""


@register("dedup_incremental_bloom", oracle=_INCR_BLOOM_ORACLE, bench=True)
def q_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup_incremental fixture (25 near + 25 exact copies) through
    the bloom negative cache — identical survivors, and only the
    bit-set slice of the batch ever joins the base fingerprints."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    exact = docs.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    batch = near.unionByName(exact)
    return (
        incremental_dedup_bloom(batch, docs).select("doc_id").orderBy("doc_id")
    )
