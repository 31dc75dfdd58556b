"""K-Minimum-Values (theta-style) sketch set algebra — mergeable
distinct counts with UNION / INTERSECTION estimates, cross-engine
EXACT.

The 100 TB problem this models (reference parity: the audience-overlap
questions behind `pipeline/qualitycheck.py`'s cross-snapshot
reconciliations, asked at a scale where COUNT(DISTINCT) per pair is a
full shuffle per pair): how many distinct users does each pair of
event types share? Exact pairwise distinct-intersection over P pairs
costs P corpus shuffles. A KMV sketch (Bar-Yossef et al. 2002; the
Theta sketch's core) is one corpus pass per key — keep the k smallest
hash values of the key's id set — after which EVERY pairwise union /
intersection / Jaccard estimate is arithmetic over k-row sketches.

Unlike the HLL rollup (sketch_rollup.py), whose Datasketches internals
DuckDB cannot replay and which therefore certifies an error BOUND, the
KMV estimator is a pure function of the hash values: with the md5-gate
hash (operators/dedup.py:md5_hash60, the samplers' cross-engine
discipline) both engines compute the IDENTICAL sketch and the
IDENTICAL estimate — the driver hash-certifies the estimator itself,
in pure BIGINT arithmetic (integer division; no doubles anywhere).

Estimator (hash space M = 2^40, sketch size k):
- |A|^ = (k-1)·M div u_k  where u_k = k-th smallest hash of A
  (exact count when the key holds fewer than k distinct hashes);
- union: the k smallest of S_A ∪ S_B is exactly the KMV sketch of
  A ∪ B (k-mins are composable — the whole point of the sketch);
- intersection: rho = |{h in KMV(A∪B): h in S_A and h in S_B}| / k
  is the minwise estimate of the Jaccard coefficient, so
  |A∩B|^ = rho · |A∪B|^, emitted as (n_common · est_union) div ucnt.

Scale shape:
- one distinct-project of (key, hash) over the corpus (shuffle with
  map-side combine), then a TWO-PHASE k-min: row_number within
  (key, shard = h % NSHARDS) keeps every window partition at
  n/NSHARDS rows (a per-task local sort, never a per-key global one),
  and the phase-2 window per key ranks at most NSHARDS·k survivors —
  bounded regardless of corpus size. Raise NSHARDS (4096 on a real
  cluster) so phase-1 partitions stay executor-sized; the result is
  invariant to NSHARDS (k smallest is k smallest).
- everything after the sketch build touches ≤ |keys|·k rows: the pair
  expansion is two broadcast joins of the |pairs| table against the
  sketch rows; no corpus access, no cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

M = 1 << 40  # KMV hash space: md5_hash60 folded to 40 bits so every
# estimator term ((k-1)·M, n_common·est) stays far inside BIGINT.
K = 64
NSHARDS = 64  # phase-1 fan-out; 4096 at cluster scale (result-invariant)
SALT = "#kmv0"


def kmv_sketch(
    df: DataFrame,
    key_col: str | list[str],
    id_col: str,
    k: int = K,
    nshards: int = NSHARDS,
) -> DataFrame:
    """(key…, h) — the k smallest 40-bit md5-gate hashes of each key's
    distinct ``id_col`` set, via the two-phase bounded-window k-min.
    A single key column is aliased to ``key``; a list keeps its names
    (the grouping grain of a partial-sketch table, e.g. (key, day))."""
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    out_keys = ["key"] if isinstance(key_col, str) else keys
    sel = (
        [F.col(key_col).alias("key")]
        if isinstance(key_col, str)
        else [F.col(c) for c in keys]
    )
    hashed = (
        df.filter(F.col(id_col).isNotNull())
        .select(
            *sel,
            (
                md5_hash60(F.concat(F.col(id_col).cast("string"), F.lit(SALT)))
                % F.lit(M)
            ).alias("h"),
        )
        .distinct()
    )
    phase1 = Window.partitionBy(
        *out_keys, F.col("h") % F.lit(nshards)
    ).orderBy("h")
    phase2 = Window.partitionBy(*out_keys).orderBy("h")
    return (
        hashed.withColumn("rn1", F.row_number().over(phase1))
        .filter(F.col("rn1") <= k)
        .withColumn("rn", F.row_number().over(phase2))
        .filter(F.col("rn") <= k)
        .select(*out_keys, "h")
    )


def kmv_merge(partials: DataFrame, group_cols: list[str], k: int = K) -> DataFrame:
    """Merge partial sketches up to a coarser grain: the k smallest of
    the unioned hash sets IS the KMV sketch of the unioned id sets
    (every month-top-k hash is a day-top-k hash of its day — the
    composability that makes the sketch a rollup-tree citizen). The
    re-rank window input is bounded by |children|·k rows per group."""
    dedup = partials.select(*group_cols, "h").distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        dedup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(*group_cols, "h")
    )


def _est(cnt, kth, k: int):
    """(k-1)·M div u_k, or the exact count when the sketch is unsaturated."""
    return F.when(cnt < k, cnt).otherwise(
        F.expr(f"({k - 1} * cast({M} as bigint)) div {kth}")
    )


def kmv_pair_estimates(sketch: DataFrame, k: int = K) -> DataFrame:
    """All-pairs distinct / union / intersection estimates from the
    per-key sketches alone (≤ |keys|·k input rows).

    The sketch feeds four consumers (stats, the key list, both sides of
    the pair expansion); persisting it caps the corpus at ONE scan —
    the cluster analog is writing the sketch table at ingest and
    answering every pairwise question from it (the whole point of a
    mergeable sketch). Same rationale as the token-table persist in
    ml/metrics.py:naive_bayes_confusion."""
    from pyspark.storagelevel import StorageLevel

    sketch = sketch.persist(StorageLevel.MEMORY_AND_DISK)
    stats = sketch.groupBy("key").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("h").alias("kth")
    )
    ests = stats.select(
        "key", _est(F.col("cnt"), "kth", k).cast("long").alias("est")
    )
    keys = sketch.select("key").distinct()
    pairs = keys.select(F.col("key").alias("ka")).join(
        keys.select(F.col("key").alias("kb")), F.col("ka") < F.col("kb")
    )
    sides = (
        pairs.join(F.broadcast(sketch), F.col("ka") == F.col("key"))
        .select("ka", "kb", "h")
        .unionByName(
            pairs.join(F.broadcast(sketch), F.col("kb") == F.col("key")).select(
                "ka", "kb", "h"
            )
        )
        .groupBy("ka", "kb", "h")
        .agg(F.count(F.lit(1)).alias("nsides"))
    )
    ranked = sides.withColumn(
        "rn", F.row_number().over(Window.partitionBy("ka", "kb").orderBy("h"))
    ).filter(F.col("rn") <= k)
    u = ranked.groupBy("ka", "kb").agg(
        F.count(F.lit(1)).alias("ucnt"),
        F.max("h").alias("kth_u"),
        F.sum((F.col("nsides") == 2).cast("int")).alias("n_common"),
    )
    ea = ests.select(F.col("key").alias("ka"), F.col("est").alias("est_a"))
    eb = ests.select(F.col("key").alias("kb"), F.col("est").alias("est_b"))
    return (
        u.join(F.broadcast(ea), "ka")
        .join(F.broadcast(eb), "kb")
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            F.lit(k).cast("long").alias("k"),
            F.col("est_a").cast("long"),
            F.col("est_b").cast("long"),
            _est(F.col("ucnt"), "kth_u", k).cast("long").alias("est_union"),
            F.expr(
                f"(n_common * {_est_sql('ucnt', 'kth_u', k)}) div ucnt"
            )
            .cast("long")
            .alias("est_common"),
            F.expr("(n_common * 1000000) div ucnt")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy("key_a", "key_b")
    )


def _est_sql(cnt: str, kth: str, k: int) -> str:
    return (
        f"case when {cnt} < {k} then {cnt} "
        f"else ({k - 1} * cast({M} as bigint)) div {kth} end"
    )


_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type AS key,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '{SALT}'), 1, 15))::BIGINT
           % {M} AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rn FROM h
),
s AS (SELECT key, h FROM r WHERE rn <= {K}),
stats AS (SELECT key, count(*) AS cnt, max(h) AS kth FROM s GROUP BY 1),
est AS (
  SELECT key,
         CASE WHEN cnt < {K} THEN cnt ELSE ({K - 1} * {M}) // kth END AS est
  FROM stats
),
keys AS (SELECT DISTINCT key FROM s),
pairs AS (
  SELECT a.key AS ka, b.key AS kb FROM keys a JOIN keys b ON a.key < b.key
),
sides AS (
  SELECT ka, kb, h, count(*) AS nsides FROM (
    SELECT ka, kb, h FROM pairs JOIN s ON s.key = pairs.ka
    UNION ALL
    SELECT ka, kb, h FROM pairs JOIN s ON s.key = pairs.kb
  ) GROUP BY 1, 2, 3
),
ranked AS (
  SELECT ka, kb, h, nsides,
         row_number() OVER (PARTITION BY ka, kb ORDER BY h) AS rn
  FROM sides
),
u AS (
  SELECT ka, kb, count(*) AS ucnt, max(h) AS kth_u,
         sum(CASE WHEN nsides = 2 THEN 1 ELSE 0 END) AS n_common
  FROM ranked WHERE rn <= {K} GROUP BY 1, 2
)
SELECT u.ka AS key_a, u.kb AS key_b,
       CAST({K} AS BIGINT) AS k,
       CAST(ea.est AS BIGINT) AS est_a,
       CAST(eb.est AS BIGINT) AS est_b,
       CAST(CASE WHEN ucnt < {K} THEN ucnt
                 ELSE ({K - 1} * {M}) // kth_u END AS BIGINT) AS est_union,
       CAST((n_common * (CASE WHEN ucnt < {K} THEN ucnt
                              ELSE ({K - 1} * {M}) // kth_u END)) // ucnt
            AS BIGINT) AS est_common,
       CAST((n_common * 1000000) // ucnt AS BIGINT) AS jaccard_ppm
FROM u
JOIN est ea ON ea.key = u.ka
JOIN est eb ON eb.key = u.kb
ORDER BY key_a, key_b
"""


@register("a24_kmv_set_ops", oracle=_KMV_ORACLE, bench=True)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-user union/intersection/Jaccard estimates for
    every event-type pair from k=64 KMV sketches — one corpus pass,
    then pure k-row arithmetic, hash-certified exactly in both
    engines."""
    events = load_table(spark, sf_dir, "events")
    return kmv_pair_estimates(kmv_sketch(events, "event_type", "user_id"))


# ------------------------------------------------ day→month rollup

_KMV_ROLLUP_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type AS key,
         CAST(date_trunc('month', ts) AS DATE) AS month,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '{SALT}'), 1, 15))::BIGINT
           % {M} AS h
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
r AS (
  SELECT key, month, h,
         row_number() OVER (PARTITION BY key, month ORDER BY h) AS rn
  FROM h
),
s AS (
  SELECT key, month, count(*) AS cnt, max(h) AS kth
  FROM r WHERE rn <= {K} GROUP BY 1, 2
),
days AS (
  SELECT event_type AS key, CAST(date_trunc('month', ts) AS DATE) AS month,
         count(DISTINCT CAST(ts AS DATE)) AS n_days,
         count(DISTINCT user_id) AS exact_users
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
)
SELECT s.key, s.month,
       CAST(days.n_days AS BIGINT) AS n_days,
       CAST(CASE WHEN cnt < {K} THEN cnt
                 ELSE ({K - 1} * {M}) // kth END AS BIGINT) AS est_users,
       CAST(days.exact_users AS BIGINT) AS exact_users,
       CAST(abs((CASE WHEN cnt < {K} THEN cnt
                      ELSE ({K - 1} * {M}) // kth END) - days.exact_users)
            * 1000000 // days.exact_users AS BIGINT) AS err_ppm
FROM s JOIN days ON days.key = s.key AND days.month = s.month
ORDER BY 1, 2
"""


@register("a25_kmv_reaggregate", oracle=_KMV_ROLLUP_ORACLE, bench=True)
def q_kmv_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly distinct users per event type from MERGED day-level KMV
    partials — a21_hll_reaggregate's rollup shape with an estimator
    both engines replay EXACTLY, so the hash certifies the merge path
    itself (the oracle computes the month sketch directly; k-min
    composability makes merged-partials equal direct by construction,
    and any merge bug breaks the hash). The exact column is the a21
    audit pass; err_ppm pins the estimator's actual error in-row."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    daily = kmv_sketch(
        events.select(
            F.col("event_type").alias("key"),
            F.to_date("ts").alias("day"),
            "user_id",
        ),
        ["key", "day"],
        "user_id",
    )
    monthly = kmv_merge(
        daily.withColumn(
            "month", F.date_trunc("month", "day").cast("date")
        ),
        ["key", "month"],
    )
    stats = monthly.groupBy("key", "month").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("h").alias("kth")
    )
    audit = events.groupBy(
        F.col("event_type").alias("key"),
        F.date_trunc("month", "ts").cast("date").alias("month"),
    ).agg(
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return (
        stats.join(audit, ["key", "month"])
        .select(
            "key",
            "month",
            F.col("n_days").cast("long"),
            _est(F.col("cnt"), "kth", K).cast("long").alias("est_users"),
            F.col("exact_users").cast("long"),
            F.expr(
                f"abs({_est_sql('cnt', 'kth', K)} - exact_users) * 1000000"
                " div exact_users"
            )
            .cast("long")
            .alias("err_ppm"),
        )
        .orderBy("key", "month")
    )
