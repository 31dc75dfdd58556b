"""Skew-mitigation: salted joins.

AQE's skew-join splitting (on in ``session.py``) handles sort-merge skew
at runtime; salting is the explicit fallback for the cases AQE can't
re-plan — e.g. a skewed **aggregation** key, or a broadcast-ineligible
dimension join where one hot key swamps a task.

``salted_join`` replicates the (small) right side ``n_salts`` times and
scatters the left side's hot keys uniformly: left gets a random-free,
deterministic salt ``hash(row) % n_salts``, right gets every salt. The
join key becomes (key, salt), so a key's rows spread over ``n_salts``
tasks instead of one. Determinism matters for replays/tests: the salt is
derived from stable row content, not ``rand()``.

``salted_aggregate`` two-phases a skewed groupBy: partial agg on
(key, salt), final agg on key. The partial shuffle spreads each hot key
over ``n_salts`` reducers; the final shuffle only moves ``n_salts`` rows
per key. (Spark's hash aggregate already does map-side partials — the
explicit salt matters when upstream partitioning clusters a hot key into
few map tasks, e.g. after a join on that key.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def with_salt(df: DataFrame, salt_from: list[str], n_salts: int) -> DataFrame:
    """Deterministic salt in [0, n_salts) from stable row columns."""
    return df.withColumn(
        "__salt", F.pmod(F.xxhash64(*salt_from), F.lit(n_salts)).cast("int")
    )


def replicate_salts(df: DataFrame, n_salts: int) -> DataFrame:
    """Cross the (small) side with every salt value."""
    return df.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt_from: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left side's rows scattered over ``n_salts``
    tasks per key. ``salt_from`` must be left-side columns that vary
    within a key (e.g. the fact row's line number)."""
    ls = with_salt(left, salt_from, n_salts)
    rs = replicate_salts(right, n_salts)
    return ls.join(rs, on + ["__salt"], how).drop("__salt")


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    salt_from: list[str],
    n_salts: int = 8,
) -> DataFrame:
    """Two-phase groupBy for skewed keys: (key, salt) partials, then key
    finals. ``aggs`` maps output name -> SUM-decomposable aggregate
    expression (sum/count); partials and finals compose by summation."""
    salted = with_salt(df, salt_from, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(f"__p_{name}") for name, expr in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"__p_{name}").alias(name) for name in aggs]
    )


# ------------------------------------------------------------------ queries
# Certify the salting machinery against the un-salted plan: the oracle is
# the plain join/groupBy, so the comparison proves salt-scatter + merge
# reconstructs exactly the unsalted result.

_J12_ORACLE = """
SELECT p.p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l.l_quantity), 6) AS total_qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1 ORDER BY 1
"""


@register("j12_salted_skew_join", oracle=_J12_ORACLE, bench=True)
def q_salted_skew_join(spark, sf_dir):
    """Skew-hardened fact-dimension equi-join: lineitem's rows scatter
    over 8 salted tasks per part key, the part side is replicated per
    salt. Result must equal the plain join (the oracle)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber", "l_quantity"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    joined = salted_join(
        li, part, on=["l_partkey"],
        salt_from=["l_orderkey", "l_linenumber"], n_salts=8,
    )
    return (
        joined.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 6).alias("total_qty"),
        )
        .orderBy("brand")
    )


_A15_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 6) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("a15_salted_two_phase_agg", oracle=_A15_ORACLE, bench=True)
def q_salted_two_phase_agg(spark, sf_dir):
    """Two-phase salted groupBy on a low-cardinality (so inherently hot)
    key pair; partials on (key, salt) then finals on key must equal the
    direct aggregate (the oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n_rows": F.count(F.lit(1)),
            "sum_qty": F.sum("l_quantity"),
            # decimal sum: exact, order-independent across salt partials
            "sum_price": F.sum(F.col("l_extendedprice").cast("decimal(18,2)")),
        },
        salt_from=["l_orderkey", "l_linenumber"],
        n_salts=8,
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.round("sum_qty", 6).alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
    ).orderBy("l_returnflag", "l_linestatus")


# ------------------------------------------------- skew measurement

def key_skew_report(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Heavy-hitter report for a join/aggregation key — the measurement
    that picks ``n_salts`` (and decides whether salting is needed at
    all) before committing to a 100 TB shuffle.

    Per top-``top_n`` key: row count, share of the table, and ``x_avg``
    = count / mean-count-per-key (a key at 1.0 is perfectly uniform; a
    key at 50× the mean will swamp one reducer 50× longer than average).
    One groupBy (map-side partials), a 2-scalar broadcast join for the
    denominators, and ``orderBy().limit(top_n)`` over the distinct-key
    relation — Spark plans that as TakeOrderedAndProject (per-partition
    partial top-n, no single-partition global sort), so the report stays
    distributed even when the key is high-cardinality; rank is then a
    window over the ≤ top_n survivors. The fact table is scanned once.
    NULL keys group like any other value (rendered as SQL NULL), since a
    hot NULL is the single most common real-world skew culprit.
    """
    from pyspark.sql import Window

    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    denom = counts.agg(
        F.sum("cnt").alias("__tot"), F.avg("cnt").alias("__avgc")
    )
    top = (
        counts.crossJoin(F.broadcast(denom))
        .orderBy(F.desc("cnt"), F.asc_nulls_last("key"))
        .limit(top_n)
    )
    # benign global window: ranks only the post-limit() top_n rows (the
    # WindowExec no-partition warning it fires is about THIS k-row
    # relation, not the fact scan — plan audit verifies the bound)
    w = Window.orderBy(F.desc("cnt"), F.asc_nulls_last("key"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "key",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt") / F.col("__tot"), 6).alias("share"),
            F.round(F.col("cnt") / F.col("__avgc"), 4).alias("x_avg"),
        )
    )


_DIAG_SKEW_ORACLE = """
WITH counts AS (
  SELECT CAST(event_type AS VARCHAR) AS key, count(*) AS cnt
  FROM events GROUP BY 1
),
denom AS (SELECT sum(cnt) AS tot, avg(cnt) AS avgc FROM counts)
SELECT CAST(rank AS INT) AS rank, key, CAST(cnt AS BIGINT) AS cnt,
       round(CAST(cnt AS DOUBLE) / tot, 6) AS share,
       round(CAST(cnt AS DOUBLE) / avgc, 4) AS x_avg
FROM (
  SELECT key, cnt,
         row_number() OVER (ORDER BY cnt DESC, key NULLS LAST) AS rank
  FROM counts
), denom
WHERE rank <= 10
ORDER BY rank
"""


@register("diag_key_skew", oracle=_DIAG_SKEW_ORACLE)
def q_key_skew(spark, sf_dir):
    """Heavy-hitter skew report for events.event_type (the pre-flight
    for the j12/a15 salting decisions)."""
    ev = load_table(spark, sf_dir, "events")
    return key_skew_report(ev, "event_type").orderBy("rank")
