"""Join operators (SURVEY.md §2.3, J1-J9).

All reference joins are equi-joins of a big fact against small lookup
tables; here every dimension side is broadcast (no shuffle of the fact) and
the "unmatched key" side-outputs are anti-joins sharing the same scan.

Scale notes: ``guarded_join``'s duplicate-key check is one extra aggregate
on the (small) dimension only — never on the fact. Enrichment defaults via
``coalesce`` keep everything inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


class DuplicateJoinKeyError(ValueError):
    """Right side of a guarded join has duplicate keys (the reference's
    Err=99 fan-out protection, myConversionsClass.py:188-203)."""


def guarded_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "left",
    broadcast_right: bool = True,
    check: bool = True,
) -> DataFrame:
    """J1: left equi-join that refuses to fan out.

    The duplicate check is an aggregate over the dimension side only (cheap
    — dimensions are small); the fact table is never scanned for the check.
    It is eager (one extra job per call); when composing many enrichments,
    pass ``check=False`` and validate all dimensions in ONE job up front
    with :func:`assert_unique_keys`.
    """
    if how == "left" and check:
        assert_unique_keys([("right", right, on)])
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def assert_unique_keys(checks: list[tuple[str, DataFrame, list[str]]]) -> None:
    """Batched fan-out guard: one Spark job validating every (name, dim,
    keys) triple — the per-dimension violation probes are unioned so a
    pipeline with N enrichments pays one job, not N."""
    probes = None
    for name, df, on in checks:
        v = (
            df.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .select(
                F.lit(name).alias("dim"),
                F.concat_ws(
                    ",", *[F.col(c).cast("string") for c in on]
                ).alias("key"),
            )
        )
        probes = v if probes is None else probes.unionByName(v)
    if probes is None:
        return
    rows = probes.collect()
    if rows:
        detail = "; ".join(f"{r.dim}:{r.key}" for r in rows)
        raise DuplicateJoinKeyError(
            f"duplicate keys on right side of guarded join: {detail}"
        )


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    enriched_cols: dict[str, str],
    not_mapped: str = "NotMapped",
    blank_sentinel: str = "Blank",
) -> tuple[DataFrame, DataFrame]:
    """J2: dimension enrichment with sentinel defaults + error side-output.

    Returns ``(enriched, errors)`` where ``errors`` is the distinct set of
    unmapped keys (the reference writes these to ``*Errors.csv`` and emails
    — myConversionsClass.py:265-302; the sink is the caller's choice).
    """
    f = fact
    for k in on:
        f = f.withColumn(
            k,
            F.when(F.col(k).isNull() | (F.trim(F.col(k).cast("string")) == ""), F.lit(blank_sentinel)).otherwise(
                F.col(k)
            ),
        )
    joined = f.join(F.broadcast(dim), on=on, how="left")
    out = joined
    for src, dst in enriched_cols.items():
        out = out.withColumn(dst, F.coalesce(F.col(src), F.lit(not_mapped)))
    first_enriched = next(iter(enriched_cols))
    errors = (
        joined.filter(F.col(first_enriched).isNull()).select(*on).distinct()
    )
    return out, errors


def two_pass_factor_join(
    fact: DataFrame,
    conv: DataFrame,
    key: str,
    conv_key: str,
    factor_col: str,
    pass1_pred: Column,
    pass2_pred: Column,
    default: float = 1.0,
) -> DataFrame:
    """J5: two-pass conversion-factor join (UOM semantics,
    myConversionsClass.py:627-666): try the forward factor, then the
    inverse, then a default — a cascaded ``coalesce`` over two broadcast
    left joins."""
    c1 = conv.filter(pass1_pred).select(
        F.col(conv_key).alias(key), F.col(factor_col).alias("__f1")
    )
    c2 = conv.filter(pass2_pred).select(
        F.col(conv_key).alias(key), F.col(factor_col).alias("__f2")
    )
    return (
        fact.join(F.broadcast(c1), key, "left")
        .join(F.broadcast(c2), key, "left")
        .withColumn(
            "conv_factor",
            F.coalesce(
                F.col("__f1"),
                F.when(F.col("__f2") != 0, F.lit(1.0) / F.col("__f2")),
                F.lit(default),
            ),
        )
        .drop("__f1", "__f2")
    )


# ---------------------------------------------------------------- queries

_J1_ORACLE = """
SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l.l_extendedprice), 2) AS total_price
FROM lineitem l
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1
ORDER BY 1
"""


@register("j1_guarded_join", oracle=_J1_ORACLE)
def q_guarded_join(spark, sf_dir):
    """J1: guarded left joins fact->supplier->nation (both dims verified
    duplicate-free, then broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    nation = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "s_nationkey")
    df = guarded_join(li, supp, ["l_suppkey"])
    df = guarded_join(df, nation, ["s_nationkey"])
    return (
        df.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("nation")
    )


_J2_ORACLE = """
WITH dim AS (
  SELECT s_suppkey, s_name FROM supplier WHERE s_acctbal > 0
)
SELECT coalesce(d.s_name, 'NotMapped') AS supplier_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l.l_quantity), 2) AS sum_qty
FROM lineitem l
LEFT JOIN dim d ON l.l_suppkey = d.s_suppkey
GROUP BY 1
ORDER BY 1
"""


@register("j2_enrichment", oracle=_J2_ORACLE)
def q_enrichment(spark, sf_dir):
    """J2: broadcast enrichment with NotMapped default
    (myConversionsClass.py:265-302)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    )
    enriched, _errors = enrich(li, dim, ["l_suppkey"], {"s_name": "supplier_name"})
    return (
        enriched.groupBy("supplier_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("supplier_name")
    )


_J2E_ORACLE = """
SELECT DISTINCT l.l_suppkey
FROM lineitem l
LEFT JOIN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0) d
  ON l.l_suppkey = d.s_suppkey
WHERE d.s_suppkey IS NULL
ORDER BY 1
"""


@register("j2_unmapped_side_output", oracle=_J2E_ORACLE)
def q_unmapped_keys(spark, sf_dir):
    """J2/K8: unmapped-key error side-output (anti-join on the same scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    )
    _enriched, errors = enrich(li, dim, ["l_suppkey"], {"s_name": "supplier_name"})
    return errors.orderBy("l_suppkey")


_J5_ORACLE = """
WITH c1 AS (SELECT p_partkey, p_retailprice FROM part WHERE p_size > 25),
     c2 AS (SELECT p_partkey, p_retailprice FROM part WHERE p_size <= 25)
SELECT l.l_partkey,
       round(sum(l.l_quantity * coalesce(
         c1.p_retailprice,
         CASE WHEN c2.p_retailprice <> 0 THEN 1.0 / c2.p_retailprice END,
         1.0)), 4) AS converted_qty
FROM lineitem l
LEFT JOIN c1 ON l.l_partkey = c1.p_partkey
LEFT JOIN c2 ON l.l_partkey = c2.p_partkey
GROUP BY 1
ORDER BY 1
"""


@register("j5_two_pass_factor", oracle=_J5_ORACLE)
def q_two_pass_factor(spark, sf_dir):
    """J5: cascaded factor / inverse-factor / default conversion join
    (prepareUOM, myConversionsClass.py:627-666)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    df = two_pass_factor_join(
        li,
        part,
        key="l_partkey",
        conv_key="p_partkey",
        factor_col="p_retailprice",
        pass1_pred=F.col("p_size") > 25,
        pass2_pred=F.col("p_size") <= 25,
    )
    return (
        df.groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_quantity") * F.col("conv_factor")), 4).alias("converted_qty"))
        .orderBy("l_partkey")
    )


_J8_ORACLE = """
SELECT o.o_orderkey, o.o_orderpriority
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48
)
ORDER BY 1
"""


@register("j8_semi_join", oracle=_J8_ORACLE)
def q_semi_join(spark, sf_dir):
    """J8: semi-join filter (DAX TREATAS value-set filters,
    ActUnknown.ps1:36-71)."""
    orders = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        orders.join(
            big.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_semi"
        )
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    )


_J9_ORACLE = """
WITH a AS (
  SELECT o_orderpriority AS priority, round(sum(o_totalprice), 2) AS rev_1994
  FROM orders WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
  GROUP BY 1
), b AS (
  SELECT o_orderpriority AS priority, round(sum(o_totalprice), 2) AS rev_1995
  FROM orders WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  GROUP BY 1
)
SELECT coalesce(a.priority, b.priority) AS priority,
       coalesce(a.rev_1994, 0) AS rev_1994,
       coalesce(b.rev_1995, 0) AS rev_1995,
       round(coalesce(b.rev_1995, 0) - coalesce(a.rev_1994, 0), 2) AS delta
FROM a FULL OUTER JOIN b ON a.priority = b.priority
ORDER BY 1
"""


@register("j9_compare_join", oracle=_J9_ORACLE)
def q_compare_join(spark, sf_dir):
    """J9: before/after full-outer comparison join with zero-fill
    (myConversionsClass.py:385, datavalidation.py:357)."""
    orders = load_table(spark, sf_dir, "orders")

    def year_rev(y: int, alias: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01"))
            )
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias(alias))
        )

    a = year_rev(1994, "rev_1994")
    b = year_rev(1995, "rev_1995")
    return (
        a.join(b, "priority", "full_outer")
        .select(
            "priority",
            F.coalesce("rev_1994", F.lit(0.0)).alias("rev_1994"),
            F.coalesce("rev_1995", F.lit(0.0)).alias("rev_1995"),
            F.round(
                F.coalesce("rev_1995", F.lit(0.0)) - F.coalesce("rev_1994", F.lit(0.0)),
                2,
            ).alias("delta"),
        )
        .orderBy("priority")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    value_cols: dict[str, str],
    strict: bool = False,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """J10 (beyond the reference surface): backward as-of join — attach to
    each left row the most recent right row at-or-before its timestamp
    (``strict=True``: strictly before), per join key.

    ``tolerance_seconds`` (timestamp times only) is the feature-store
    staleness bound: a match older than the tolerance is nulled out, as
    if no right row existed — "don't serve features staler than X". The
    carried payload always embeds the matched right timestamp, so the
    bound is a post-window column predicate: zero extra shuffles.

    Spark has no AS OF join operator; the naive range-join formulation
    (``l.key = r.key AND r.t <= l.t`` + max-per-group) explodes into one
    row per (left row x earlier right row) before the aggregate prunes
    it. This implementation is the scale-shape: tag both sides, union,
    and carry the last non-null right payload forward over a
    key-partitioned window — ONE shuffle of left ∪ right on the key and
    a per-key sort, linear in input size. Equal-timestamp semantics are
    encoded in the secondary sort: right rows sort before left rows for
    inclusive (<=) matching, after them for strict (<).

    ``right`` must be unique per (key, right_time) — pre-dedup with
    keep-latest semantics (``keep_first_per_key`` / row_number) first;
    with timestamp ties the matched row is otherwise nondeterministic in
    any as-of engine.

    Skew note: one hot key serializes its window sort into one task; at
    100 TB salt such keys by coarse time bucket and stitch bucket
    boundaries with a second pass over per-bucket tails.
    """
    r_ord, l_ord = (0, 1) if not strict else (1, 0)
    payload = F.struct(
        *[F.col(c) for c in value_cols], F.col(right_time).alias("__rt")
    )
    rt = right.select(
        *[F.col(k) for k in on],
        F.col(right_time).alias("__t"),
        F.lit(r_ord).alias("__ord"),
        F.lit(False).alias("__is_left"),
        payload.alias("__payload"),
    )
    lt = left.select(
        *left.columns,
        F.col(left_time).alias("__t"),
        F.lit(l_ord).alias("__ord"),
        F.lit(True).alias("__is_left"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy("__t", "__ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__payload", ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        # cast handles TIMESTAMP_NTZ inputs (session tz is pinned UTC,
        # so NTZ -> TIMESTAMP is exact epoch math, no DST seam)
        fresh = (
            F.unix_micros(F.col("__t").cast("timestamp"))
            - F.unix_micros(F.col("__m.__rt").cast("timestamp"))
        ) <= F.lit(int(tolerance_seconds) * 1_000_000)
        out_cols = [
            F.when(fresh, F.col(f"__m.{src}")).alias(dst)
            for src, dst in value_cols.items()
        ]
    else:
        out_cols = [
            F.col(f"__m.{src}").alias(dst) for src, dst in value_cols.items()
        ]
    return matched.filter(F.col("__is_left")).select(*left.columns, *out_cols)


_J10_ORACLE = """
WITH ded AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
)
SELECT l.o_orderkey, l.o_custkey,
       CAST(l.o_orderdate AS TIMESTAMP) AS o_orderdate,
       r.o_orderkey AS prev_order_key,
       round(r.o_totalprice, 2) AS prev_order_price,
       CAST(datediff('day', r.o_orderdate, l.o_orderdate) AS INT)
         AS days_since_prev
FROM orders l ASOF LEFT JOIN ded r
  ON l.o_custkey = r.o_custkey AND l.o_orderdate > r.o_orderdate
ORDER BY 1
"""


@register("j10_asof_join", oracle=_J10_ORACLE, bench=True)
def q_asof_join(spark, sf_dir):
    """J10: self as-of join — each order matched to the same customer's
    most recent strictly-earlier order (DuckDB ASOF LEFT JOIN oracle).
    The right side is deduped to one row per (custkey, orderdate)
    keeping the max orderkey, making tie behavior deterministic in both
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    ded = (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = asof_join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        ded,
        on=["o_custkey"],
        left_time="o_orderdate",
        right_time="o_orderdate",
        value_cols={
            "o_orderkey": "prev_order_key",
            "o_totalprice": "prev_order_price",
            "o_orderdate": "prev_order_date",
        },
        strict=True,
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "prev_order_key",
        F.round("prev_order_price", 2).alias("prev_order_price"),
        F.datediff("o_orderdate", "prev_order_date")
        .cast("int")
        .alias("days_since_prev"),
    ).orderBy("o_orderkey")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    lower_sec: int,
    upper_sec: int,
) -> DataFrame:
    """J11 (beyond the reference surface): keyed interval/band join —
    pairs (l, r) with the same key and ``r.t ∈ [l.t + lower, l.t +
    upper]``.

    Spark plans a raw inequality join as a cartesian/broadcast-nested-
    loop per key group. The scale shape instead buckets time into
    ``upper-lower``-wide slots: the right side equi-joins on (key,
    bucket) and the left side explodes onto the (at most 2) buckets its
    window can touch, then the exact interval predicate filters. The
    shuffle is an equi-join shuffle; candidate pairs are bounded by real
    temporal locality instead of key cardinality. Bucket ids come from
    second-truncated epochs — truncation keeps every true match's bucket
    within [lb, ub] (proof in tests), the exact predicate then uses full
    timestamp precision.
    """
    w = max(int(upper_sec - lower_sec), 1)
    lsec = F.unix_timestamp(F.col(left_time))
    rsec = F.unix_timestamp(F.col(right_time))
    lb = F.floor((lsec + F.lit(lower_sec)) / F.lit(w)).cast("long")
    ub = F.floor((lsec + F.lit(upper_sec)) / F.lit(w)).cast("long")
    le = left.withColumn("__b", F.explode(F.sequence(lb, ub)))
    re_ = right.withColumn("__b", F.floor(rsec / F.lit(w)).cast("long"))
    joined = le.join(re_, on=[*on, "__b"], how="inner")
    pred = (
        F.col(right_time)
        >= F.col(left_time) + F.make_dt_interval(secs=F.lit(float(lower_sec)))
    ) & (
        F.col(right_time)
        <= F.col(left_time) + F.make_dt_interval(secs=F.lit(float(upper_sec)))
    )
    return joined.filter(pred).drop("__b")


_J11_ORACLE = """
WITH e AS (
  SELECT event_id AS error_id, user_id, ts AS e_ts
  FROM events WHERE event_type = 'error'
),
c AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
)
SELECT e.error_id, c.click_id, e.user_id,
       round(date_diff('microsecond', c.c_ts, e.e_ts) / 1000000.0, 6)
         AS secs_before
FROM e JOIN c
  ON e.user_id = c.user_id
 AND c.c_ts >= e.e_ts - INTERVAL 1800 SECOND
 AND c.c_ts <= e.e_ts
ORDER BY 1, 2
"""


@register("j11_interval_join", oracle=_J11_ORACLE)
def q_interval_join(spark, sf_dir):
    """J11: clicks within 30 minutes before each error event of the same
    user, via the bucketed interval join (oracle: plain inequality
    join)."""
    events = load_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    out = interval_join(
        errors, clicks, ["user_id"], "e_ts", "c_ts", lower_sec=-1800, upper_sec=0
    )
    return out.select(
        "error_id",
        "click_id",
        "user_id",
        F.round(
            (F.unix_micros("e_ts") - F.unix_micros("c_ts")) / 1_000_000.0, 6
        ).alias("secs_before"),
    ).orderBy("error_id", "click_id")


# ------------------------------------------------- IN-list scan pushdown


def inlist_pushdown_filter(
    facts: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    max_keys: int = 1_000,
) -> tuple[DataFrame, str]:
    """Semi-join the facts to a bounded dim key set by pushing the keys
    INTO the fact scan as a literal ``In`` filter.

    Reference parity: ``packages/mySQLClass.py:103-146`` builds literal
    ``SELECT ... WHERE col IN (...)`` strings from pandas keys and ships
    them to the remote engine. The Spark-scale version of that trick:
    collect the (bounded, deduplicated) key set and filter with
    ``isin`` — Catalyst pushes it to the parquet scan, where row-group
    min/max stats and dictionary pages skip whole chunks *before* any
    row is materialized. At 100 TB that is the difference between
    scanning the full fact table into a semi-join and reading only the
    row groups that can contain the keys.

    The driver materialization is bounded by ``max_keys`` (the same
    role as the reference's IN-list of a lookup frame's keys); past the
    cap it degrades to a broadcast left-semi join — no collect, same
    semantics, scan-level skipping traded for a post-scan hash probe.
    Returns ``(filtered_facts, "inlist" | "semi_join")``.

    The default cap is deliberately small: a literal ``In`` costs
    planning/codegen per element (measured ~6 s to plan+push a 10k-key
    list at sf0.1 vs ~0.5 s for a few hundred), so the IN-list path is
    for genuinely bounded key sets — snapshot ids, hot SKUs, one
    month's order keys — and everything else belongs on the semi-join
    path.
    """
    col = dim_keys.columns[0]
    probe = [
        r[0]
        for r in dim_keys.select(col).distinct().limit(max_keys + 1).collect()
    ]
    if len(probe) <= max_keys:
        return facts.filter(F.col(fact_key).isin(probe)), "inlist"
    return (
        facts.join(
            F.broadcast(dim_keys.select(F.col(col).alias(fact_key)).distinct()),
            fact_key,
            "left_semi",
        ),
        "semi_join",
    )


_J14_ORACLE = """
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders,
       CAST(sum(l.l_quantity) AS DOUBLE) AS total_qty
FROM lineitem l
WHERE l.l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-03-01'
)
GROUP BY 1 ORDER BY 1
"""


@register("j14_inlist_pushdown_join", oracle=_J14_ORACLE, bench=True)
def q_inlist_pushdown_join(spark, sf_dir):
    """Bounded-dim semi-join via literal In() pushed into the fact
    scan (scan-level row-group skipping); oracle is the plain IN
    subquery. The In-at-the-scan plan shape is asserted in
    tests/test_scale_mechanics.py."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-03-01")
        )
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    filtered, _mode = inlist_pushdown_filter(li, urgent, "l_orderkey")
    return (
        filtered.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.sum("l_quantity").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------- SymSpell fuzzy (typo) join

def _deletion_variants(col: Column) -> Column:
    """``{s} ∪ {s with char i removed}`` as a distinct array — the
    SymSpell deletion neighborhood for edit distance 1, from array
    expressions (no UDF)."""
    dels = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
        lambda i: F.concat(
            F.substring(col, F.lit(1), (i - 1).cast("int")),
            F.substring(col, (i + 1).cast("int"), F.length(col)),
        ),
    )
    return F.array_distinct(F.concat(F.array(col), dels))


def symspell_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy equi-joinable typo matching (SymSpell blocking): both
    sides explode their deletion neighborhoods, candidates come from an
    EXACT join on the md5-hashed variant, and a final
    ``levenshtein() <= max_dist`` verifies. Edit-distance-1 pairs
    (substitution, insertion, deletion, or exact) always share a
    variant, so recall is exact for ``max_dist=1``.

    Scale shape: neighborhood size is |s|+1 per row (array explode,
    map-side), the candidate join shuffles 8-byte hashes, and the
    verify runs only on candidates — never |L|x|R|. The classic
    entity-resolution/typo-dedup join Spark lacks as a built-in.
    Reference analog: the key-normalization joins of pipeline/lib.py
    (zfill/strip before merge), upgraded from normalize-then-exact to
    tolerate real typos."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60

    lv = left.select(
        F.col(left_col).alias("__ls"),
        F.explode(_deletion_variants(F.col(left_col))).alias("__v"),
        *[c for c in left.columns if c != left_col],
    ).select(
        "*", md5_hash60(F.col("__v")).alias("__h")
    ).drop("__v")
    rv = right.select(
        F.col(right_col).alias("__rs"),
        F.explode(_deletion_variants(F.col(right_col))).alias("__v"),
        *[c for c in right.columns if c != right_col],
    ).select(
        "*", md5_hash60(F.col("__v")).alias("__h")
    ).drop("__v")
    cand = lv.join(rv, "__h").drop("__h").distinct()
    return (
        cand.withColumn("dist", F.levenshtein("__ls", "__rs"))
        .filter(F.col("dist") <= max_dist)
        .withColumnRenamed("__ls", left_col)
        .withColumnRenamed("__rs", right_col + "_matched")
    )


_FUZZY_ORACLE = """
WITH dirty AS (
  SELECT c_custkey AS dirty_key,
         substr(c_name, 1, c_custkey % length(c_name))
           || substr(c_name, c_custkey % length(c_name) + 2) AS dirty_name
  FROM customer
),
lv AS (
  SELECT dirty_key, dirty_name,
         substr(dirty_name, 1, g.i - 1) || substr(dirty_name, g.i + 1) AS v
  FROM dirty, LATERAL (
    SELECT unnest(generate_series(1, greatest(length(dirty_name), 1))) AS i) g
  UNION
  SELECT dirty_key, dirty_name, dirty_name AS v FROM dirty
),
rv AS (
  SELECT c_custkey AS clean_key, c_name,
         substr(c_name, 1, g.i - 1) || substr(c_name, g.i + 1) AS v
  FROM customer, LATERAL (
    SELECT unnest(generate_series(1, greatest(length(c_name), 1))) AS i) g
  UNION
  SELECT c_custkey, c_name, c_name AS v FROM customer
),
cand AS (
  SELECT DISTINCT dirty_key, dirty_name, clean_key, c_name
  FROM lv JOIN rv ON lv.v = rv.v
)
SELECT CAST(dirty_key AS BIGINT) AS dirty_key,
       CAST(clean_key AS BIGINT) AS clean_key,
       CAST(levenshtein(dirty_name, c_name) AS INT) AS dist
FROM cand
WHERE levenshtein(dirty_name, c_name) <= 1
ORDER BY 1, 2
"""


@register("j15_fuzzy_symspell_join", oracle=_FUZZY_ORACLE)
def q_fuzzy_symspell_join(spark, sf_dir):
    """Entity resolution under typos: customers with one
    deterministically deleted character fuzzy-join back to the clean
    roster via SymSpell deletion-neighborhood blocking + levenshtein
    verify."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pos = F.col("c_custkey") % F.length("c_name")
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_key"),
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), pos.cast("int")),
            F.substring(
                F.col("c_name"), (pos + 2).cast("int"), F.length("c_name")
            ),
        ).alias("dirty_name"),
    )
    clean = cust.select(
        F.col("c_custkey").alias("clean_key"), F.col("c_name")
    )
    out = symspell_join(dirty, clean, "dirty_name", "c_name", max_dist=1)
    return out.select(
        "dirty_key",
        "clean_key",
        F.col("dist").cast("int").alias("dist"),
    ).orderBy("dirty_key", "clean_key")


# ------------- J16: as-of join with a staleness tolerance (feature-store)

ASOF_TOLERANCE_DAYS = 30


_J16_ORACLE = f"""
WITH ded AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
),
matched AS (
  SELECT l.o_orderkey, l.o_custkey,
         CAST(l.o_orderdate AS TIMESTAMP) AS o_orderdate,
         r.o_orderkey AS mk, r.o_totalprice AS mp, r.o_orderdate AS mt
  FROM orders l ASOF LEFT JOIN ded r
    ON l.o_custkey = r.o_custkey AND l.o_orderdate > r.o_orderdate
)
SELECT o_orderkey, o_custkey, o_orderdate,
       CASE WHEN epoch_us(o_orderdate) - epoch_us(mt)
                 <= CAST({ASOF_TOLERANCE_DAYS} AS BIGINT) * 86400 * 1000000
            THEN mk END AS prev_order_key,
       CASE WHEN epoch_us(o_orderdate) - epoch_us(mt)
                 <= CAST({ASOF_TOLERANCE_DAYS} AS BIGINT) * 86400 * 1000000
            THEN round(mp, 2) END AS prev_order_price
FROM matched ORDER BY 1
"""


@register("j16_asof_tolerance_join", oracle=_J16_ORACLE, bench=True)
def q_asof_tolerance_join(spark, sf_dir):
    """J16: the j10 self as-of join under a 30-day staleness bound — the
    feature-store serving rule ("never attach a feature value older than
    the freshness SLA"). Matches staler than the tolerance are nulled as
    if absent; the bound is a post-window predicate on the payload's
    embedded match timestamp, so the plan is byte-identical to j10's
    single-shuffle union-window shape — no extra join, no range
    explosion. Exact-microsecond arithmetic on both engines (calendar
    datediff semantics differ cross-engine; epoch math cannot)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    ded = (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = asof_join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        ded,
        on=["o_custkey"],
        left_time="o_orderdate",
        right_time="o_orderdate",
        value_cols={
            "o_orderkey": "prev_order_key",
            "o_totalprice": "prev_order_price",
        },
        strict=True,
        tolerance_seconds=ASOF_TOLERANCE_DAYS * 86400,
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "prev_order_key",
        F.round("prev_order_price", 2).alias("prev_order_price"),
    ).orderBy("o_orderkey")
