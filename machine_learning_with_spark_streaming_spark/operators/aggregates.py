"""Aggregation operators (SURVEY.md §2.4, A1-A12; reshaping R1).

The reference's ``pivot_table`` family (myConversionsClass.py:149-185)
becomes ``groupBy().agg()`` / ``groupBy().pivot()``; DAX
``SUMMARIZECOLUMNS``+``ROLLUPADDISSUBTOTAL`` (BPCbySKU.ps1:90-107) becomes
``rollup()`` + ``grouping()``.

Scale notes: all of these are single-shuffle hash aggregations with
map-side partial aggregation. ``pivot`` is given an explicit value list so
no extra distinct-collect job runs. "Latest snapshot" uses a scalar
aggregate + pushed-down filter (partition pruning on a
snapshot-partitioned table) rather than a window over the whole fact.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

_AGG_FNS = {"sum": F.sum, "mean": F.avg, "count": F.count, "min": F.min, "max": F.max}


def pivot_agg(
    df: DataFrame,
    index: list[str],
    values: str,
    columns: str | None = None,
    aggfunc: str = "sum",
    pivot_values: list[str] | None = None,
    fill: float | None = 0.0,
) -> DataFrame:
    """A1/R1: ``pivot_table(index, values, columns, aggfunc)``
    (myConversionsClass.py:149-185). With ``columns`` -> long-to-wide pivot;
    explicit ``pivot_values`` avoids the extra distinct scan at scale."""
    fn = _AGG_FNS[aggfunc]
    g = df.groupBy(*index)
    if columns is None:
        out = g.agg(fn(values).alias(values))
    else:
        p = g.pivot(columns, pivot_values) if pivot_values else g.pivot(columns)
        out = p.agg(fn(values))
    if fill is not None:
        num_cols = [f.name for f in out.schema.fields if f.name not in index]
        out = out.fillna(fill, subset=num_cols)
    return out


def rollup_with_flag(
    df: DataFrame,
    group_cols: list[str],
    aggs: list[Column],
    flag_col: str = "is_grand_total",
) -> DataFrame:
    """A5: rollup with the DAX ``IsGrandTotalRowTotal`` flag
    (BPCbySKU.ps1:90-107): detail rows + subtotal rows, flag = grouping of
    the first rollup column (must be computed inside the agg)."""
    flag = (F.grouping(group_cols[0]) == 1).alias(flag_col)
    return df.rollup(*group_cols).agg(*aggs, flag)


def latest_value(df: DataFrame, col: str) -> object:
    """A6: scalar MAX used as a filter value (latest snapshot,
    datavalidation.py:237-257). One tiny job; the subsequent equality
    filter prunes partitions on a snapshot-partitioned table."""
    return df.agg(F.max(col).alias("m")).first()["m"]


def top_k_distinct(df: DataFrame, col: str, k: int, ascending: bool = False) -> DataFrame:
    """A9: top-k distinct ordered values (latest-2 snapshots,
    qualitycheck PostSql.py:56-78)."""
    order = F.asc(col) if ascending else F.desc(col)
    return df.select(col).distinct().orderBy(order).limit(k)


def sum_columns(df: DataFrame, out_col: str, cols: list[str]) -> DataFrame:
    """A11: horizontal sum over a named column family
    (sumColumns/totalRevenueFigures, myConversionsClass.py:564-581)."""
    expr = reduce(add, [F.coalesce(F.col(c), F.lit(0.0)) for c in cols])
    return df.withColumn(out_col, expr)


def row_stats(df: DataFrame, cols: list[str], mean_col: str = "row_mean", std_col: str = "row_std") -> DataFrame:
    """A10: row-wise mean and population std over month columns
    (myConversionsClass.py:218-219) — pure expressions, no shuffle."""
    n = len(cols)
    vals = [F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in cols]
    mean = reduce(add, vals) / F.lit(n)
    var = reduce(add, [(v - mean) * (v - mean) for v in vals]) / F.lit(n)
    return df.withColumn(mean_col, mean).withColumn(std_col, F.sqrt(var))


# ---------------------------------------------------------------- queries

_A1_ORACLE = """
SELECT l_returnflag,
       round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS F,
       round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS O
FROM lineitem
GROUP BY 1
ORDER BY 1
"""


@register("a1_pivot_sum", oracle=_A1_ORACLE)
def q_pivot_sum(spark, sf_dir):
    """A1/R1: long-to-wide pivot with explicit value list."""
    li = load_table(spark, sf_dir, "lineitem")
    out = pivot_agg(
        li,
        index=["l_returnflag"],
        values="l_quantity",
        columns="l_linestatus",
        pivot_values=["F", "O"],
    )
    return out.select(
        "l_returnflag", F.round("F", 2).alias("F"), F.round("O", 2).alias("O")
    ).orderBy("l_returnflag")


_A2_ORACLE = """
SELECT concat(o_orderpriority, ' | ', o_orderstatus) AS dim_key,
       round(sum(o_totalprice), 2) AS value_sum,
       CAST(count(*) AS BIGINT) AS row_count
FROM orders
GROUP BY 1
ORDER BY 1
"""


@register("a2_a3_groupby_concat_dim", oracle=_A2_ORACLE)
def q_groupby_concat_dim(spark, sf_dir):
    """A2/A3: sum+count by concatenated dimension key (the QC
    ``BU | Country`` dims, qualitycheck.py:149-164)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.concat_ws(" | ", "o_orderpriority", "o_orderstatus").alias("dim_key")
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("value_sum"),
            F.count(F.lit(1)).alias("row_count"),
        )
        .orderBy("dim_key")
    )


_A5_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS total_price,
       CAST(count(*) AS BIGINT) AS n_rows,
       (GROUPING(o_orderstatus) = 1) AS is_grand_total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY 1 NULLS LAST, 2 NULLS LAST
"""


@register("a5_rollup_grand_total", oracle=_A5_ORACLE)
def q_rollup(spark, sf_dir):
    """A5: rollup with grand-total flag (DAX ROLLUPADDISSUBTOTAL,
    BPCbySKU.ps1:90-107)."""
    orders = load_table(spark, sf_dir, "orders")
    return rollup_with_flag(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("n_rows"),
        ],
    ).orderBy(F.col("o_orderstatus").asc_nulls_last(), F.col("o_orderpriority").asc_nulls_last())


_A6_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE CAST(date_trunc('month', o_orderdate) AS DATE) =
      (SELECT CAST(date_trunc('month', max(o_orderdate)) AS DATE) FROM orders)
GROUP BY 1
ORDER BY 1
"""


@register("a6_latest_snapshot", oracle=_A6_ORACLE)
def q_latest_snapshot(spark, sf_dir):
    """A6: scalar-MAX latest snapshot filter (datavalidation.py:237-257).
    The month literal is computed by a tiny scalar job, then the main scan
    filters on it (partition-prunable on a date-partitioned table)."""
    orders = load_table(spark, sf_dir, "orders")
    latest_month = orders.agg(
        F.trunc(F.max("o_orderdate"), "month").alias("m")
    ).first()["m"]
    return (
        orders.filter(F.trunc("o_orderdate", "month") == F.lit(latest_month))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("priority")
    )


_A9_ORACLE = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS snapshot_month
FROM orders
GROUP BY 1
ORDER BY 1 DESC
LIMIT 2
"""


@register("a9_top2_snapshots", oracle=_A9_ORACLE)
def q_top2_snapshots(spark, sf_dir):
    """A9/W4: latest two distinct snapshot months
    (qualitycheck PostSql.py:56-78)."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_distinct(
        orders.select(F.trunc("o_orderdate", "month").alias("snapshot_month")),
        "snapshot_month",
        k=2,
    )


_A10_ORACLE = """
SELECT l_orderkey,
       round((coalesce(q_f, 0) + coalesce(q_o, 0)) / 2.0, 4) AS row_mean,
       round(sqrt(
         (pow(coalesce(q_f, 0) - (coalesce(q_f, 0) + coalesce(q_o, 0)) / 2.0, 2)
        + pow(coalesce(q_o, 0) - (coalesce(q_f, 0) + coalesce(q_o, 0)) / 2.0, 2)) / 2.0
       ), 4) AS row_std,
       round(coalesce(q_f, 0) + coalesce(q_o, 0), 2) AS row_total
FROM (
  SELECT l_orderkey,
         sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS q_f,
         sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS q_o
  FROM lineitem GROUP BY 1
)
ORDER BY 1
"""


@register("a10_a11_rowwise_stats", oracle=_A10_ORACLE)
def q_rowwise_stats(spark, sf_dir):
    """A10/A11: horizontal mean/std/sum across a pivoted column family
    (myConversionsClass.py:218-219, 564-581)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = pivot_agg(
        li,
        index=["l_orderkey"],
        values="l_quantity",
        columns="l_linestatus",
        pivot_values=["F", "O"],
    ).withColumnsRenamed({"F": "q_f", "O": "q_o"})
    out = row_stats(wide, ["q_f", "q_o"])
    out = sum_columns(out, "row_total", ["q_f", "q_o"])
    return out.select(
        "l_orderkey",
        F.round("row_mean", 4).alias("row_mean"),
        F.round("row_std", 4).alias("row_std"),
        F.round("row_total", 2).alias("row_total"),
    ).orderBy("l_orderkey")


def grouping_sets_sql(spark, view: str, sets_sql: str, select_sql: str) -> DataFrame:
    """A5 (GROUPING SETS form) through the engine's SQL surface: the
    DataFrame layer and ``spark.sql`` share one Catalyst planner, so SQL
    text is an equally first-class query entry point."""
    return spark.sql(f"SELECT {select_sql} FROM {view} GROUP BY GROUPING SETS {sets_sql}")


_A5GS_ORACLE = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2) AS DOUBLE) AS total_price,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())
ORDER BY 3, 4, 1, 2
"""


@register("a5_grouping_sets", oracle=_A5GS_ORACLE)
def q_grouping_sets(spark, sf_dir):
    """A5: GROUPING SETS with grouping() flags via the spark.sql entry
    (same Catalyst plan as the DataFrame rollup/cube forms)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return grouping_sets_sql(
        spark,
        "orders_v",
        "((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())",
        """o_orderstatus AS status, o_orderpriority AS priority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2) AS DOUBLE) AS total_price,
           count(*) AS n_rows""",
    ).orderBy("g_status", "g_priority", "status", "priority")


# ------------------------------------------------- sketch aggregates

APPROX_ACCURACY = 10000  # percentile_approx: rank error <= n / accuracy
HLL_RSD = 0.02  # approx_count_distinct relative standard deviation
HLL_CHECK_FRACTION = 0.05  # bound checked at 5% = 2.5 sigma


def hll_bound_violation(approx: "Column", exact: "Column") -> "Column":
    """The ONE definition of the HLL++ certification check (used by
    a14/v10/v13/v23/datasheet approx certs): 1 iff the sketch strays
    past 2.5 sigma of the exact count. Edit here, every cert moves."""
    return (F.abs(approx - exact) > HLL_CHECK_FRACTION * exact).cast("int")


def rank_bound_violation(
    lt: "Column", le: "Column", q: float, n: "Column"
) -> "Column":
    """The ONE definition of the t-digest rank-error check: the sketch
    value's exact rank bracket (n_lt, n_le] must intersect
    [q*n - n/accuracy, q*n + n/accuracy] (+1 slack for interpolation),
    where n is the NON-NULL count the sketch actually saw."""
    err = n / APPROX_ACCURACY + 1
    return ((lt > q * n + err) | (le < q * n - err)).cast("int")



def sketch_distinct_and_median(
    df: DataFrame, key: str = "event_type", dist_col: str = "user_id",
    val_col: str = "value",
) -> DataFrame:
    """Per-group HLL++ distinct count + KLL-style approx median next to
    their exact counterparts — the 100 TB path for distinct/quantile
    (one pass, bounded memory, no exact-distinct shuffle explosion).

    The exact countDistinct (certification-only) runs as its OWN
    aggregate joined back per group: fused with the sketches, Catalyst's
    distinct rewrite buffers the HLL + t-digest state per
    (group, distinct-value) partial group — measured 6.4 s vs ~1.5 s
    split at sf0.1 (the candidate_keys trap). Production keeps only
    the sketch aggregate."""
    sk = df.groupBy(key).agg(
        F.approx_count_distinct(dist_col, rsd=0.02).alias("approx_users"),
        F.percentile_approx(val_col, 0.5, APPROX_ACCURACY).alias("approx_p50"),
        F.count(F.lit(1)).alias("n"),
    )
    nd = df.groupBy(F.col(key).alias("__k")).agg(
        F.countDistinct(dist_col).alias("exact_users")
    )
    # null-safe join key: a NULL group (both sides emit one) must not
    # be dropped by inner-equi NULL != NULL semantics
    return (
        sk.join(F.broadcast(nd), sk[key].eqNullSafe(nd["__k"]))
        .select(key, "approx_users", "exact_users", "approx_p50", "n")
    )


_SKETCH_ORACLE = """
SELECT event_type,
       CAST(NULL AS BIGINT) AS approx_users,
       CAST(NULL AS BIGINT) AS exact_users,
       CAST(NULL AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS n_le_p50
FROM events WHERE false
"""


@register("a13_sketch_error_bounds", oracle=_SKETCH_ORACLE)
def q_sketch_bounds(spark, sf_dir):
    """Sketch aggregates with a checkable contract: emits the groups
    whose sketch output VIOLATES the published error bounds — HLL++
    (rsd 2%, checked at 5% = 2.5 sigma) and percentile_approx (rank
    error <= n/accuracy, + 1 slack for ties). The oracle is the empty
    set: correctness = no violations. Deterministic per dataset (both
    sketches are deterministic given the data)."""
    events = load_table(spark, sf_dir, "events")
    agg = sketch_distinct_and_median(events)
    ranks = (
        events.join(F.broadcast(agg), "event_type")
        .groupBy("event_type", "approx_users", "exact_users", "approx_p50", "n")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("approx_p50"), 1).otherwise(0)
            ).alias("n_le_p50")
        )
    )
    hll_bad = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        > 0.05 * F.col("exact_users")
    )
    rank_slack = F.col("n") / APPROX_ACCURACY + 1
    pct_bad = F.abs(F.col("n_le_p50") - 0.5 * F.col("n")) > rank_slack
    return ranks.filter(hll_bad | pct_bad).select(
        "event_type",
        "approx_users",
        "exact_users",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_le_p50").cast("bigint").alias("n_le_p50"),
    )


_A14_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
       round(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90,
       round(CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE), 4) AS p99
FROM lineitem
GROUP BY 1
ORDER BY 1
"""


@register("a14_group_percentiles", oracle=_A14_ORACLE)
def q_group_percentiles(spark, sf_dir):
    """A14 (beyond the reference): exact interpolated percentiles per
    group — Spark's ``percentile`` aggregate (exact, SQL
    PERCENTILE_CONT semantics) against DuckDB ``quantile_cont``. The
    exact form sorts each group's values; the 100 TB swap
    (``percentile_approx``, mergeable map-side t-digest) is itself
    certified as ``a14_group_percentiles_approx`` below."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


_A14_APPROX_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS INT) AS v50, CAST(0 AS INT) AS v90, CAST(0 AS INT) AS v99
FROM lineitem GROUP BY 1 ORDER BY 1
"""


@register("a14_group_percentiles_approx", oracle=_A14_APPROX_ORACLE, bench=True)
def q_group_percentiles_approx(spark, sf_dir):
    """The 100 TB form of a14, CERTIFIED (not just documented):
    per-group t-digest quantiles via ``percentile_approx`` (mergeable
    map-side sketch — no per-group sort), with the published rank-error
    bound checked IN-ROW, a13-style. For each quantile q the sketch's
    value occupies exact ranks (n_lt, n_le]; the contract holds iff
    that range intersects [q*n - n/accuracy, q*n + n/accuracy] (+1
    slack for interpolation). The emitted v50/v90/v99 violation flags
    must all be 0; the oracle recomputes n_rows exactly and pins the
    zero-violation contract (DuckDB cannot replay the t-digest, so the
    hash certifies the bound, not the sketch internals — the
    a13_sketch_error_bounds recipe).

    Scale shape: one groupBy building the sketches, one broadcast join
    back (group cardinality is tiny), one counting pass. The exact-rank
    counting pass exists only for certification; production keeps the
    first aggregate alone."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = [0.5, 0.9, 0.99]
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # the sketch only sees non-NULL values: the rank bound must be
        # checked against this count (equal to n on this non-null
        # measure, but the contract must not depend on that)
        F.count("l_extendedprice").alias("n_val"),
        F.percentile_approx(
            "l_extendedprice", qs, APPROX_ACCURACY
        ).alias("ap"),
    )
    probe = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(agg), "l_returnflag"
    )
    counts = probe.groupBy("l_returnflag", "n", "n_val").agg(
        *[
            F.sum(
                (F.col("l_extendedprice") < F.col("ap")[i]).cast("long")
            ).alias(f"lt{i}")
            for i in range(len(qs))
        ],
        *[
            F.sum(
                (F.col("l_extendedprice") <= F.col("ap")[i]).cast("long")
            ).alias(f"le{i}")
            for i in range(len(qs))
        ],
    )
    def violation(i: int, q: float):
        return rank_bound_violation(
            F.col(f"lt{i}"), F.col(f"le{i}"), q, F.col("n_val")
        )

    return counts.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        violation(0, 0.5).alias("v50"),
        violation(1, 0.9).alias("v90"),
        violation(2, 0.99).alias("v99"),
    ).orderBy("l_returnflag")


# ------------------------------------------------- equi-width histogram

N_HIST_BINS = 20


def equi_width_histogram(
    df: DataFrame, value_col: str, n_bins: int = N_HIST_BINS
) -> DataFrame:
    """Distributed equi-width histogram: bounds from one min/max
    aggregate (broadcast back in-plan), bin assignment as a map-only
    expression, counts via groupBy — two scans, no driver-side binning.
    The max value lands in the last bin (half-open bins, closed top).

    Complements the percentile machinery (a14 exact, a13 sketch): the
    histogram is the profile view, percentiles are the quantile view.
    """
    bounds = df.agg(
        F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
    )
    j = df.crossJoin(F.broadcast(bounds))
    span = F.greatest(F.col("__hi") - F.col("__lo"), F.lit(1e-300))
    raw = F.floor((F.col(value_col) - F.col("__lo")) / span * n_bins)
    bin_idx = F.least(raw, F.lit(n_bins - 1)).cast("int")
    return (
        j.withColumn("bin", bin_idx)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(value_col), 2).alias("bin_min"),
            F.round(F.max(value_col), 2).alias("bin_max"),
        )
    )


_HIST_ORACLE = f"""
WITH bounds AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
binned AS (
  SELECT least(CAST(floor((o_totalprice - lo)
                 / greatest(hi - lo, 1e-300) * {N_HIST_BINS}) AS INT),
               {N_HIST_BINS - 1}) AS bin,
         o_totalprice
  FROM orders, bounds
)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) + 0.0 AS bin_min,
       round(max(o_totalprice), 2) + 0.0 AS bin_max
FROM binned
GROUP BY 1
ORDER BY 1
"""


@register("a17_equi_width_histogram", oracle=_HIST_ORACLE)
def q_equi_width_histogram(spark, sf_dir):
    """20-bin histogram of order totals."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    h = equi_width_histogram(orders, "o_totalprice")
    return h.select(
        "bin",
        "n",
        (F.col("bin_min") + 0.0).alias("bin_min"),
        (F.col("bin_max") + 0.0).alias("bin_max"),
    ).orderBy("bin")


# --------------------------------------- A18: CUBE with grouping flags

_A18_ORACLE = """
SELECT c_mktsegment,
       CAST(c_nationkey AS INT) AS c_nationkey,
       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
       CAST(GROUPING(c_nationkey) AS INT) AS g_nat,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM customer
GROUP BY CUBE (c_mktsegment, c_nationkey)
ORDER BY g_seg, g_nat, c_mktsegment, c_nationkey
"""


@register("a18_cube_grouping", oracle=_A18_ORACLE, bench=True)
def q_cube_grouping(spark, sf_dir):
    """A18: full CUBE over (segment, nation) with explicit per-column
    GROUPING flags — the all-margins companion to a5's rollup /
    grouping-sets (every slice, both one-way margins, and the grand
    total in ONE pass with partial aggregation; at scale this is 4
    grouping sets sharing a single shuffle instead of 4 scans).
    Balances are summed as exact per-row integer cents, so every
    margin is order-independent cross-engine. Per-column flags rather
    than grouping_id() keep the bit-order convention out of the
    contract."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("__cents"),
    )
    return (
        cust.cube("c_mktsegment", "c_nationkey")
        .agg(
            # grouping() is only resolvable inside the cube aggregate
            F.grouping("c_mktsegment").cast("int").alias("g_seg"),
            F.grouping("c_nationkey").cast("int").alias("g_nat"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__cents").alias("bal_cents"),
        )
        .select(
            "c_mktsegment", "c_nationkey", "g_seg", "g_nat",
            "n_rows", "bal_cents",
        )
        .orderBy("g_seg", "g_nat", "c_mktsegment", "c_nationkey")
    )


# --------------- A19: share-of-parent / share-of-total (DAX ALL parity)

def share_of_total(
    df: DataFrame, group: str, sub: str, amount_cents: "F.Column"
) -> DataFrame:
    """Percent-of-parent and percent-of-grand-total in one pass — the
    DAX ``DIVIDE(SUM(x), CALCULATE(SUM(x), ALL(...)))`` /
    ``ALLEXCEPT`` measure family (the reference's Power BI reports lean
    on these shapes; myDAXExtracts re-expressed them as ratios over
    rollups). One aggregate to the (group, sub) grain, then two window
    sums over that SMALL result — never a second scan of the fact, and
    the windows partition by group (or nothing) over rollup-sized rows,
    so the single-partition window on the grand total is over
    |groups x subs| rows, not the corpus.

    Integer cents until the two final rounded ratios. The grand total
    joins back as a broadcast 1-row aggregate rather than an
    empty-partition window (a SinglePartition window is the plan
    audit's canonical reject, even over rollup-sized input)."""
    g = df.groupBy(F.col(group).alias("grp"), F.col(sub).alias("sub")).agg(
        F.sum(amount_cents).alias("cents")
    )
    w_grp = Window.partitionBy("grp")
    total = g.agg(F.sum("cents").alias("__total"))
    return g.crossJoin(F.broadcast(total)).select(
        "grp",
        "sub",
        "cents",
        (
            F.round(F.col("cents") / F.sum("cents").over(w_grp), 6)
            + F.lit(0.0)
        ).alias("share_of_group"),
        (
            F.round(F.col("cents") / F.col("__total"), 6) + F.lit(0.0)
        ).alias("share_of_total"),
    )


_A19_ORACLE = """
WITH g AS (
  SELECT o_orderpriority AS grp, o_orderstatus AS sub,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
)
SELECT grp, sub, cents,
       round(cents / (1.0 * sum(cents) OVER (PARTITION BY grp)), 6) + 0.0
         AS share_of_group,
       round(cents / (1.0 * sum(cents) OVER ()), 6) + 0.0 AS share_of_total
FROM g ORDER BY 1, 2
"""


@register("a19_share_of_total", oracle=_A19_ORACLE, bench=True)
def q_share_of_total(spark, sf_dir):
    """Revenue share of each order status within its priority, and of
    the grand total (exact-cents rollup, two window sums over the
    15-row result)."""
    od = load_table(spark, sf_dir, "orders")
    return share_of_total(
        od,
        "o_orderpriority",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    ).orderBy("grp", "sub")


# ----------------------- A20: exact weighted quantiles (all-integer)

WEIGHTED_QS = (5, 9)  # tenths: q = 0.5, 0.9


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: "Column",
    weight_col: "Column",
) -> DataFrame:
    """Exact weighted quantiles per group — the statistic behind
    "median price weighted by units sold" / "length percentile
    weighted by token count" that no engine ships built-in. Definition
    (lower weighted quantile, no interpolation): the smallest value v
    whose cumulative weight reaches q * W. Everything stays INTEGER:
    values are expected pre-scaled (cents/micros), weights integral,
    and the threshold test is ``10 * cum_w >= q10 * W`` with q10 in
    tenths — no float crosses an engine boundary, so ties and
    boundaries are bit-deterministic.

    Scale shape: pre-aggregate to one row per (group, value) — the
    tie-collapse that also bounds the sort — then one window cumsum
    over the group-partitioned value order, then a single min-filter
    aggregate per quantile. One shuffle on the group key after the
    pre-aggregate's own; never a global sort.

    NULL values and NULL weights are excluded up front: a NULL value
    group can never be selected as a quantile yet would inflate W (and
    Spark's NULLS FIRST window default vs SQL engines' NULLS LAST
    would shift every quantile engine-dependently)."""
    per_v = (
        df.filter(value_col.isNotNull() & weight_col.isNotNull())
        .groupBy(F.col(group_col).alias("g"), value_col.alias("v"))
        .agg(F.sum(weight_col).cast("long").alias("w"))
    )
    win = Window.partitionBy("g").orderBy("v")
    tot = Window.partitionBy("g")
    cum = per_v.select(
        "g",
        "v",
        F.sum("w").over(win).alias("cw"),
        F.sum("w").over(tot).alias("W"),
    )
    aggs = [F.max("W").cast("long").alias("total_w")]
    for q10 in WEIGHTED_QS:
        aggs.append(
            F.min(
                F.when(10 * F.col("cw") >= q10 * F.col("W"), F.col("v"))
            ).cast("long").alias(f"wq{q10}0")
        )
    return cum.groupBy("g").agg(*aggs)


_A20_ORACLE = f"""
WITH per_v AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT g, v,
         sum(w) OVER (PARTITION BY g ORDER BY v) AS cw,
         sum(w) OVER (PARTITION BY g) AS W
  FROM per_v
)
SELECT g AS l_returnflag,
       CAST(max(W) AS BIGINT) AS total_w,
       {", ".join(
           f"CAST(min(CASE WHEN 10 * cw >= {q10} * W THEN v END) AS BIGINT)"
           f" AS wq{q10}0" for q10 in WEIGHTED_QS
       )}
FROM cum GROUP BY 1 ORDER BY 1
"""


@register("a20_weighted_quantiles", oracle=_A20_ORACLE, bench=True)
def q_weighted_quantiles(spark, sf_dir):
    """Quantity-weighted price quantiles per returnflag: exact integer
    cents, lower-quantile definition, zero float comparisons."""
    li = load_table(spark, sf_dir, "lineitem")
    return weighted_quantiles(
        li,
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        F.col("l_quantity").cast("long"),
    ).select(
        F.col("g").alias("l_returnflag"), "total_w", "wq50", "wq90"
    ).orderBy("l_returnflag")
