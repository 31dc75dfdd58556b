"""Continuous-aggregate (rollup) maintenance: keep a pre-aggregated
table current by merging delta batches instead of recomputing the base.

The reference recomputes every validation aggregate from scratch per run
(``pipeline/qualitycheck.py``, ``pipeline/datavalidation.py`` re-read the
full extracts each time); its append-only snapshot model
(``pipeline/SqlUpload.py`` chunked appends) is exactly the shape where a
maintained rollup pays off. At 100 TB a daily delta is ~1/1000 of the
base: merging ``agg(delta)`` into the stored rollup costs O(|delta| +
|groups touched|), while a recompute costs O(|base|). This is the
"continuous aggregate" / hypertable-rollup pattern (TimescaleDB,
Materialize) expressed as plain DataFrame ops.

Mergeability contract: every stored measure must be a *sum-decomposable
partial* (sum, count; mean = merged sum / merged count, derived at read
time). Min/max merge with greatest/least. Non-decomposable aggregates
(exact median/distinct) need sketches (see
``operators/aggregates.py:sketch_distinct_and_median``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

def _merge_sum(a: Column, b: Column) -> Column:
    # SQL SUM over all-NULL input is NULL, and the merge must preserve
    # that (merged-equals-recomputed contract): NULL+NULL stays NULL,
    # otherwise NULL partials act as the additive identity.
    return F.when(a.isNull() & b.isNull(), F.lit(None)).otherwise(
        F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
    )


#: measure kind -> (partial aggregate, merge function over two partials)
_MERGE = {
    "sum": (F.sum, _merge_sum),
    "count": (
        lambda c: F.count(c),
        # count partials are never NULL for groups that exist; a missing
        # side (group absent from base or delta) contributes 0
        lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    ),
    "min": (F.min, lambda a, b: F.least(a, b)),
    "max": (F.max, lambda a, b: F.greatest(a, b)),
}


def build_rollup(
    fact: DataFrame, keys: list[str], measures: dict[str, tuple[str, Column]]
) -> DataFrame:
    """Aggregate ``fact`` to one row per key with mergeable partials.

    ``measures`` maps output column -> (kind, input expression), kind in
    {sum, count, min, max}.
    """
    aggs = []
    for name, (kind, col) in measures.items():
        partial, _ = _MERGE[kind]
        aggs.append(partial(col).alias(name))
    return fact.groupBy(*keys).agg(*aggs)


def merge_rollup(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, Column]],
) -> DataFrame:
    """Merge a delta batch into a stored rollup: aggregate the delta
    (map-side partials, then a groups-sized shuffle), full-outer join on
    the group keys, combine partials.

    Everything after the delta's partial aggregation moves rollup-sized
    relations — one row per group, never fact rows — so the merge cost
    is O(|delta| scan + |groups|) regardless of base-fact size. (The
    full-outer join keeps delta-only groups; Spark plans it as a
    sort-merge join since full-outer can't broadcast.) The result
    replaces the stored rollup (or feeds a keyed upsert,
    ``sources/jdbc.py:upsert_delta_rows``).
    """
    d = build_rollup(delta, keys, measures).select(
        *[F.col(k).alias(f"__d_{k}") for k in keys],
        *[F.col(n).alias(f"__d_{n}") for n in measures],
    )
    cond = None
    for k in keys:
        c = base[k].eqNullSafe(d[f"__d_{k}"])
        cond = c if cond is None else (cond & c)
    joined = base.join(d, cond, "full_outer")
    out_keys = [F.coalesce(base[k], d[f"__d_{k}"]).alias(k) for k in keys]
    out_measures = []
    for name, (kind, _col) in measures.items():
        _, merge = _MERGE[kind]
        out_measures.append(merge(base[name], d[f"__d_{name}"]).alias(name))
    return joined.select(*out_keys, *out_measures)


# ------------------------------------------------------------------ query

_A16_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       round(min(o_totalprice), 6) AS min_price,
       round(max(o_totalprice), 6) AS max_price
FROM orders
GROUP BY 1 ORDER BY 1
"""


@register("a16_incremental_rollup", oracle=_A16_ORACLE, bench=True)
def q_incremental_rollup(spark, sf_dir):
    """Continuous-aggregate maintenance: the rollup built from ~80% of
    orders, merged with the remaining ~20% as a delta batch, must equal
    the full recompute (the oracle). Decimal sums keep the partials
    exactly mergeable."""
    orders = load_table(spark, sf_dir, "orders")
    measures = {
        "n_orders": ("count", F.lit(1)),
        "total_price": ("sum", F.col("o_totalprice").cast("decimal(18,2)")),
        "min_price": ("min", F.col("o_totalprice")),
        "max_price": ("max", F.col("o_totalprice")),
    }
    keys = ["o_orderpriority"]
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta = orders.filter(F.col("o_orderkey") % 5 == 0)
    merged = merge_rollup(build_rollup(base, keys, measures), delta, keys, measures)
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        F.round("min_price", 6).alias("min_price"),
        F.round("max_price", 6).alias("max_price"),
    ).orderBy("o_orderpriority")
