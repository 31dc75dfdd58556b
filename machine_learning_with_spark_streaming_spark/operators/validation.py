"""Validation / QC operators (SURVEY.md §2.12, V1-V7) — the reference's
signature capability: production reconciliation as correctness oracle.

Edge-rule parity (pipeline/qualitycheck.py:175-180):
  baseline == 0 and value == 0  ->  pct 0,    PASS
  baseline == 0 and value != 0  ->  pct inf,  FAIL   (pct surfaced as NULL
                                    here: engine-portable, flag carries it)
  else                          ->  pct = (value-baseline)/baseline,
                                    PASS iff |pct| <= threshold

All comparisons are aggregate-vs-aggregate full-outer joins with zero-fill
— tiny row counts after aggregation, so the joins are broadcast and the
cost is the two input aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

QC_THRESHOLD = 0.15  # pipeline/qualitycheck.py:23
TRANSFORM_TOL = 0.001  # myConversionsClass.py:376


class SchemaConformanceError(ValueError):
    """V7: input is missing required columns (pipeline/SqlUpload.py:76-79)."""


def conformance_gate(df: DataFrame, required: list[str]) -> DataFrame:
    """V7: require columns else raise (callers may catch-and-skip the file,
    matching the reference's skip-with-warning)."""
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise SchemaConformanceError(f"missing required columns: {missing}")
    return df


def aggregate_compare(
    before: DataFrame,
    after: DataFrame,
    keys: list[str],
    value_cols: list[str],
    tol: float = TRANSFORM_TOL,
) -> DataFrame:
    """V1: per-key, per-column relative-delta check (validate,
    myConversionsClass.py:372-409). Returns only the violating rows with
    ``<col>_before / <col>_after / <col>_delta`` triples."""
    # decimal aggregation: sums are exact + associative, so the comparison
    # (and its oracle) is immune to partitioning/summation-order noise
    b = before.groupBy(*keys).agg(
        *[
            F.sum(F.col(c).cast("decimal(27,6)")).cast("double").alias(f"{c}_before")
            for c in value_cols
        ]
    )
    a = after.groupBy(*keys).agg(
        *[
            F.sum(F.col(c).cast("decimal(27,6)")).cast("double").alias(f"{c}_after")
            for c in value_cols
        ]
    )
    joined = b.join(a, keys, "full_outer")
    cond = None
    out = joined
    for c in value_cols:
        bf = F.coalesce(F.col(f"{c}_before"), F.lit(0.0))
        af = F.coalesce(F.col(f"{c}_after"), F.lit(0.0))
        delta = F.when(bf != 0, F.abs(af - bf) / F.abs(bf)).otherwise(
            F.when(af != 0, F.lit(float("inf"))).otherwise(F.lit(0.0))
        )
        out = out.withColumn(f"{c}_delta", delta)
        c_viol = F.col(f"{c}_delta") > tol
        cond = c_viol if cond is None else (cond | c_viol)
    return out.filter(cond)


def totals_conserved(
    before: DataFrame, after: DataFrame, value_col: str, tol: float = TRANSFORM_TOL
) -> bool:
    """V2: scalar grand-total conservation
    (myConversionsClass.py:411-424)."""
    b = before.agg(F.sum(value_col)).first()[0] or 0.0
    a = after.agg(F.sum(value_col)).first()[0] or 0.0
    if b == 0:
        return a == 0
    return abs(a - b) / abs(b) <= tol


def qc_verdict(
    new: DataFrame,
    baseline: DataFrame,
    dims: list[str],
    value_col: str,
    threshold: float = QC_THRESHOLD,
) -> DataFrame:
    """V3: PASS/FAIL aggregate comparison across dimensions
    (qualitycheck.py:149-197). ``new``/``baseline`` carry ``dims`` +
    ``value_col``; output is one verdict row per key with the exact
    0-baseline edge rules."""
    n = new.groupBy(*dims).agg(
        F.sum(F.col(value_col).cast("decimal(27,6)")).cast("double").alias("new_value")
    )
    b = baseline.groupBy(*dims).agg(
        F.sum(F.col(value_col).cast("decimal(27,6)"))
        .cast("double")
        .alias("baseline_value")
    )
    j = n.join(b, dims, "full_outer")
    nv = F.coalesce(F.col("new_value"), F.lit(0.0))
    bv = F.coalesce(F.col("baseline_value"), F.lit(0.0))
    pct = F.when(bv != 0, (nv - bv) / bv)  # NULL when baseline 0 (inf case)
    pct = F.when((bv == 0) & (nv == 0), F.lit(0.0)).otherwise(pct)
    verdict = (
        F.when((bv == 0) & (nv == 0), F.lit("PASS"))
        .when(bv == 0, F.lit("FAIL"))
        .when(F.abs((nv - bv) / bv) <= threshold, F.lit("PASS"))
        .otherwise(F.lit("FAIL"))
    )
    return j.select(
        *dims,
        F.round(nv, 2).alias("new_value"),
        F.round(bv, 2).alias("baseline_value"),
        F.round(pct, 6).alias("pct_diff"),
        verdict.alias("qc"),
    )


def delta_rows(
    new: DataFrame, old: DataFrame, pk: list[str], compare_cols: list[str]
) -> DataFrame:
    """V6/K4/J6: changed-or-new row detection (delta upsert set,
    mySQLClass.py:148-177): left join on PK, keep rows where any compared
    column differs (null-safe) or the PK is absent from ``old``."""
    old_sel = old.select(
        *[F.col(c) for c in pk], *[F.col(c).alias(f"__old_{c}") for c in compare_cols]
    )
    marker = "__old_present"
    old_sel = old_sel.withColumn(marker, F.lit(1))
    j = new.join(old_sel, pk, "left")
    diff = F.col(marker).isNull()
    for c in compare_cols:
        diff = diff | ~F.col(c).eqNullSafe(F.col(f"__old_{c}"))
    return j.filter(diff).select(new["*"])


# ---------------------------------------------------------------- queries

_V1_ORACLE = """
WITH before AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS value_before
  FROM orders GROUP BY 1
), after AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.2
                  ELSE o_totalprice END AS DECIMAL(27,6))) AS DOUBLE) AS value_after
  FROM orders GROUP BY 1
)
SELECT b.priority,
       round(coalesce(value_before, 0), 2) AS value_before,
       round(coalesce(value_after, 0), 2) AS value_after,
       round(abs(coalesce(value_after, 0) - coalesce(value_before, 0))
             / abs(value_before), 6) AS value_delta
FROM before b FULL OUTER JOIN after a ON b.priority = a.priority
WHERE abs(coalesce(value_after, 0) - coalesce(value_before, 0)) / abs(value_before)
      > 0.001
ORDER BY 1
"""


@register("v1_aggregate_compare", oracle=_V1_ORACLE)
def q_aggregate_compare(spark, sf_dir):
    """V1: transform-conservation check flags the perturbed group only."""
    orders = load_table(spark, sf_dir, "orders")
    before = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("value"),
    )
    after = before.withColumn(
        "value",
        F.when(F.col("priority") == "1-URGENT", F.col("value") * 1.2).otherwise(
            F.col("value")
        ),
    )
    out = aggregate_compare(before, after, ["priority"], ["value"])
    return out.select(
        "priority",
        F.round(F.coalesce("value_before", F.lit(0.0)), 2).alias("value_before"),
        F.round(F.coalesce("value_after", F.lit(0.0)), 2).alias("value_after"),
        F.round("value_delta", 6).alias("value_delta"),
    ).orderBy("priority")


_V3_ORACLE = """
WITH new AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS nv
  FROM orders WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  GROUP BY 1
), base AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS bv
  FROM orders WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
    AND o_orderpriority <> '5-LOW'
  GROUP BY 1
)
SELECT coalesce(n.priority, b.priority) AS priority,
       round(coalesce(nv, 0), 2) AS new_value,
       round(coalesce(bv, 0), 2) AS baseline_value,
       CASE WHEN coalesce(bv, 0) = 0 AND coalesce(nv, 0) = 0 THEN 0.0
            WHEN coalesce(bv, 0) = 0 THEN NULL
            ELSE round((coalesce(nv, 0) - coalesce(bv, 0)) / coalesce(bv, 0), 6)
       END AS pct_diff,
       CASE WHEN coalesce(bv, 0) = 0 AND coalesce(nv, 0) = 0 THEN 'PASS'
            WHEN coalesce(bv, 0) = 0 THEN 'FAIL'
            WHEN abs((coalesce(nv, 0) - coalesce(bv, 0)) / coalesce(bv, 0)) <= 0.15
              THEN 'PASS'
            ELSE 'FAIL'
       END AS qc
FROM new n FULL OUTER JOIN base b ON n.priority = b.priority
ORDER BY 1
"""


@register("v3_qc_verdict", oracle=_V3_ORACLE)
def q_qc_verdict(spark, sf_dir):
    """V3: ±15% QC verdicts incl. the 0-baseline FAIL edge (one priority
    is removed from the baseline to exercise it)."""
    orders = load_table(spark, sf_dir, "orders")
    new = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    ).select(F.col("o_orderpriority").alias("priority"), F.col("o_totalprice").alias("v"))
    base = orders.filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01"))
        & (F.col("o_orderdate") < F.lit("1995-01-01"))
        & (F.col("o_orderpriority") != "5-LOW")
    ).select(F.col("o_orderpriority").alias("priority"), F.col("o_totalprice").alias("v"))
    return qc_verdict(new, base, ["priority"], "v").orderBy("priority")


_V4_ORACLE = """
WITH snaps AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m FROM orders
), ranked AS (
  SELECT m, dense_rank() OVER (ORDER BY m DESC) AS rk FROM snaps
), latest AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS nv FROM orders
  WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = (SELECT m FROM ranked WHERE rk = 1)
  GROUP BY 1
), prev AS (
  SELECT o_orderpriority AS priority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS bv FROM orders
  WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = (SELECT m FROM ranked WHERE rk = 2)
  GROUP BY 1
)
SELECT coalesce(l.priority, p.priority) AS priority,
       round(coalesce(nv, 0), 2) AS new_value,
       round(coalesce(bv, 0), 2) AS baseline_value,
       CASE WHEN coalesce(bv, 0) = 0 AND coalesce(nv, 0) = 0 THEN 0.0
            WHEN coalesce(bv, 0) = 0 THEN NULL
            ELSE round((coalesce(nv, 0) - coalesce(bv, 0)) / coalesce(bv, 0), 6)
       END AS pct_diff,
       CASE WHEN coalesce(bv, 0) = 0 AND coalesce(nv, 0) = 0 THEN 'PASS'
            WHEN coalesce(bv, 0) = 0 THEN 'FAIL'
            WHEN abs((coalesce(nv, 0) - coalesce(bv, 0)) / coalesce(bv, 0)) <= 0.15
              THEN 'PASS'
            ELSE 'FAIL'
       END AS qc
FROM latest l FULL OUTER JOIN prev p ON l.priority = p.priority
ORDER BY 1
"""


@register("v4_snapshot_drift", oracle=_V4_ORACLE)
def q_snapshot_drift(spark, sf_dir):
    """V4: latest-vs-previous snapshot drift (qualitycheck
    PostSql.py:56-173) — W4 snapshot ranking feeding the V3 machinery."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "m", F.trunc("o_orderdate", "month")
    )
    snaps = [
        r["m"]
        for r in orders.select("m").distinct().orderBy(F.desc("m")).limit(2).collect()
    ]
    latest, prev = snaps[0], snaps[1]
    new = orders.filter(F.col("m") == F.lit(latest)).select(
        F.col("o_orderpriority").alias("priority"), F.col("o_totalprice").alias("v")
    )
    base = orders.filter(F.col("m") == F.lit(prev)).select(
        F.col("o_orderpriority").alias("priority"), F.col("o_totalprice").alias("v")
    )
    return qc_verdict(new, base, ["priority"], "v").orderBy("priority")


_V6_ORACLE = """
WITH old AS (SELECT * FROM customer),
new AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
         c_nationkey, c_mktsegment
  FROM customer WHERE c_custkey % 7 <> 0
)
SELECT n.c_custkey, n.c_name, round(n.c_acctbal, 2) AS c_acctbal
FROM new n LEFT JOIN old o ON n.c_custkey = o.c_custkey
WHERE o.c_custkey IS NULL OR n.c_acctbal IS DISTINCT FROM o.c_acctbal
ORDER BY 1
"""


@register("v6_delta_rows", oracle=_V6_ORACLE)
def q_delta_rows(spark, sf_dir):
    """V6: changed-row detection — only rows whose balance moved come back
    (the Delta-MERGE input set)."""
    old = load_table(spark, sf_dir, "customer")
    new = (
        old.filter(F.col("c_custkey") % 7 != 0)
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100.0).otherwise(
                F.col("c_acctbal")
            ),
        )
    )
    out = delta_rows(new, old, ["c_custkey"], ["c_acctbal"])
    return out.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    ).orderBy("c_custkey")


_V2_ORACLE = """
WITH b AS (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total FROM orders
), a AS (
  SELECT CAST(sum(CAST(v AS DECIMAL(27,6))) AS DOUBLE) AS total
  FROM (
    SELECT CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice * 1.001
                ELSE o_totalprice END AS v
    FROM orders
  )
)
SELECT round(b.total, 2) AS total_before, round(a.total, 2) AS total_after,
       round(abs(a.total - b.total) / abs(b.total), 6) AS rel_delta,
       CASE WHEN abs(a.total - b.total) / abs(b.total) <= 0.001
            THEN 'PASS' ELSE 'FAIL' END AS verdict
FROM b, a
"""


@register("v2_totals_compare", oracle=_V2_ORACLE)
def q_totals_compare(spark, sf_dir):
    """V2/A12: scalar grand-total conservation with verdict — a +0.1%-
    on-one-priority perturbation sits right at the default tolerance
    boundary's passing side (myConversionsClass.py:411-424)."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(27,6)")
    perturbed = F.when(
        F.col("o_orderpriority") == "5-LOW", (F.col("o_totalprice") * 1.001)
    ).otherwise(F.col("o_totalprice")).cast("decimal(27,6)")
    b = orders.agg(F.sum(dec).cast("double").alias("total_before"))
    a = orders.agg(F.sum(perturbed).cast("double").alias("total_after"))
    j = b.crossJoin(a)
    rel = F.abs(F.col("total_after") - F.col("total_before")) / F.abs(
        F.col("total_before")
    )
    return j.select(
        F.round("total_before", 2).alias("total_before"),
        F.round("total_after", 2).alias("total_after"),
        F.round(rel, 6).alias("rel_delta"),
        F.when(rel <= TRANSFORM_TOL, F.lit("PASS")).otherwise(F.lit("FAIL")).alias(
            "verdict"
        ),
    )


# ------------------------------------------------------------------- V5

def new_vs_old_variance(
    new: DataFrame,
    old: DataFrame,
    keys: list[str],
    count_alias: str = "rc",
    value_col: str = "value",
    value_alias: str = "ea",
) -> DataFrame:
    """V5: new-process vs old-process comparison by key — row counts and
    value sums side by side with absolute and percent variances; percent
    is null when the old-process baseline is 0 (the reference renders it
    as '-': ``build_validation_with_variance_bu``,
    pipeline/datavalidation.py:344-436). Outer join keeps keys present in
    only one process, zero-filled. Value sums go through decimal(27,6) so
    both engines aggregate exactly.
    """

    def side(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(f"{count_alias}_{suffix}"),
            F.sum(F.col(value_col).cast("decimal(27,6)"))
            .cast("double")
            .alias(f"{value_alias}_{suffix}"),
        )

    comp = side(new, "new").join(side(old, "old"), keys, "full_outer")
    rc_n = F.coalesce(F.col(f"{count_alias}_new"), F.lit(0)).cast("long")
    rc_o = F.coalesce(F.col(f"{count_alias}_old"), F.lit(0)).cast("long")
    ea_n = F.coalesce(F.col(f"{value_alias}_new"), F.lit(0.0))
    ea_o = F.coalesce(F.col(f"{value_alias}_old"), F.lit(0.0))
    return comp.select(
        *keys,
        rc_n.alias(f"{count_alias}_new"),
        rc_o.alias(f"{count_alias}_old"),
        (rc_n - rc_o).alias(f"var_{count_alias}"),
        F.when(rc_o != 0, F.round((rc_n - rc_o) / rc_o, 6)).alias(
            f"var_{count_alias}_pct"
        ),
        F.round(ea_n, 6).alias(f"{value_alias}_new"),
        F.round(ea_o, 6).alias(f"{value_alias}_old"),
        F.round(ea_n - ea_o, 6).alias(f"var_{value_alias}"),
        F.when(ea_o != 0.0, F.round((ea_n - ea_o) / ea_o, 6)).alias(
            f"var_{value_alias}_pct"
        ),
    )


_V5_FY4 = r"(?i)\bFY\s*(20[0-9]{2})\b"
_V5_FY2 = r"(?i)\bFY\s*([0-9]{2})\b"
_V5_Y4 = r"\b(20[0-9]{2})\b"


def _fy_year_sql(expr: str) -> str:
    return (
        f"CASE WHEN regexp_extract({expr}, '{_V5_FY4}', 1) <> ''"
        f" THEN CAST(regexp_extract({expr}, '{_V5_FY4}', 1) AS INT)"
        f" WHEN regexp_extract({expr}, '{_V5_FY2}', 1) <> ''"
        f" THEN CAST(regexp_extract({expr}, '{_V5_FY2}', 1) AS INT) + 2000"
        f" WHEN regexp_extract({expr}, '{_V5_Y4}', 1) <> ''"
        f" THEN CAST(regexp_extract({expr}, '{_V5_Y4}', 1) AS INT)"
        f" END"
    )


_V5_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS bu, o_totalprice,
         CASE WHEN o_orderkey % 7 = 0 THEN 'no fiscal info'
              ELSE 'Current month to FY' ||
                   substr(CAST(year(o_orderdate) AS VARCHAR), 3, 2) END AS attr
  FROM orders
),
new AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
old AS (SELECT * FROM base WHERE o_orderkey % 2 <> 0 AND bu <> '5-LOW'),
fy AS (
  SELECT coalesce(
    (SELECT max({_fy_year_sql('attr')}) FROM new),
    (SELECT max({_fy_year_sql('attr')}) FROM old)
  ) AS end_year
),
n AS (
  SELECT bu, count(*) AS rc_new,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS ea_new
  FROM new GROUP BY 1
),
o AS (
  SELECT bu, count(*) AS rc_old,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS ea_old
  FROM old GROUP BY 1
),
comp AS (SELECT * FROM n FULL JOIN o USING (bu))
SELECT bu,
       CASE WHEN fy.end_year IS NOT NULL
            THEN 'FY' || lpad(CAST(fy.end_year % 100 AS VARCHAR), 2, '0') END
         AS fiscal_year,
       CAST(coalesce(rc_new, 0) AS BIGINT) AS rc_new,
       CAST(coalesce(rc_old, 0) AS BIGINT) AS rc_old,
       CAST(coalesce(rc_new, 0) - coalesce(rc_old, 0) AS BIGINT) AS var_rc,
       CASE WHEN coalesce(rc_old, 0) <> 0
            THEN round((coalesce(rc_new, 0) - coalesce(rc_old, 0))
                       / CAST(coalesce(rc_old, 0) AS DOUBLE), 6) END AS var_rc_pct,
       round(coalesce(ea_new, 0), 6) AS ea_new,
       round(coalesce(ea_old, 0), 6) AS ea_old,
       round(coalesce(ea_new, 0) - coalesce(ea_old, 0), 6) AS var_ea,
       CASE WHEN coalesce(ea_old, 0) <> 0
            THEN round((coalesce(ea_new, 0) - coalesce(ea_old, 0))
                       / coalesce(ea_old, 0), 6) END AS var_ea_pct
FROM comp, fy
ORDER BY bu
"""


@register("v5_new_vs_old_variance", oracle=_V5_ORACLE)
def q_new_vs_old_variance(spark, sf_dir):
    """V5: new-vs-old BU variance with row counts, EA-unit sums, abs/pct
    variances and the run's FY label derived from free attribute text
    (max end-year; new process preferred, old as fallback). The old
    process is missing BU 5-LOW entirely — its zero baseline exercises
    the null-percent rule."""
    from machine_learning_with_spark_streaming_spark.functions.dates import fy_end_year_from_text, fy_label

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("bu"),
        F.col("o_totalprice").alias("value"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("no fiscal info"))
        .otherwise(
            F.concat(
                F.lit("Current month to FY"),
                F.substring(F.year("o_orderdate").cast("string"), 3, 2),
            )
        )
        .alias("attr"),
    )
    new = base.filter(F.col("o_orderkey") % 3 != 0)
    old = base.filter((F.col("o_orderkey") % 2 != 0) & (F.col("bu") != "5-LOW"))
    fy_new = new.agg(F.max(fy_end_year_from_text("attr")).alias("y_new"))
    fy_old = old.agg(F.max(fy_end_year_from_text("attr")).alias("y_old"))
    fy = fy_new.crossJoin(fy_old).select(
        fy_label(F.coalesce("y_new", "y_old")).alias("fiscal_year")
    )
    comp = new_vs_old_variance(new, old, ["bu"])
    return (
        comp.crossJoin(F.broadcast(fy))
        .select(
            "bu",
            "fiscal_year",
            "rc_new",
            "rc_old",
            "var_rc",
            "var_rc_pct",
            "ea_new",
            "ea_old",
            "var_ea",
            "var_ea_pct",
        )
        .orderBy("bu")
    )


# ---------------------------------------------------------- V7 extension

def constraint_report(df: DataFrame, constraints: dict[str, "F.Column"]) -> DataFrame:
    """V7 extension: declarative constraint suite over one table, checked
    in ONE scan (Deequ/dbt-test style, the engine-side upgrade of the
    reference's require-columns gates, ``pipeline/lib.py:196-202`` and
    ``pipeline/lib.py:149-154``).

    ``constraints`` maps check name -> boolean Column that must hold per
    row. Returns one row per constraint: ``(check_name, n_rows,
    n_violations, passed)``. All checks compute as conditional-sum
    aggregates in a single pass with map-side partials — adding a check
    adds a column to the aggregate, not a scan; the unpivot to rows
    happens on the 1-row aggregate result.
    """
    if not constraints:
        # stack(0, ...) would be a SQL parse error; fail with intent
        raise ValueError("constraint_report needs at least one constraint")
    names = sorted(constraints)
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            # violation = NOT definitely true: false OR null both count
            # (three-valued logic: when(cond,0).otherwise(1) maps null->1).
            # coalesce: sum over an EMPTY frame is NULL, but an empty
            # table vacuously passes every check -> 0 violations.
            F.coalesce(
                F.sum(F.when(constraints[n], 0).otherwise(1)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"__v_{i}")
            for i, n in enumerate(names)
        ],
    )
    stack_args = ", ".join(
        "'{}', __v_{}".format(n.replace("'", "''"), i) for i, n in enumerate(names)
    )
    return (
        agg.select(
            "__n",
            F.expr(
                f"stack({len(names)}, {stack_args}) AS (check_name, n_violations)"
            ),
        )
        .select(
            "check_name",
            F.col("__n").alias("n_rows"),
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("check_name")
    )


_V7_ORACLE = """
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
         CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_dom,
         CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 OR l_quantity IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 OR l_discount IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
  FROM lineitem
)
SELECT * FROM (
  SELECT 'discount_in_0_0.1' AS check_name, n AS n_rows, v_disc AS n_violations, v_disc = 0 AS passed FROM agg
  UNION ALL
  SELECT 'orderkey_not_null', n, v_null, v_null = 0 FROM agg
  UNION ALL
  SELECT 'quantity_in_1_50', n, v_qty, v_qty = 0 FROM agg
  UNION ALL
  SELECT 'returnflag_domain', n, v_dom, v_dom = 0 FROM agg
) ORDER BY check_name
"""


@register("v7_constraint_report", oracle=_V7_ORACLE)
def q_constraint_report(spark, sf_dir):
    """Single-pass constraint suite over lineitem: null, domain, and two
    range checks; one aggregate scan, one row per check."""
    li = load_table(spark, sf_dir, "lineitem")
    return constraint_report(
        li,
        {
            "orderkey_not_null": F.col("l_orderkey").isNotNull(),
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
            "quantity_in_1_50": F.col("l_quantity").between(1, 50),
            "discount_in_0_0.1": F.col("l_discount").between(0.0, 0.1),
        },
    )


# ---------------------------------------------- observed in-flight metrics

def observe_metrics(
    df: DataFrame, name: str, metrics: dict[str, "F.Column"]
):
    """Attach Spark observed metrics to ``df`` — aggregates computed
    DURING the consuming action, not by a second scan.

    Returns ``(observed_df, observation)``; after any action on the
    returned frame (write, count, foreachBatch), ``observation.get``
    yields the metric dict. This is the production shape for pipeline
    QC counters at 100 TB: `constraint_report` re-scans to report, an
    observation rides the existing job for free (an AggregatingAccumulator
    evaluated per-row on the pass the pipeline already makes). Works on
    batch and streaming frames alike (streaming surfaces the same
    metrics per micro-batch in QueryProgress.observedMetrics).

    Reference analog: the row-count prints sprinkled through
    pipeline/runner.py's stage logging — here they cost zero extra jobs.
    """
    from pyspark.sql import Observation

    if not metrics:
        raise ValueError("observe_metrics needs at least one metric")
    obs = Observation(name)
    cols = [c.alias(n) for n, c in sorted(metrics.items())]
    return df.observe(obs, *cols), obs


def observed_gate_metrics(condition: "F.Column") -> dict[str, "F.Column"]:
    """Standard gate counters: rows seen, rows passing, rows violating
    (null-safe: a NULL verdict counts as a violation, matching
    constraint_report's three-valued-logic rule)."""
    ok = F.when(condition, 1).otherwise(0)
    return {
        "n_rows": F.count(F.lit(1)),
        "n_pass": F.sum(ok),
        "n_violations": F.sum(1 - ok),
    }


# ------------------------------------------------- corpus snapshot diff

def corpus_diff(
    new: DataFrame,
    old: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-level diff of two corpus snapshots: per-document status
    ``added`` / ``removed`` / ``changed`` (unchanged rows are dropped —
    at corpus scale they are ~all rows, and the diff must stay
    join-output-sized, not corpus-sized).

    Comparison is by md5 of normalized text, so the full-outer join
    carries ``(id, 16-byte hash)`` rows, never document bodies — the
    ingestion-pipeline shape for "what did this crawl refresh actually
    change". Generalizes ``delta_rows`` (column compare) to
    content-hash compare, and feeds ``incremental_dedup``'s fingerprint
    maintenance.

    Reference analog: the before/after row-set reconciliation of
    pipeline/datavalidation.py, keyed on content rather than columns."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import normalize_text

    n = new.select(
        F.col(id_col).alias("id"), F.md5(normalize_text(text_col)).alias("h_new")
    )
    o = old.select(
        F.col(id_col).alias("id"), F.md5(normalize_text(text_col)).alias("h_old")
    )
    j = n.join(o, "id", "full_outer")
    return j.select(
        "id",
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_new") != F.col("h_old"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    ).filter(F.col("status") != "unchanged")


def _corpus_v2(spark, sf_dir):
    """Deterministic second snapshot: doc_id % 10 == 0 removed,
    doc_id % 7 == 0 rewritten, ids 500000+k (k<20) added."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.filter(F.col("doc_id") % 10 != 0)
    edited = kept.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2 edit"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("text")).alias("text"),
    )
    return edited.unionByName(added)


_CORPUS_DIFF_ORACLE = """
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2 edit' ELSE text END AS text
  FROM documents WHERE doc_id % 10 != 0
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, 'new doc ' || text AS text
  FROM documents WHERE doc_id < 20
),
n AS (SELECT doc_id AS id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h_new
      FROM v2),
o AS (SELECT doc_id AS id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h_old
      FROM documents)
SELECT CAST(coalesce(n.id, o.id) AS BIGINT) AS id,
       CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_new != h_old THEN 'changed'
            ELSE 'unchanged' END AS status
FROM n FULL OUTER JOIN o ON n.id = o.id
WHERE (CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_new != h_old THEN 'changed'
            ELSE 'unchanged' END) != 'unchanged'
ORDER BY 1
"""


@register("v9_corpus_diff", oracle=_CORPUS_DIFF_ORACLE)
def q_corpus_diff(spark, sf_dir):
    """Content-hash diff between the documents snapshot and a
    deterministic v2 variant (10% removed, ~14% rewritten, 20 added)."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    old = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = _corpus_v2(spark, sf_dir)
    return corpus_diff(new, old).orderBy("id")


# ---------------------------------------------------- column profiling

def column_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Deequ-style single-pass column profile: for each named column,
    ``(column, n_rows, n_null, n_distinct, min_str, max_str)``.

    Per-column statistics compute in TWO aggregate scans joined on
    their single result rows: the count(DISTINCT)s in one, everything
    else (counts, nulls, min/max) in the other. Deliberately not one:
    Catalyst rewrites multi-count-distinct via Expand×(k+1), and every
    regular aggregate sharing that operator is buffered per expanded
    distinct-value group — measured 4.8 s for 600k lineitem rows fused
    vs ~1 s split (candidate_keys documents the same trap with HLL
    buffers, where it is catastrophic). Within each scan, adding a
    column adds expressions, not passes. ``count(DISTINCT)`` is exact
    here because the profile is a certification surface; the 100 TB
    variant (``approx_count_distinct`` per column, no shape change) is
    itself certified as ``v10_column_profile_approx`` below. Min/max
    render as strings so heterogeneous column types share one report
    schema.

    The unpivot to rows happens on the single joined row."""
    if not columns:
        raise ValueError("column_profile needs at least one column")
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            # min/max on the NATIVE type, cast after — a pre-cast min
            # would order "10.0" < "9.0" lexicographically
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    nd = df.agg(
        *[F.count_distinct(F.col(c)).alias(f"__nd_{c}") for c in columns]
    )
    one = df.agg(*aggs).crossJoin(F.broadcast(nd))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_str"),
                F.col(f"__max_{c}").alias("max_str"),
            )
            for c in columns
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


_PROFILE_COLS = ["l_returnflag", "l_quantity", "l_shipdate", "l_linestatus"]

_PROFILE_ORACLE = """
WITH agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS null_rf,
         count(DISTINCT l_returnflag) AS nd_rf,
         CAST(min(l_returnflag) AS VARCHAR) AS min_rf,
         CAST(max(l_returnflag) AS VARCHAR) AS max_rf,
         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_q,
         count(DISTINCT l_quantity) AS nd_q,
         CAST(min(l_quantity) AS VARCHAR) AS min_q,
         CAST(max(l_quantity) AS VARCHAR) AS max_q,
         sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_d,
         count(DISTINCT l_shipdate) AS nd_d,
         CAST(min(l_shipdate) AS VARCHAR) AS min_d,
         CAST(max(l_shipdate) AS VARCHAR) AS max_d,
         sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS null_c,
         count(DISTINCT l_linestatus) AS nd_c,
         CAST(min(l_linestatus) AS VARCHAR) AS min_c,
         CAST(max(l_linestatus) AS VARCHAR) AS max_c
  FROM lineitem
)
SELECT * FROM (
  SELECT 'l_returnflag' AS column, CAST(n AS BIGINT) AS n_rows,
         CAST(null_rf AS BIGINT) AS n_null, CAST(nd_rf AS BIGINT) AS n_distinct,
         min_rf AS min_str, max_rf AS max_str FROM agg
  UNION ALL
  SELECT 'l_quantity', CAST(n AS BIGINT), CAST(null_q AS BIGINT),
         CAST(nd_q AS BIGINT), min_q, max_q FROM agg
  UNION ALL
  SELECT 'l_shipdate', CAST(n AS BIGINT), CAST(null_d AS BIGINT),
         CAST(nd_d AS BIGINT), min_d, max_d FROM agg
  UNION ALL
  SELECT 'l_linestatus', CAST(n AS BIGINT), CAST(null_c AS BIGINT),
         CAST(nd_c AS BIGINT), min_c, max_c FROM agg
)
ORDER BY 1
"""


@register("v10_column_profile", oracle=_PROFILE_ORACLE)
def q_column_profile(spark, sf_dir):
    """Single-pass profile of four heterogeneous lineitem columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return column_profile(li, _PROFILE_COLS).orderBy("column")


PROFILE_HLL_RSD = 0.02  # HLL++ relative standard deviation
# the 2.5-sigma check itself lives in aggregates.hll_bound_violation
# (one definition for every approx cert); only the rsd is configured here


def column_profile_approx(df: DataFrame, columns: list[str]) -> DataFrame:
    """The 100 TB form of ``column_profile``, CERTIFIED: per-column
    distinct counts come from ``approx_count_distinct`` (HLL++, rsd 2%
    — fixed-size mergeable registers instead of an exact-distinct
    hash explosion per column), with the error bound checked IN-ROW at
    5% = 2.5 sigma (the a13_sketch_error_bounds recipe). Output is the
    exact profile columns (oracle-recomputable) plus ``nd_violation``,
    which must be 0 everywhere; the exact ``count(DISTINCT)`` is
    computed here ONLY to evaluate the bound — production at scale
    keeps the sketch alone and drops the exact expression.

    The sketch scan (HLL + counts + min/max, all regular aggregates:
    one buffer per partition) is kept in a SEPARATE aggregate from the
    exact count(DISTINCT)s — fusing them puts k HLL buffers into every
    Expand distinct-value group (the candidate_keys trap: measured
    6.7 s fused vs ~1 s split on 600k rows). Production, which drops
    the exact side entirely, is the sketch scan alone."""
    from machine_learning_with_spark_streaming_spark.operators.aggregates import hll_bound_violation

    if not columns:
        raise ValueError("column_profile_approx needs at least one column")
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            F.approx_count_distinct(F.col(c), rsd=PROFILE_HLL_RSD).alias(
                f"__and_{c}"
            ),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    nd = df.agg(
        *[F.count_distinct(F.col(c)).alias(f"__nd_{c}") for c in columns]
    )
    one = df.agg(*aggs).crossJoin(F.broadcast(nd))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_str"),
                F.col(f"__max_{c}").alias("max_str"),
                hll_bound_violation(
                    F.col(f"__and_{c}"), F.col(f"__nd_{c}")
                ).alias("nd_violation"),
            )
            for c in columns
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


_PROFILE_APPROX_ORACLE = _PROFILE_ORACLE.replace(
    "min_rf AS min_str, max_rf AS max_str FROM agg",
    "min_rf AS min_str, max_rf AS max_str, CAST(0 AS INT) AS nd_violation "
    "FROM agg",
).replace(
    "CAST(nd_q AS BIGINT), min_q, max_q FROM agg",
    "CAST(nd_q AS BIGINT), min_q, max_q, CAST(0 AS INT) FROM agg",
).replace(
    "CAST(nd_d AS BIGINT), min_d, max_d FROM agg",
    "CAST(nd_d AS BIGINT), min_d, max_d, CAST(0 AS INT) FROM agg",
).replace(
    "CAST(nd_c AS BIGINT), min_c, max_c FROM agg",
    "CAST(nd_c AS BIGINT), min_c, max_c, CAST(0 AS INT) FROM agg",
)


@register("v10_column_profile_approx", oracle=_PROFILE_APPROX_ORACLE, bench=True)
def q_column_profile_approx(spark, sf_dir):
    """HLL++-backed profile of the same four lineitem columns, with the
    2.5-sigma error bound as an in-row zero-violation contract."""
    li = load_table(spark, sf_dir, "lineitem")
    return column_profile_approx(li, _PROFILE_COLS).orderBy("column")


# ------------------------------------------- candidate-key discovery


def candidate_keys(
    df: DataFrame, candidates: dict[str, list[str]]
) -> DataFrame:
    """Candidate-key discovery: for each named column set, ONE
    aggregate scan emits ``(candidate, n_rows, n_distinct,
    uniqueness_ppm, is_key, nd_violation)`` — the profiling step that
    picks dedup keys, join keys, and partition/bucket columns before a
    100 TB layout decision commits to them. Composite candidates are
    evaluated over a STRUCT/ROW of the columns — null-safe (a struct
    with a NULL member is itself non-NULL and grouping treats equal
    members as equal in both engines, where string-concat forms either
    drop NULL rows or collide on separator-bearing values) and
    collision-free. Single-column candidates count the raw column:
    both engines exclude NULL rows from count(DISTINCT), so a column
    with any NULL can never report is_key=1 — the correct verdict.

    The sketch is the 100 TB form (mergeable registers, no
    per-candidate hash explosion); the exact count exists on this
    certification surface to evaluate the 2.5-sigma bound
    (``nd_violation`` must be 0), and ``uniqueness_ppm`` / ``is_key``
    are integer-exact so the verdict cannot float-drift.

    The exact and sketch sides run as TWO aggregates joined on their
    single result rows — deliberately NOT one: Catalyst rewrites
    multiple count(DISTINCT) via Expand×(k+1), and any regular
    aggregate in the same operator (here: k HLL buffers of ~KBs each)
    is then carried in EVERY expanded distinct-group's partial buffer —
    measured 7.5 s for 150k rows before the split vs ~1 s after, and
    the gap grows with group cardinality. Split, the sketch pass has k
    buffers TOTAL and the distinct pass ships only counts. Adding a
    candidate adds expressions, never a pass."""
    from machine_learning_with_spark_streaming_spark.operators.aggregates import hll_bound_violation

    if not candidates:
        raise ValueError("candidate_keys needs at least one candidate")

    def expr_for(cols: list[str]):
        if len(cols) == 1:
            return F.col(cols[0])
        return F.struct(*[F.col(c) for c in cols])

    exact = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.count_distinct(expr_for(cols)).alias(f"__nd_{name}")
            for name, cols in candidates.items()
        ],
    )
    sketch = df.agg(
        *[
            F.approx_count_distinct(
                expr_for(cols), rsd=PROFILE_HLL_RSD
            ).alias(f"__and_{name}")
            for name, cols in candidates.items()
        ]
    )
    one = exact.crossJoin(F.broadcast(sketch))
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("candidate"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nd_{name}").alias("n_distinct"),
                F.expr(f"(__nd_{name} * 1000000) div __n").alias(
                    "uniqueness_ppm"
                ),
                (F.col(f"__nd_{name}") == F.col("__n"))
                .cast("int")
                .alias("is_key"),
                hll_bound_violation(
                    F.col(f"__and_{name}"), F.col(f"__nd_{name}")
                ).alias("nd_violation"),
            )
            for name in candidates
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


_CANDIDATES = {
    "o_orderkey": ["o_orderkey"],
    "o_custkey": ["o_custkey"],
    "o_orderdate": ["o_orderdate"],
    "custkey_orderdate": ["o_custkey", "o_orderdate"],
}


def _candidate_keys_oracle() -> str:
    def sql_expr(cols):
        if len(cols) == 1:
            return cols[0]
        return f"ROW({', '.join(cols)})"

    sums = ["count(*) AS n"] + [
        f"count(DISTINCT {sql_expr(cols)}) AS nd_{name}"
        for name, cols in _CANDIDATES.items()
    ]
    sels = [
        f"""SELECT '{name}' AS candidate, CAST(n AS BIGINT) AS n_rows,
       CAST(nd_{name} AS BIGINT) AS n_distinct,
       CAST(nd_{name} * 1000000 // n AS BIGINT) AS uniqueness_ppm,
       CAST(CASE WHEN nd_{name} = n THEN 1 ELSE 0 END AS INT) AS is_key,
       CAST(0 AS INT) AS nd_violation FROM agg"""
        for name in _CANDIDATES
    ]
    body = "\nUNION ALL\n".join(sels)
    return (
        f"WITH agg AS (SELECT {', '.join(sums)} FROM orders)\n{body}\n"
        "ORDER BY 1"
    )


@register("v23_candidate_keys", oracle=_candidate_keys_oracle(), bench=True)
def q_candidate_keys(spark, sf_dir):
    """Key discovery over orders: the true key, two non-keys, and a
    composite, with the HLL 100 TB form bound-certified in-row."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    orders = load_table(spark, sf_dir, "orders")
    return candidate_keys(orders, _CANDIDATES).orderBy("candidate")


# ------------------------------- functional-dependency discovery


def fd_report(
    df: DataFrame, fds: list[tuple[str, str]]
) -> DataFrame:
    """Functional-dependency audit: for each claimed ``det -> dep``,
    one groupBy on the determinant emits how many determinant groups
    exist, how many map to MORE than one dependent value (violations),
    and the row mass inside violating groups — the profiling
    complement to ``candidate_keys`` (keys are the FDs where the
    determinant is unique; this audits the non-key dependencies that
    normalization, dimension extraction, and dedup-canonicalization
    rely on). All-integer output.

    Scale shape: one hash aggregate per FD on its determinant (map-side
    partials; the per-group state is a count + a distinct-set bounded
    by the dependent's cardinality), then a 1-row-per-FD rollup,
    unioned across FDs. FDs sharing a determinant could share the
    shuffle; they are kept independent here for plan clarity."""
    if not fds:
        raise ValueError("fd_report needs at least one dependency")
    outs = []
    for det, dep in fds:
        g = df.groupBy(det).agg(
            F.count(F.lit(1)).alias("__rows"),
            F.count_distinct(F.col(dep)).alias("__nd"),
        )
        outs.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("__nd") > 1).cast("long")).alias(
                    "n_violating_groups"
                ),
                F.sum(
                    F.when(F.col("__nd") > 1, F.col("__rows")).otherwise(0)
                ).alias("n_violating_rows"),
            ).select(
                F.lit(f"{det}->{dep}").alias("fd"),
                F.col("n_groups").cast("long").alias("n_groups"),
                F.col("n_violating_groups").cast("long").alias(
                    "n_violating_groups"
                ),
                F.col("n_violating_rows").cast("long").alias(
                    "n_violating_rows"
                ),
                (F.col("n_violating_groups") == 0).cast("int").alias("holds"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


_FD_LIST = [
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderdate", "o_orderpriority"),
]


def _fd_oracle() -> str:
    sels = []
    for det, dep in _FD_LIST:
        sels.append(f"""
SELECT '{det}->{dep}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(CASE WHEN nd > 1 THEN rows ELSE 0 END) AS BIGINT)
         AS n_violating_rows,
       CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END AS INT) AS holds
FROM (
  SELECT {det}, count(*) AS rows, count(DISTINCT {dep}) AS nd
  FROM orders GROUP BY 1
)""")
    return "\nUNION ALL\n".join(sels) + "\nORDER BY 1"


@register("v24_fd_report", oracle=_fd_oracle(), bench=True)
def q_fd_report(spark, sf_dir):
    """FD audit over orders: the key-implied dependency plus two
    deliberately false claims, violation mass counted exactly."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    orders = load_table(spark, sf_dir, "orders")
    return fd_report(orders, _FD_LIST).orderBy("fd")


# --------------------------------- CDC log -> snapshot materialization


def cdc_apply(
    changes: DataFrame,
    key_col: str,
    op_col: str = "op",
    order_cols: tuple[str, ...] = ("ts",),
    delete_op: str = "D",
) -> DataFrame:
    """Materialize a change-data-capture log into its current snapshot:
    for each key, the LAST change in ``order_cols`` order wins; a
    terminal delete removes the key entirely. Insert/update need no
    distinction (both are upserts under last-wins), which is the
    standard CDC-merge contract (Debezium/Delta MERGE semantics).

    One window over the key partitioning — identical cost shape to the
    W4 latest-snapshot op; at 100 TB the log is typically pre-bucketed
    by key so the window reuses the layout. Deterministic total order
    required: include a tiebreaker column in ``order_cols``."""
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn")
    )


_CDC_ORACLE = """
WITH log AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN event_type = 'click' THEN 'U'
              ELSE 'I' END AS op
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       op AS last_op,
       CAST(ts AS TIMESTAMP) AS last_ts,
       round(value, 6) AS current_value
FROM ranked WHERE rn = 1 AND op <> 'D'
ORDER BY user_id
"""


@register("v12_cdc_apply", oracle=_CDC_ORACLE, bench=True)
def q_cdc_apply(spark, sf_dir):
    """CDC materialization over the events table read as a change log
    (errors = deletes, clicks = updates, the rest = inserts): keys whose
    latest change is a delete vanish from the snapshot; everyone else
    carries their last value. (event_id tie-breaks equal timestamps.)"""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    events = load_table(spark, sf_dir, "events")
    log = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "click", "U")
        .otherwise("I")
        .alias("op"),
    )
    snap = cdc_apply(log, "user_id", order_cols=("ts", "event_id"))
    return snap.select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("ts").alias("last_ts"),
        F.round("value", 6).alias("current_value"),
    ).orderBy("user_id")


# ------------------------------- robust (median/MAD) outlier screening


def mad_outlier_report(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier screening: flag rows more than
    ``k`` median-absolute-deviations from the group median — the
    standard data-cleaning gate that, unlike z-scores, is not itself
    corrupted by the outliers it hunts.

    Two passes (median, then MAD of residuals) with the group medians
    re-entering as a broadcast join; the report aggregates back to one
    row per group. Exact percentiles here; the 100 TB swap (both
    passes on ``percentile_approx``) is itself certified as
    ``v13_mad_outliers_approx`` below — the k*MAD gate is
    threshold-based, so sketch error only moves borderline rows."""
    med = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("__med")
    )
    with_med = df.join(F.broadcast(med), group_col)
    mad = with_med.groupBy(group_col).agg(
        F.percentile(
            F.abs(F.col(value_col) - F.col("__med")), F.lit(0.5)
        ).alias("__mad")
    )
    flagged = with_med.join(F.broadcast(mad), group_col).withColumn(
        "__is_out",
        (
            F.abs(F.col(value_col) - F.col("__med")) > F.lit(k) * F.col("__mad")
        ).cast("int"),
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.first("__med"), 6).alias("median"),
            F.round(F.first("__mad"), 6).alias("mad"),
            F.sum("__is_out").cast("bigint").alias("n_outliers"),
        )
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY value)
           AS med
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med))
           AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(any_value(m.med), 6) AS median,
       round(any_value(d.mad), 6) AS mad,
       CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


@register("v13_mad_outliers", oracle=_MAD_ORACLE, bench=True)
def q_mad_outliers(spark, sf_dir):
    """Per-event-type robust outlier screen over event values (3-MAD
    gate); medians, MADs, and outlier counts hash-compared."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    return (
        mad_outlier_report(events, "value", "event_type")
        .orderBy("event_type")
    )


_MAD_APPROX_ORACLE = """
SELECT event_type,
       CAST(count(value) AS BIGINT) AS n_rows,
       CAST(0 AS INT) AS v_med, CAST(0 AS INT) AS v_mad
FROM events WHERE value IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


@register("v13_mad_outliers_approx", oracle=_MAD_APPROX_ORACLE, bench=True)
def q_mad_outliers_approx(spark, sf_dir):
    """The 100 TB form of the k*MAD gate, CERTIFIED (not just
    documented in v13's docstring): both passes swap the exact
    per-group sort for ``percentile_approx`` t-digests — the group
    median, then the median of |value - median| residuals — and the
    published rank-error bound (<= n/accuracy, +1 interpolation slack)
    is checked IN-ROW for each sketch, the a13/a14 recipe. The second
    sketch's bound is checked against residuals computed from the FIRST
    sketch's output, which is exactly the quantity the gate thresholds
    at 3*MAD, so a certified v_mad=0 means borderline-row movement is
    bounded by the documented rank slack. Oracle pins exact non-null
    group counts plus the zero-violation contract.

    Scale shape: two mergeable-sketch aggregates + one counting probe
    (certification only — production keeps the two aggregates), every
    join a broadcast of group-cardinality rows."""
    from machine_learning_with_spark_streaming_spark.operators.aggregates import (
        APPROX_ACCURACY,
        rank_bound_violation,
    )
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    med = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("value", 0.5, APPROX_ACCURACY).alias("amed"),
    )
    res = ev.join(F.broadcast(med), "event_type").withColumn(
        "r", F.abs(F.col("value") - F.col("amed"))
    )
    mad = res.groupBy("event_type").agg(
        F.percentile_approx("r", 0.5, APPROX_ACCURACY).alias("amad")
    )
    counts = (
        res.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum((F.col("value") < F.col("amed")).cast("long")).alias("lt_m"),
            F.sum((F.col("value") <= F.col("amed")).cast("long")).alias("le_m"),
            F.sum((F.col("r") < F.col("amad")).cast("long")).alias("lt_r"),
            F.sum((F.col("r") <= F.col("amad")).cast("long")).alias("le_r"),
        )
    )
    def viol(lt: str, le: str):
        return rank_bound_violation(F.col(lt), F.col(le), 0.5, F.col("n"))

    return counts.select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        viol("lt_m", "le_m").alias("v_med"),
        viol("lt_r", "le_r").alias("v_mad"),
    ).orderBy("event_type")


def observe_qc(
    df: DataFrame,
    name: str,
    value_col: str,
    violation: Column | None = None,
):
    """Zero-extra-pass pipeline QC counters via Spark's observation API.

    The reference instruments every load with driver-side row counts and
    wall-clock prints (``packages/mySQLClass.py:73-89``) — which on
    Spark would mean a second full scan per metric (`df.count()` +
    `df.filter(bad).count()` before the real write). ``observe``
    attaches accumulator-backed aggregates to the SAME job: counters
    materialize as a side effect of whatever action the pipeline runs
    anyway (the write), costing zero additional passes — the only
    affordable metrics shape when the scan is 100 TB.

    Returns ``(instrumented_df, observation)``. Batch: after the
    action, ``observation.get`` yields ``n_rows``, ``n_nulls`` (NULLs
    in ``value_col``), ``value_sum``, and — when ``violation`` is given
    — ``n_violations``. Streaming: ``Observation`` objects are
    batch-only, so the metrics attach under the string ``name`` and
    ``observation`` is None — read each micro-batch's counters from the
    progress events (``query.recentProgress[i]["observedMetrics"]
    [name]``) or a ``StreamingQueryListener``.
    """
    from pyspark.sql import Observation

    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).isNull().cast("long")).alias("n_nulls"),
        F.sum(F.col(value_col)).alias("value_sum"),
    ]
    if violation is not None:
        metrics.append(
            F.sum(violation.cast("long")).alias("n_violations")
        )
    if df.isStreaming:
        return df.observe(name, *metrics), None
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


# ------------------------------------- V7 record set / A12 scalar (§2 rows)

def conformance_records(df: DataFrame, required: list[str]) -> DataFrame:
    """V7 as a RECORD SET instead of an exception: one row per required
    column with a present flag — the reportable form of
    :func:`conformance_gate` (pipeline/SqlUpload.py:76-79 logs the same
    skip-with-warning before dropping a non-conformant file). Pure
    schema metadata — no data scan; the plan is a LocalRelation."""
    spark = df.sparkSession
    have = set(df.columns)
    rows = [(c, 1 if c in have else 0) for c in sorted(required)]
    return spark.createDataFrame(rows, "required_col string, present int")


_V7_RECORDS_ORACLE = """
WITH req(required_col) AS (
  VALUES ('l_orderkey'), ('l_partkey'), ('l_quantity'), ('l_shipdate'),
         ('l_shipmode'), ('l_loadfactor')
),
cols AS (SELECT name AS col FROM pragma_table_info('lineitem'))
SELECT r.required_col,
       CAST(CASE WHEN c.col IS NULL THEN 0 ELSE 1 END AS INT) AS present
FROM req r LEFT JOIN cols c ON c.col = r.required_col
ORDER BY 1
"""


@register("v7_schema_conformance_records", oracle=_V7_RECORDS_ORACLE)
def q_schema_conformance_records(spark, sf_dir):
    """V7 gate over lineitem against a required list that includes two
    columns the table does not have (l_shipmode, l_loadfactor) — the
    violation record set the reference logs before skipping the file.
    The oracle introspects the same view's actual columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return conformance_records(
        li,
        ["l_orderkey", "l_partkey", "l_quantity", "l_shipdate",
         "l_shipmode", "l_loadfactor"],
    ).orderBy("required_col")


_A12_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS BIGINT) AS qty_total,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6)) * 100) AS BIGINT)
         AS price_cents_total
FROM lineitem
"""


@register("a12_grand_total_scalar", oracle=_A12_ORACLE)
def q_grand_total_scalar(spark, sf_dir):
    """A12: the bare grand-total scalar aggregate (no grouping) — one
    map-side-combinable pass, 1-row output. Sums run in decimal(27,6)
    (exact, order-independent) and land as BIGINT (quantities are
    integral; prices carried in cents) so the hash is engine-proof."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(27,6)"))
        .cast("long")
        .alias("qty_total"),
        (F.sum(F.col("l_extendedprice").cast("decimal(27,6)")) * 100)
        .cast("long")
        .alias("price_cents_total"),
    )


# ----------------------------------- V16: referential-integrity report

def fk_orphan_report(
    pairs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Cross-table referential-integrity suite: for each
    ``(name, child, child_key, parent, parent_key)`` relationship,
    one report row ``(fk_name, n_child_rows, n_orphan_rows,
    n_orphan_keys, passed)`` — the FK companion to the single-table
    ``constraint_report`` (together they are the Deequ-style gate the
    reference runs as require-columns + row-count SQL checks,
    pipeline/lib.py:196-202, datavalidation.py).

    Scale shape per FK: the child collapses to DISTINCT keys with
    per-key row counts FIRST (partial aggregation — the join moves
    keys, never child rows), then a left-anti join against the
    parent's distinct keys finds orphans. Small parents broadcast
    automatically under AQE; the one-row summaries union driver-free.
    NULL child keys count as orphan rows (they reference nothing) but
    not as orphan keys."""
    outs = []
    for name, child, ckey, parent, pkey in pairs:
        ck = child.groupBy(F.col(ckey).alias("__k")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        pk = parent.select(F.col(pkey).alias("__k")).distinct()
        orphans = ck.filter(F.col("__k").isNotNull()).join(
            pk, "__k", "left_anti"
        )
        null_rows = ck.filter(F.col("__k").isNull()).agg(
            F.coalesce(F.sum("__c"), F.lit(0)).alias("__nullc")
        )
        summary = (
            orphans.agg(
                F.coalesce(F.sum("__c"), F.lit(0)).alias("__orc"),
                F.count(F.lit(1)).alias("n_orphan_keys"),
            )
            .crossJoin(ck.agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("n_child_rows")))
            .crossJoin(null_rows)
            .select(
                F.lit(name).alias("fk_name"),
                F.col("n_child_rows").cast("long").alias("n_child_rows"),
                (F.col("__orc") + F.col("__nullc"))
                .cast("long")
                .alias("n_orphan_rows"),
                F.col("n_orphan_keys").cast("long").alias("n_orphan_keys"),
                ((F.col("__orc") + F.col("__nullc")) == 0).alias("passed"),
            )
        )
        outs.append(summary)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


_V16_ORACLE = """
WITH rel AS (
  SELECT 'customer_nation' AS fk_name,
         (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child_rows,
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM (
            SELECT c_nationkey AS k, count(*) AS cnt FROM customer GROUP BY 1
          ) WHERE k IS NULL OR k NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)) AS n_orphan_rows,
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_nationkey IS NOT NULL
          ) WHERE k NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)) AS n_orphan_keys
  UNION ALL
  SELECT 'events_user_customer',
         (SELECT CAST(count(*) AS BIGINT) FROM events),
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM (
            SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1
          ) WHERE k IS NULL OR k NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)),
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT DISTINCT user_id AS k FROM events WHERE user_id IS NOT NULL
          ) WHERE k NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
  UNION ALL
  SELECT 'lineitem_orders',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM (
            SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
          ) WHERE k IS NULL OR k NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)),
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_orderkey IS NOT NULL
          ) WHERE k NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL))
  UNION ALL
  SELECT 'orders_customer',
         (SELECT CAST(count(*) AS BIGINT) FROM orders),
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM (
            SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1
          ) WHERE k IS NULL OR k NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)),
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL
          ) WHERE k NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
)
SELECT fk_name, n_child_rows, n_orphan_rows, n_orphan_keys,
       n_orphan_rows = 0 AS passed
FROM rel ORDER BY fk_name
"""


@register("v16_referential_integrity", oracle=_V16_ORACLE, bench=True)
def q_referential_integrity(spark, sf_dir):
    """FK-orphan report over four relationships: the three intact
    TPC-H chains (lineitem->orders->customer->nation) plus the
    deliberately-broken events.user_id->customer.c_custkey mapping,
    so both the all-pass and the orphan-counting paths run."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")
    return fk_orphan_report(
        [
            ("customer_nation", cu, "c_nationkey", na, "n_nationkey"),
            ("events_user_customer", ev, "user_id", cu, "c_custkey"),
            ("lineitem_orders", li, "l_orderkey", od, "o_orderkey"),
            ("orders_customer", od, "o_custkey", cu, "c_custkey"),
        ]
    ).orderBy("fk_name")


# ------------------------------- V17: exact two-sample KS drift

KS_BUCKETS = 256


def ks_drift(
    df: DataFrame, value_col: str, old_cond: "F.Column"
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the rows
    where ``old_cond`` holds and the rest — the distribution-level
    drift gate next to v14's binned histogram deltas (KS is binning-free:
    the max ECDF gap over every observed value).

    Exactness: with integer cumulative counts, ``|F_old - F_new|``
    maximizes where ``|cum_old*n_new - cum_new*n_old|`` does — all
    BIGINT, no float comparisons; only the final reported ratio is
    rounded.

    Scale shape — the distributed prefix-sum pattern (same family as
    the length-bucket boundary broadcast): global cumulative counts
    need a total order, but a single-partition window is the audit's
    canonical reject. Instead: (1) per-value counts (one shuffle);
    (2) 256 range buckets over the observed min..max, per-bucket
    subtotals (tiny aggregate) collected and turned into per-bucket
    PREFIX OFFSETS — a bounded 256-row driver scalar, data-size-
    independent; (3) a window PARTITIONED by bucket adds within-bucket
    cumulatives to the broadcast offsets. Bucketing is monotone in the
    value, so bucket-then-value order equals global value order and
    the result is bucket-boundary-invariant."""
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum(F.when(old_cond, 1).otherwise(0)).alias("c_old"),
            F.sum(F.when(old_cond, 0).otherwise(1)).alias("c_new"),
        )
    )
    g = g.localCheckpoint(eager=True)  # reused by range agg + both phases
    _RESULT_SCHEMA = "n_old long, n_new long, d_num long, ks_d double"
    lo, hi = g.agg(F.min("v"), F.max("v")).collect()[0]
    if lo is None:
        # empty or all-NULL value column: no observed values, no ECDF —
        # emit the zero report instead of crashing on (hi - lo)
        return df.sparkSession.createDataFrame([(0, 0, 0, None)], _RESULT_SCHEMA)
    width = (hi - lo) / KS_BUCKETS or 1.0
    bucket = F.least(
        F.lit(KS_BUCKETS - 1),
        F.floor((F.col("v") - F.lit(lo)) / F.lit(width)),
    ).cast("int")
    gb = g.withColumn("b", bucket)
    subtotals = sorted(
        gb.groupBy("b")
        .agg(F.sum("c_old").alias("so"), F.sum("c_new").alias("sn"))
        .collect()
    )  # bounded: <= 256 rows regardless of data size
    offsets, acc_o, acc_n = [], 0, 0
    for b, so, sn in subtotals:
        offsets.append((b, acc_o, acc_n))
        acc_o, acc_n = acc_o + so, acc_n + sn
    n_old, n_new = acc_o, acc_n
    if n_old == 0 or n_new == 0:
        # one-sided sample: both ECDF gaps are trivially 0 and the
        # normalizer n_old*n_new is 0 — KS is undefined; report the
        # observed counts with a NULL statistic rather than dividing
        return df.sparkSession.createDataFrame(
            [(n_old, n_new, 0, None)], _RESULT_SCHEMA
        )
    off = F.broadcast(
        gb.sparkSession.createDataFrame(
            offsets, "b int, off_old long, off_new long"
        )
    )
    w = Window.partitionBy("b").orderBy("v")
    cum = (
        gb.join(off, "b")
        .withColumn("cum_old", F.sum("c_old").over(w) + F.col("off_old"))
        .withColumn("cum_new", F.sum("c_new").over(w) + F.col("off_new"))
    )
    num = F.abs(
        F.col("cum_old") * F.lit(n_new) - F.col("cum_new") * F.lit(n_old)
    )
    return cum.agg(
        F.lit(n_old).cast("long").alias("n_old"),
        F.lit(n_new).cast("long").alias("n_new"),
        F.max(num).cast("long").alias("d_num"),
        (
            F.round(F.max(num) / F.lit(float(n_old) * float(n_new)), 6)
            + F.lit(0.0)
        ).alias("ks_d"),
    )


_V17_ORACLE = """
WITH e AS (
  SELECT value AS v, day(ts) <= 15 AS old
  FROM events WHERE value IS NOT NULL
),
g AS (
  SELECT v,
         CAST(count(*) FILTER (WHERE old) AS BIGINT) AS c_old,
         CAST(count(*) FILTER (WHERE NOT old) AS BIGINT) AS c_new
  FROM e GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
         CAST(sum(c_new) AS BIGINT) AS n_new
  FROM g
),
c AS (
  SELECT CAST(sum(c_old) OVER (ORDER BY v) AS BIGINT) AS cum_old,
         CAST(sum(c_new) OVER (ORDER BY v) AS BIGINT) AS cum_new
  FROM g
)
SELECT n_old, n_new,
       CAST(max(abs(cum_old * n_new - cum_new * n_old)) AS BIGINT) AS d_num,
       round(max(abs(cum_old * n_new - cum_new * n_old))
             / (1.0 * n_old * n_new), 6) + 0.0 AS ks_d
FROM c, tot GROUP BY 1, 2
"""


@register("v17_ks_drift", oracle=_V17_ORACLE, bench=True)
def q_ks_drift(spark, sf_dir):
    """Exact KS statistic between first-half-of-month and
    second-half event values — integer-exact max ECDF gap."""
    ev = load_table(spark, sf_dir, "events")
    return ks_drift(ev, "value", F.dayofmonth("ts") <= 15)


# ----------------------- V19: observed metrics as a certified query

_V19_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(sum(CASE WHEN n_chars >= 100 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_violations,
       CAST((SELECT count(*) FROM documents WHERE n_chars >= 100)
            AS BIGINT) AS n_kept_downstream
FROM documents
"""


@register("v19_observed_metrics", oracle=_V19_ORACLE, bench=True)
def q_observed_metrics(spark, sf_dir):
    """Observed in-flight metrics, driver-certified: a quality gate
    counts rows/pass/violations DURING the downstream job (Spark
    ``Observation`` — an AggregatingAccumulator riding the pass the
    pipeline already makes), with ZERO extra scans. The returned row
    carries the observation's counters plus the downstream count the
    single action produced; the oracle recomputes all four from the
    table, so the certification pins that observe() sees every row of
    the very job it rides (reference analog: runner.py's stage row
    prints, here for free)."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    cond = F.col("n_chars") >= 100
    observed, obs = observe_metrics(docs, "gate", observed_gate_metrics(cond))
    n_kept = observed.filter(cond).count()  # the ONLY job
    got = obs.get
    return docs.sparkSession.createDataFrame(
        [
            (
                int(got["n_rows"]),
                int(got["n_pass"]),
                int(got["n_violations"]),
                int(n_kept),
            )
        ],
        "n_rows long, n_pass long, n_violations long, n_kept_downstream long",
    )


# ----------------------- V20: PSI (population stability index) drift

PSI_BINS = 16


def psi_drift(
    df: DataFrame, value_col: str, old_cond: "F.Column", n_bins: int = PSI_BINS
) -> DataFrame:
    """Population Stability Index between the rows where ``old_cond``
    holds (baseline) and the rest (current) — the industry-standard
    model-monitoring drift score (PSI < 0.1 stable, 0.1-0.25 shifting,
    > 0.25 drifted), complementing v14's raw histogram deltas and v17's
    binning-free KS: PSI weights each bin's share shift by the
    log-ratio, so it reacts to WHERE the mass moved, not just how much.

    Bins are equi-width over the observed global min..max (both exact
    data values, so bucket edges are bit-identical cross-engine).
    Laplace smoothing ``(c+1)/(n+bins)`` keeps empty bins finite —
    the standard fix, and deterministic. Per-bin terms are rounded to
    6 dp BEFORE the total sums them: a sum of 16 arbitrary doubles is
    summation-order-dependent across engines, but a sum of 6-dp-rounded
    terms is ~1e-15 from a 6-dp lattice point and re-rounds identically.

    ALL ``n_bins`` bins are scored, not just the observed ones: the
    grouped counts are left-joined back onto a literal 0..n_bins-1 grid
    (16 rows, broadcast) before terms are computed, because Laplace
    smoothing gives an EMPTY bin a nonzero term whenever n_old != n_new
    — omitting double-empty bins understates the statistic on
    size-skewed splits (and would disagree with the streaming monitor,
    which has always scored the full grid).

    Scale shape: one groupBy(bucket) after a broadcast (lo, hi) scalar —
    two scans, no window, no sort; output is n_bins+1 rows regardless
    of input size."""
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("v"),
        F.when(old_cond, 1).otherwise(0).alias("is_old"),
    )
    lo, hi = base.agg(F.min("v"), F.max("v")).collect()[0]
    if lo is None:
        return df.sparkSession.createDataFrame(
            [], "bin int, c_old long, c_new long, psi_term double"
        )
    width = (hi - lo) / n_bins or 1.0
    b = F.least(
        F.lit(n_bins - 1), F.floor((F.col("v") - F.lit(lo)) / F.lit(width))
    ).cast("int")
    observed = base.groupBy(b.alias("bin")).agg(
        F.sum("is_old").cast("long").alias("c_old"),
        (F.count(F.lit(1)) - F.sum("is_old")).cast("long").alias("c_new"),
    )
    grid = df.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    counts = grid.join(F.broadcast(observed), "bin", "left").select(
        "bin",
        F.coalesce("c_old", F.lit(0)).cast("long").alias("c_old"),
        F.coalesce("c_new", F.lit(0)).cast("long").alias("c_new"),
    )
    n_old, n_new = counts.agg(F.sum("c_old"), F.sum("c_new")).collect()[0]
    p_old = (F.col("c_old") + 1) / F.lit(float(n_old + n_bins))
    p_new = (F.col("c_new") + 1) / F.lit(float(n_new + n_bins))
    terms = counts.select(
        "bin",
        "c_old",
        "c_new",
        (F.round((p_new - p_old) * F.log(p_new / p_old), 6) + F.lit(0.0)).alias(
            "psi_term"
        ),
    )
    total = terms.agg(
        F.lit(-1).cast("int").alias("bin"),
        F.sum("c_old").cast("long").alias("c_old"),
        F.sum("c_new").cast("long").alias("c_new"),
        (F.round(F.sum("psi_term"), 6) + F.lit(0.0)).alias("psi_term"),
    )
    return terms.unionByName(total)


_V20_ORACLE = f"""
WITH base AS (
  SELECT value AS v, CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_old
  FROM events WHERE value IS NOT NULL
),
ext AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
observed AS (
  SELECT CAST(least({PSI_BINS - 1},
              floor((v - lo) / (CASE WHEN (hi - lo) / {PSI_BINS} = 0
                                     THEN 1.0 ELSE (hi - lo) / {PSI_BINS} END)))
         AS INT) AS bin,
         CAST(sum(is_old) AS BIGINT) AS c_old,
         CAST(count(*) - sum(is_old) AS BIGINT) AS c_new
  FROM base, ext GROUP BY 1
),
grid AS (SELECT CAST(range AS INT) AS bin FROM range({PSI_BINS})),
counts AS (
  SELECT g.bin, CAST(COALESCE(o.c_old, 0) AS BIGINT) AS c_old,
         CAST(COALESCE(o.c_new, 0) AS BIGINT) AS c_new
  FROM grid g LEFT JOIN observed o USING (bin)
),
tot AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new FROM counts),
terms AS (
  SELECT bin, c_old, c_new,
         round(((c_new + 1) / (n_new + {PSI_BINS}.0)
                - (c_old + 1) / (n_old + {PSI_BINS}.0))
               * ln(((c_new + 1) / (n_new + {PSI_BINS}.0))
                    / ((c_old + 1) / (n_old + {PSI_BINS}.0))), 6) + 0.0
           AS psi_term
  FROM counts, tot
)
SELECT * FROM terms
UNION ALL
SELECT CAST(-1 AS INT), CAST(sum(c_old) AS BIGINT), CAST(sum(c_new) AS BIGINT),
       round(sum(psi_term), 6) + 0.0
FROM terms
ORDER BY 1
"""


@register("v20_psi_drift", oracle=_V20_ORACLE, bench=True)
def q_psi_drift(spark, sf_dir):
    """PSI between first-half-of-month and second-half event values:
    16 equi-width bins, Laplace-smoothed shares, per-bin terms plus the
    bin=-1 total row."""
    ev = load_table(spark, sf_dir, "events")
    return psi_drift(ev, "value", F.dayofmonth("ts") <= 15).orderBy("bin")


# --------------------- V21: Benford first-digit distribution audit

# P(d) = log10(1 + 1/d), in exact ppm (rounded half-up at the 6th place)
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_digits(df: DataFrame, amount_col: str) -> DataFrame:
    """First-significant-digit audit against Benford's law — the classic
    anomaly screen for amount columns (fabricated or capped values skew
    the leading-digit distribution). All-integer output: observed ppm by
    integer division, expected ppm as committed literals, so the report
    is bit-exact cross-engine.

    The digit is taken from the DECIMAL STRING of the integer cents
    (first character), not via log10 — floor(log10(x)) can flip at
    exact powers of ten across engines; string heads cannot.

    Scale shape: map + one groupBy over at most 9 keys (partial agg
    does all the work map-side); the broadcast expected table is a
    9-row literal."""
    cents = F.round(F.col(amount_col) * 100).cast("long")
    d = F.substring(F.abs(cents).cast("string"), 1, 1).cast("int")
    base = df.filter(F.col(amount_col).isNotNull() & (F.abs(cents) > 0))
    counts = base.groupBy(d.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    n = base.count()
    if n == 0:
        # no nonzero amounts: emit the 9 expected rows with zero
        # observations instead of dividing by zero
        return df.sparkSession.createDataFrame(
            [(dd, 0, 0, p, p) for dd, p in sorted(BENFORD_PPM.items())],
            "digit int, n_obs long, obs_ppm long, benford_ppm long, "
            "abs_delta_ppm long",
        )
    exp = df.sparkSession.createDataFrame(
        sorted(BENFORD_PPM.items()), "digit int, benford_ppm long"
    )
    obs_ppm = (F.col("n_obs") * 1000000) / F.lit(n)
    return (
        exp.join(F.broadcast(counts), "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.floor(F.coalesce(obs_ppm, F.lit(0))).cast("long").alias("obs_ppm"),
            "benford_ppm",
            F.abs(
                F.floor(F.coalesce(obs_ppm, F.lit(0))) - F.col("benford_ppm")
            ).cast("long").alias("abs_delta_ppm"),
        )
    )


def _benford_values() -> str:
    return ", ".join(f"({d}, {p})" for d, p in sorted(BENFORD_PPM.items()))


_V21_ORACLE = f"""
WITH base AS (
  SELECT substr(CAST(abs(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS VARCHAR), 1, 1)::INT AS digit
  FROM orders
  WHERE o_totalprice IS NOT NULL
    AND abs(CAST(round(o_totalprice * 100) AS BIGINT)) > 0
),
counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM base GROUP BY 1),
n AS (SELECT count(*) AS n FROM base),
exp(digit, benford_ppm) AS (VALUES {_benford_values()})
SELECT e.digit, CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
       CAST(floor(coalesce(c.n_obs, 0) * 1000000.0 / n.n) AS BIGINT) AS obs_ppm,
       CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
       CAST(abs(floor(coalesce(c.n_obs, 0) * 1000000.0 / n.n)
                - e.benford_ppm) AS BIGINT) AS abs_delta_ppm
FROM exp e LEFT JOIN counts c USING (digit), n
ORDER BY 1
"""


@register("v21_benford_digits", oracle=_V21_ORACLE, bench=True)
def q_benford_digits(spark, sf_dir):
    """Benford first-digit audit of order totals (integer-cents string
    heads, all-ppm integer report)."""
    od = load_table(spark, sf_dir, "orders")
    return benford_digits(od, "o_totalprice").orderBy("digit")


# ---------------- V22: time-series continuity gap report (missing days)

def time_gap_report(
    df: DataFrame, key: str, ts_col: str
) -> DataFrame:
    """Missing-day gaps per key — the continuity audit run BEFORE
    gap-filling ops (r5 LOCF / r6 interpolation) decide what to fill,
    and the ingestion-health check that catches a feed that silently
    skipped days. One distinct-days aggregate, then a lead() window per
    key over day-level rows (≤ span-days per key, never raw events);
    each output row is one contiguous hole: (gap_start, gap_end,
    n_missing_days). All dates and integer day counts — bit-exact."""
    days = (
        df.filter(F.col(ts_col).isNotNull())
        .select(F.col(key).alias("k"), F.col(ts_col).cast("date").alias("d"))
        .distinct()
    )
    nxt = F.lead("d").over(Window.partitionBy("k").orderBy("d"))
    return (
        days.withColumn("__next", nxt)
        .filter(F.datediff("__next", F.col("d")) > 1)
        .select(
            F.col("k").alias(key),
            F.date_add(F.col("d"), 1).alias("gap_start"),
            F.date_sub(F.col("__next"), 1).alias("gap_end"),
            (F.datediff("__next", F.col("d")) - 1)
            .cast("long")
            .alias("n_missing_days"),
        )
    )


_V22_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS d
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND user_id % 29 = 0
),
g AS (
  SELECT k, d, lead(d) OVER (PARTITION BY k ORDER BY d) AS nxt
  FROM days
)
SELECT CAST(k AS BIGINT) AS user_id,
       CAST(d + INTERVAL 1 DAY AS DATE) AS gap_start,
       CAST(nxt - INTERVAL 1 DAY AS DATE) AS gap_end,
       CAST(datediff('day', d, nxt) - 1 AS BIGINT) AS n_missing_days
FROM g
WHERE datediff('day', d, nxt) > 1
ORDER BY 1, 2
"""


@register("v22_time_gap_report", oracle=_V22_ORACLE, bench=True)
def q_time_gap_report(spark, sf_dir):
    """Per-USER activity-gap report (users are the naturally sparse
    key — per-event-type days are gapless at every SF): each row is one
    contiguous run of missing days in a user's activity. A fixed
    user_id % 29 slice keeps the report inspection-sized while both
    engines see the identical feed."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & (F.col("user_id") % 29 == 0)
    )
    return time_gap_report(ev, "user_id", "ts").orderBy("user_id", "gap_start")


# ---------------- drift monitor: KS + PSI + L1 on one split, one report

DRIFT_KS_ALARM = 0.1
DRIFT_PSI_ALARM = 0.25
DRIFT_L1_PPM_ALARM = 200000


def drift_monitor(
    df: DataFrame, value_col: str, old_cond: "F.Column"
) -> DataFrame:
    """One drift verdict table from the three certified gates run on the
    SAME baseline/current split: KS (binning-free max ECDF gap — most
    sensitive to location shifts), PSI (log-weighted share movement —
    the industry gate with standard thresholds), and the L1 histogram
    distance in ppm (the blunt total-variation bound). Monitoring runs
    all three because they disagree usefully: KS fires on a median
    shift PSI smooths over; PSI fires on tail mass L1 underweights.

    Each gate's statistic is computed by the SAME code path its
    standalone certification covers (`ks_drift`, `psi_drift`; L1 derives
    from psi_drift's own bin counts) — the composition adds thresholds
    and the union, nothing numeric. Output: (gate, value, alarm)."""
    ks = ks_drift(df, value_col, old_cond).select(
        F.lit("ks_d").alias("gate"),
        F.col("ks_d").alias("value"),
        (F.col("ks_d") > DRIFT_KS_ALARM).cast("int").alias("alarm"),
    )
    psi_rows = psi_drift(df, value_col, old_cond)
    psi = psi_rows.filter(F.col("bin") == -1).select(
        F.lit("psi").alias("gate"),
        F.col("psi_term").alias("value"),
        (F.col("psi_term") > DRIFT_PSI_ALARM).cast("int").alias("alarm"),
    )
    bins = psi_rows.filter(F.col("bin") >= 0)
    tot = bins.agg(
        F.sum("c_old").alias("t_old"), F.sum("c_new").alias("t_new")
    )
    l1 = (
        bins.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.expr("c_new * 1000000L div t_new")
                - F.expr("c_old * 1000000L div t_old")
            ).alias("__d")
        )
        .agg(
            F.lit("l1_ppm").alias("gate"),
            F.sum("__d").cast("double").alias("value"),
        )
        .select(
            "gate",
            "value",
            (F.col("value") > DRIFT_L1_PPM_ALARM).cast("int").alias("alarm"),
        )
    )
    return ks.unionByName(psi).unionByName(l1)


def _drift_monitor_oracle() -> str:
    # shares the v17/v20 CTE math on the identical split; the composition
    # re-derives each statistic the way its standalone oracle does
    return f"""
WITH base AS (
  SELECT value AS v, CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_old
  FROM events WHERE value IS NOT NULL
),
g AS (
  SELECT v, CAST(sum(is_old) AS BIGINT) AS c_old,
         CAST(count(*) - sum(is_old) AS BIGINT) AS c_new
  FROM base GROUP BY 1
),
tot AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new FROM g),
c AS (
  SELECT CAST(sum(c_old) OVER (ORDER BY v) AS BIGINT) AS cum_old,
         CAST(sum(c_new) OVER (ORDER BY v) AS BIGINT) AS cum_new
  FROM g
),
ks AS (
  SELECT round(max(abs(cum_old * n_new - cum_new * n_old))
               / (1.0 * n_old * n_new), 6) + 0.0 AS ks_d
  FROM c, tot GROUP BY n_old, n_new
),
ext AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
observed AS (
  SELECT CAST(least({PSI_BINS - 1},
              floor((v - lo) / (CASE WHEN (hi - lo) / {PSI_BINS} = 0
                                     THEN 1.0 ELSE (hi - lo) / {PSI_BINS} END)))
         AS INT) AS bin,
         CAST(sum(is_old) AS BIGINT) AS c_old,
         CAST(count(*) - sum(is_old) AS BIGINT) AS c_new
  FROM base, ext GROUP BY 1
),
grid AS (SELECT CAST(range AS INT) AS bin FROM range({PSI_BINS})),
counts AS (
  SELECT g.bin, CAST(COALESCE(o.c_old, 0) AS BIGINT) AS c_old,
         CAST(COALESCE(o.c_new, 0) AS BIGINT) AS c_new
  FROM grid g LEFT JOIN observed o USING (bin)
),
ctot AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new FROM counts),
terms AS (
  SELECT round(((c_new + 1) / (n_new + {PSI_BINS}.0)
                - (c_old + 1) / (n_old + {PSI_BINS}.0))
               * ln(((c_new + 1) / (n_new + {PSI_BINS}.0))
                    / ((c_old + 1) / (n_old + {PSI_BINS}.0))), 6) AS t,
         abs((c_new * 1000000) // n_new - (c_old * 1000000) // n_old) AS d
  FROM counts, ctot
),
psi AS (SELECT round(sum(t), 6) + 0.0 AS psi FROM terms),
l1 AS (SELECT CAST(sum(d) AS DOUBLE) + 0.0 AS l1 FROM terms)
SELECT 'ks_d' AS gate, ks_d AS value,
       CAST(CASE WHEN ks_d > {DRIFT_KS_ALARM} THEN 1 ELSE 0 END AS INT)
         AS alarm FROM ks
UNION ALL
SELECT 'psi', psi,
       CAST(CASE WHEN psi > {DRIFT_PSI_ALARM} THEN 1 ELSE 0 END AS INT)
FROM psi
UNION ALL
SELECT 'l1_ppm', l1,
       CAST(CASE WHEN l1 > {DRIFT_L1_PPM_ALARM} THEN 1 ELSE 0 END AS INT)
FROM l1
ORDER BY 1
"""


@register("pipeline_drift_monitor", oracle=_drift_monitor_oracle(), bench=True)
def q_drift_monitor(spark, sf_dir):
    """The three drift gates (KS, PSI, L1-ppm) on the first-vs-second
    half-of-month event-value split, as one thresholded verdict table."""
    ev = load_table(spark, sf_dir, "events")
    return drift_monitor(ev, "value", F.dayofmonth("ts") <= 15).orderBy("gate")
