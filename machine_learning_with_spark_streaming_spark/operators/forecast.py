"""Per-key smoothing-parameter selection for the Brown forecaster.

The reference forecasts per material with a per-series parameter sweep
(packages/myConversionsClass.py:544 spreading: each material gets its own
fitted spread/smooth shape); the fixed alpha=1/2 of w13 (operators/
windows.py:786) is one point of that sweep. This module runs the whole
grid DISTRIBUTED: every (key, alpha) pair is evaluated by a one-step
backtest over the key's daily series, and each key keeps the alpha that
minimizes its mean absolute error — the "per-material best smoother"
report a demand-planning run publishes.

Why a grid and not a solver: exponential-smoothing SSE in alpha is cheap
to evaluate and non-convex in general; production systems (and the
reference's spreadsheet lineage) sweep a small fixed grid. A grid of G
alphas costs G extra *column expressions* over the SAME key-partitioned
sort — Catalyst plans all of them inside two Window operators behind ONE
exchange, so the grid is free of extra shuffles (G scales compute, not
data movement).

Cross-engine exactness (the w11/w13 contract, per grid point): daily
means from exact integer cents; the truncated general-alpha EWMA weights
``alpha * (1-alpha)^j`` are computed ONCE in Python and embedded as
identical double literals in both the Spark expression tree and the
DuckDB oracle SQL (repr round-trips doubles exactly); forecasts round to
6 dp; errors floor to integer micro-units before any aggregation; the
argmin compares integers with ties to the smallest alpha. Nothing
engine-ordered ever crosses the hash."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.windows import (
    EWMA_LAGS,
    _daily_mean_series,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

# the sweep: mild / w13-default / aggressive smoothing
ALPHA_GRID = (0.3, 0.5, 0.7)


def _alpha_weights(alpha: float) -> list[float]:
    """Truncated-EWMA weights ``alpha * (1-alpha)^j`` for the trailing
    EWMA_LAGS terms, as plain Python doubles — the single source both
    the Spark expression and the oracle SQL embed."""
    return [alpha * (1.0 - alpha) ** j for j in range(EWMA_LAGS)]


def _trunc_ewma_alpha(col_name: str, w, alpha: float) -> "F.Column":
    """General-alpha form of windows._trunc_ewma: same fixed-window
    truncation and present-term renormalization, weights from
    ``_alpha_weights`` as double literals."""
    num, den = F.lit(0.0), F.lit(0.0)
    for j, wt in enumerate(_alpha_weights(alpha)):
        term = F.lag(col_name, j).over(w)
        num = num + F.coalesce(term, F.lit(0.0)) * F.lit(wt)
        den = den + F.when(term.isNotNull(), F.lit(wt)).otherwise(0.0)
    return num / den


def _trunc_ewma_alpha_sql(col: str, alpha: float) -> tuple[str, str]:
    """SQL twin of ``_trunc_ewma_alpha`` — same literals via repr."""
    nums, dens = [], []
    for j, wt in enumerate(_alpha_weights(alpha)):
        t = f"lag({col}, {j}) OVER w"
        nums.append(f"coalesce({t}, 0.0) * {wt!r}")
        dens.append(f"CASE WHEN {t} IS NOT NULL THEN {wt!r} ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


def _permille(alpha: float) -> int:
    return int(round(alpha * 1000))


def holt_alpha_grid(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alphas: tuple[float, ...] = ALPHA_GRID,
) -> DataFrame:
    """Per-key best Brown smoothing parameter by one-step backtest.

    For each alpha in the grid: S1 = EWMA_a(y), S2 = EWMA_a(S1),
    forecast = (2*S1 - S2) + (a/(1-a))*(S1 - S2) (Brown's level+trend),
    evaluated against the NEXT PRESENT day's actual (w14's pairing —
    gap days produce no pair). Per key the report keeps the alpha with
    the smallest integer-micro MAE (ties to the smallest alpha) plus
    that alpha's MAE and bias.

    Plan shape: one (key, day) rollup shuffle, then ONE exchange
    feeding two Window operators (all G first-pass smoothings are
    sibling expressions in the first, all G second-pass smoothings in
    the second), then a per-key partial-agg shuffle over G*2 integer
    columns. Grid size multiplies codegen'd column work only — at
    100 TB the cost is identical to running w13 G times but the data
    moves once."""
    daily = _daily_mean_series(df, key, ts_col, value_col)
    w = Window.partitionBy(key).orderBy("day")
    pass1 = daily.select(
        F.col(key),
        F.col("day"),
        F.col("mean_value"),
        F.lead("mean_value", 1).over(w).alias("__actual_raw"),
        *[
            _trunc_ewma_alpha("mean_value", w, a).alias(f"__s1_{_permille(a)}")
            for a in alphas
        ],
    )
    err_cols = []
    sel = [F.col(key)]
    for a in alphas:
        p = _permille(a)
        s1 = F.col(f"__s1_{p}")
        s2 = _trunc_ewma_alpha(f"__s1_{p}", w, a)
        c = a / (1.0 - a)
        forecast = (2.0 * s1 - s2) + F.lit(c) * (s1 - s2)
        err = F.round(
            (F.round("__actual_raw", 6) - F.round(forecast, 6)) * 1e6
        ).cast("long")
        err_cols.append(err.alias(f"__e_{p}"))
        sel.append(F.col(f"__e_{p}"))
    paired = (
        pass1.select(key, "day", "__actual_raw", *[
            F.col(f"__s1_{_permille(a)}") for a in alphas
        ], *err_cols)
        .filter(F.col("__actual_raw").isNotNull())
        .select(*sel)
    )
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    for a in alphas:
        p = _permille(a)
        aggs.append(F.expr(f"sum(abs(__e_{p})) div count(1)").alias(f"__mae_{p}"))
        aggs.append(F.expr(f"sum(__e_{p}) div count(1)").alias(f"__bias_{p}"))
    stats = paired.groupBy(key).agg(*aggs)
    mae_cols = [F.col(f"__mae_{_permille(a)}") for a in alphas]
    best = mae_cols[0] if len(mae_cols) == 1 else F.least(*mae_cols)
    alpha_pick = None
    bias_pick = None
    for a in alphas:
        p = _permille(a)
        cond = F.col(f"__mae_{p}") == best
        alpha_pick = (
            F.when(cond, F.lit(p))
            if alpha_pick is None
            else alpha_pick.when(cond, F.lit(p))
        )
        bias_pick = (
            F.when(cond, F.col(f"__bias_{p}"))
            if bias_pick is None
            else bias_pick.when(cond, F.col(f"__bias_{p}"))
        )
    return stats.select(
        F.col(key),
        F.col("n_pairs"),
        alpha_pick.cast("int").alias("best_alpha_permille"),
        best.cast("long").alias("mae_micros"),
        bias_pick.cast("long").alias("bias_micros"),
    )


def _grid_oracle(alphas: tuple[float, ...] = ALPHA_GRID) -> str:
    s1_exprs, s2_exprs, err_exprs, agg_exprs = [], [], [], []
    for a in alphas:
        p = _permille(a)
        n1, d1 = _trunc_ewma_alpha_sql("mean_value", a)
        s1_exprs.append(f"({n1}) / ({d1}) AS __s1_{p}")
        n2, d2 = _trunc_ewma_alpha_sql(f"__s1_{p}", a)
        s2_exprs.append(f"({n2}) / ({d2}) AS __s2_{p}")
        c = a / (1.0 - a)
        fc = f"(2.0 * __s1_{p} - __s2_{p}) + {c!r} * (__s1_{p} - __s2_{p})"
        err_exprs.append(
            f"CAST(round((round(__actual_raw, 6) - round({fc}, 6)) * 1e6)"
            f" AS BIGINT) AS __e_{p}"
        )
        agg_exprs.append(f"sum(abs(__e_{p})) // count(*) AS __mae_{p}")
        agg_exprs.append(f"sum(__e_{p}) // count(*) AS __bias_{p}")
    maes = ", ".join(f"__mae_{_permille(a)}" for a in alphas)
    alpha_case = " ".join(
        f"WHEN __mae_{_permille(a)} = __best THEN {_permille(a)}"
        for a in alphas
    )
    bias_case = " ".join(
        f"WHEN __mae_{_permille(a)} = __best THEN __bias_{_permille(a)}"
        for a in alphas
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
series AS (SELECT event_type, day, cents / 100.0 / n AS mean_value FROM daily),
p1 AS (
  SELECT event_type, day, mean_value,
         lead(mean_value, 1) OVER w AS __actual_raw,
         {", ".join(s1_exprs)}
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
p2 AS (
  SELECT event_type, day, __actual_raw,
         {", ".join(f"__s1_{_permille(a)}" for a in alphas)},
         {", ".join(s2_exprs)}
  FROM p1
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
errs AS (
  SELECT event_type, {", ".join(err_exprs)}
  FROM p2 WHERE __actual_raw IS NOT NULL
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         {", ".join(agg_exprs)}
  FROM errs GROUP BY 1
),
picked AS (
  SELECT event_type, n_pairs, least({maes}) AS __best,
         {", ".join(f"__bias_{_permille(a)}" for a in alphas)},
         {", ".join(f"__mae_{_permille(a)}" for a in alphas)}
  FROM stats
)
SELECT event_type, n_pairs,
       CAST(CASE {alpha_case} END AS INT) AS best_alpha_permille,
       CAST(__best AS BIGINT) AS mae_micros,
       CAST(CASE {bias_case} END AS BIGINT) AS bias_micros
FROM picked ORDER BY event_type
"""


@register("w15_alpha_grid_forecast", oracle=_grid_oracle(), bench=True)
def q_alpha_grid_forecast(spark, sf_dir):
    """Per-event-type best Brown smoothing alpha from the
    {0.3, 0.5, 0.7} grid by one-step-backtest MAE (integer micro-unit
    report, ties to the smallest alpha)."""
    ev = load_table(spark, sf_dir, "events")
    return holt_alpha_grid(ev, "event_type", "ts", "value").orderBy(
        "event_type"
    )
