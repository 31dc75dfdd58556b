"""Event-sequence analytics over the ``events`` table: sessionization,
funnel conversion, cohort retention — the classic large-scale behavioral
queries an analytics engine owes its users (and the batch complement of
the §2.10 streaming windows).

All three are window/aggregate compositions — no UDFs, no self-joins:

- **Sessionization**: gap-based session ids per user via
  ``lag`` + running sum over one per-user window. One shuffle on
  ``user_id``; Catalyst fuses the lag, the break flag, and the running
  sum into a single Window node. Per-user data is tiny even when the
  corpus is 100 TB, so the partition-by-user window never concentrates
  load (skewed power users would page through W3's salting playbook).
- **Funnel**: stage timestamps as nested conditional window-mins over
  the same ``user_id`` partitioning — the ordered view→click→purchase
  reach computation with ONE shuffle (all Window nodes share the
  partitioning, so Catalyst plans a single Exchange).
- **Cohort retention**: first-activity week per user (window min),
  distinct (user, week-offset) activity, then a (cohort, offset)
  count rollup — two shuffles total (user window, cohort rollup).

Reference analog: the reference's snapshot/week calendar analytics
(`packages/myConversionsClass.py:549-581`) group activity into fiscal
buckets; these operators are the event-log equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

SESSION_GAP_MINUTES = 720  # 12 h — sized to the testdata's event density

_US_PER_MIN = 60_000_000
_US_PER_WEEK = 7 * 86_400 * 1_000_000


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_minutes: int = SESSION_GAP_MINUTES,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the gap
    to the previous event of the same user exceeds ``gap_minutes``.
    Returns the input plus ``session_idx`` (0-based per user).
    Deterministic: events order by ``(ts, tiebreak)``."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col))
    prev = F.lag(us).over(w)
    brk = (
        F.when(prev.isNull(), F.lit(0))
        .when(us - prev > gap_minutes * _US_PER_MIN, F.lit(1))
        .otherwise(F.lit(0))
    )
    run = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_idx", F.sum(brk).over(run).cast("int"))


def session_summary(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = SESSION_GAP_MINUTES,
) -> DataFrame:
    """Per-session rollup: event count, start/end (µs), duration (µs)."""
    s = sessionize(df, user_col, ts_col, gap_minutes=gap_minutes)
    us = F.unix_micros(F.col(ts_col))
    return (
        s.groupBy(user_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )


_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {SESSION_GAP_MINUTES * _US_PER_MIN} THEN 1
              ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, us,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       max(us) - min(us) AS duration_us
FROM sess
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("s12_sessionize", oracle=_SESSION_ORACLE)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event log (12 h gap), rolled up
    per session."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return session_summary(ev).orderBy("user_id", "session_idx")


def funnel_reach(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel reach: a user reaches stage k when an event of
    type ``stages[k]`` occurs at-or-after their stage k-1 timestamp.
    Returns one row per stage: (stage_idx, stage, n_users, pct_of_first).

    Nested conditional window-mins over one ``user_id`` partitioning —
    one Exchange feeds every stage's Window node."""
    w = Window.partitionBy(user_col)
    us = F.unix_micros(F.col(ts_col))
    cur = df
    prev_t = None
    for k, stage in enumerate(stages):
        cond = F.col(type_col) == stage
        if prev_t is not None:
            cond = cond & (us >= F.col(prev_t))
        t = f"__t{k}"
        cur = cur.withColumn(t, F.min(F.when(cond, us)).over(w))
        prev_t = t
    per_user = cur.groupBy(user_col).agg(
        *[F.max(f"__t{k}").alias(f"t{k}") for k in range(len(stages))]
    )
    counts = per_user.agg(
        *[
            F.count(F.col(f"t{k}")).alias(f"n{k}")
            for k in range(len(stages))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.col(f"n{k}").alias("n_users"),
                F.round(F.col(f"n{k}") / F.col("n0"), 6).alias("pct_of_first"),
            )
            for k, stage in enumerate(stages)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


FUNNEL_STAGES = ["view", "click", "purchase"]

_FUNNEL_ORACLE = """
WITH staged AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id) AS t0,
         epoch_us(ts) AS us, event_type
  FROM events
),
staged2 AS (
  SELECT user_id, t0,
         min(CASE WHEN event_type = 'click' AND us >= t0 THEN us END)
           OVER (PARTITION BY user_id) AS t1,
         us, event_type
  FROM staged
),
staged3 AS (
  SELECT user_id, t0, t1,
         min(CASE WHEN event_type = 'purchase' AND us >= t1 THEN us END)
           OVER (PARTITION BY user_id) AS t2
  FROM staged2
),
per_user AS (
  SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
  FROM staged3 GROUP BY 1
),
counts AS (
  SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM per_user
)
SELECT * FROM (
  SELECT 0 AS stage_idx, 'view' AS stage, CAST(n0 AS BIGINT) AS n_users,
         round(CAST(n0 AS DOUBLE) / n0, 6) AS pct_of_first FROM counts
  UNION ALL
  SELECT 1, 'click', CAST(n1 AS BIGINT),
         round(CAST(n1 AS DOUBLE) / n0, 6) FROM counts
  UNION ALL
  SELECT 2, 'purchase', CAST(n2 AS BIGINT),
         round(CAST(n2 AS DOUBLE) / n0, 6) FROM counts
)
ORDER BY 1
"""


@register("s13_funnel_reach", oracle=_FUNNEL_ORACLE)
def q_funnel_reach(spark, sf_dir):
    """view -> click -> purchase ordered-funnel reach over the event
    log."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return funnel_reach(ev, FUNNEL_STAGES).orderBy("stage_idx")


def cohort_retention(
    df: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Weekly cohort retention: users grouped by their first-activity
    week (date_trunc 'week' — Monday start in both engines); activity
    counted as distinct active users per (cohort_week, week_offset)."""
    w = Window.partitionBy(user_col)
    cohort_us = F.unix_micros(
        F.date_trunc("week", F.min(F.col(ts_col)).over(w))
    )
    offset = (
        (F.unix_micros(F.col(ts_col)) - cohort_us) / _US_PER_WEEK
    ).cast("long")
    return (
        df.select(
            F.col(user_col).alias("u"),
            cohort_us.alias("cohort_week_us"),
            offset.alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week_us", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


_COHORT_ORACLE = f"""
WITH firsts AS (
  SELECT user_id,
         epoch_us(date_trunc('week', min(ts) OVER (PARTITION BY user_id)))
           AS cohort_week_us,
         epoch_us(ts) AS us
  FROM events
),
activity AS (
  SELECT DISTINCT user_id, cohort_week_us,
         CAST((us - cohort_week_us) // {_US_PER_WEEK} AS BIGINT)
           AS week_offset
  FROM firsts
)
SELECT cohort_week_us, week_offset,
       CAST(count(*) AS BIGINT) AS n_active_users
FROM activity
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("s14_cohort_retention", oracle=_COHORT_ORACLE)
def q_cohort_retention(spark, sf_dir):
    """Weekly first-activity cohorts x activity-week offsets."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return cohort_retention(ev).orderBy("cohort_week_us", "week_offset")


# -------------------- s26: funnel conversion latency (order statistics)

def funnel_latency(
    df: DataFrame,
    first_stage: str = "view",
    last_stage: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-to-convert summary for users whose first ``first_stage``
    precedes their first ``last_stage``: one row with n_converters and
    the median (doubled — the two-middles integer rule), rank-based p90
    and max of the conversion delay in exact microseconds. The latency
    half of s13's reach question. One user-level aggregate, then order
    statistics over the (aggregated, |converters|-bounded) delay
    relation — rank arithmetic, no interpolation."""
    us = F.unix_micros(F.col(ts_col))
    per_user = df.groupBy(user_col).agg(
        F.min(F.when(F.col(type_col) == first_stage, us)).alias("__f"),
        F.min(F.when(F.col(type_col) == last_stage, us)).alias("__l"),
    )
    deltas = per_user.filter(
        F.col("__f").isNotNull()
        & F.col("__l").isNotNull()
        & (F.col("__l") >= F.col("__f"))
    ).select((F.col("__l") - F.col("__f")).alias("d"))
    w = Window.orderBy("d")
    ranked = deltas.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_converters"),
        (
            F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col("d")))
            + F.max(F.when(F.expr("rn = n div 2 + 1"), F.col("d")))
        )
        .cast("long")
        .alias("median_x2_us"),
        F.max(F.when(F.expr("rn = (9 * n + 9) div 10"), F.col("d")))
        .cast("long")
        .alias("p90_us"),
        F.max("d").cast("long").alias("max_us"),
    )


_S26_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS f,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS l
  FROM events GROUP BY 1
),
deltas AS (
  SELECT l - f AS d FROM per_user
  WHERE f IS NOT NULL AND l IS NOT NULL AND l >= f
),
ranked AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn,
         count(*) OVER () AS n
  FROM deltas
)
SELECT CAST(max(n) AS BIGINT) AS n_converters,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN d END)
            + max(CASE WHEN rn = n // 2 + 1 THEN d END) AS BIGINT)
         AS median_x2_us,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN d END) AS BIGINT)
         AS p90_us,
       CAST(max(d) AS BIGINT) AS max_us
FROM ranked
"""


@register("s26_funnel_latency", oracle=_S26_ORACLE, bench=True)
def q_funnel_latency(spark, sf_dir):
    """S-family beyond-ref: first-view -> first-purchase conversion
    delay summary (exact-µs rank statistics)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return funnel_latency(ev)
