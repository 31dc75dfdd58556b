"""Event-transition (first-order Markov) analysis over the event
stream — the "what do users do NEXT" table behind funnel design and
anomaly triage: counts and probabilities for every (prev_event →
event) bigram per user timeline.

Exactness: transition probability is emitted as integer ppm —
``(n · 1_000_000) div row_total`` — so the whole report is BIGINT
end to end (the a19 share recipe). Ordering within a user timeline is
pinned by (ts, event_id), so ties on the timestamp can never flip a
bigram between engines.

Scale shape: ONE window pass partitioned by user (lag), then one hash
aggregate on the |types|² transition keys and a broadcast join of the
|types|-row margin — per-user timelines sort independently, nothing is
quadratic, and the output is bounded by the event-type alphabet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """(prev_type, next_type, n, p_ppm): first-order transition counts
    per user timeline with integer-ppm row-conditional probability."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        df.withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    margins = pairs.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("__tot")
    )
    return (
        pairs.join(F.broadcast(margins), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(n * 1000000) div __tot").cast("long").alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


_S24_ORACLE = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
margins AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY 1
)
SELECT c.prev_type, c.next_type, c.n,
       CAST((c.n * 1000000) // m.tot AS BIGINT) AS p_ppm
FROM counts c JOIN margins m USING (prev_type)
ORDER BY 1, 2
"""


@register("s24_event_transitions", oracle=_S24_ORACLE, bench=True)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family beyond-ref: the user-timeline event-type transition
    matrix (counts + integer-ppm conditional probabilities)."""
    ev = load_table(spark, sf_dir, "events")
    return event_transitions(ev)
