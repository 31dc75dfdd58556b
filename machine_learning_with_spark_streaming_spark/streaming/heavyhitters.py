"""Streaming heavy hitters — Misra–Gries summaries as bounded
micro-batch state, then an exact second-pass recount.

The textbook two-pass frequent-items pipeline at stream scale:

1. **Pass 1 (streaming, bounded state)**: each state group (a hash
   bucket of the key space) maintains a Misra–Gries summary of at most
   ``MG_K`` counters in the state store. Per micro-batch the group's
   new rows are counted exactly (pandas value_counts inside the Arrow
   group), merged into the counters, and the summary is shrunk with the
   batch decrement — subtract the (K+1)-th largest count from all and
   drop the non-positive — which is the standard MG guarantee
   preserver: any key whose true bucket-local count exceeds
   n_bucket/(K+1) is still present when the stream ends. Each batch
   emits the group's current candidate keys (output only grows the
   candidate set, so the union across batches keeps the guarantee).
2. **Pass 2 (batch, exact)**: recount ONLY the candidates with one
   filtered aggregate and keep those at/above the φ-threshold
   (``125·count ≥ n``, i.e. φ = 1/125). Because ``MG_K = 128 ≥ 125``,
   the MG bound ``n_bucket/(K+1) < φ·n`` holds even if every event
   lands in ONE bucket — so pass 1 provably never drops a true heavy
   hitter and the final output EQUALS the exact φ-heavy-hitter set,
   which is what the DuckDB oracle computes directly. (Same
   prune-then-exact-verify algebra as j17_bloom_prejoin: approximation
   bounds the work, an exact pass owns correctness.)

Scale shape: state is ≤ MG_K (key, count) pairs per bucket — constant
memory per group regardless of stream length or key cardinality;
buckets shard across executors. The recount is a broadcast semi-join
(candidates ≤ buckets·MG_K rows) plus one map-side-combined aggregate.
Eviction doesn't trigger on the uniform testdata (distinct keys per
bucket < MG_K) — the decrement path is exercised on a synthetic
skewed stream in tests/test_round10_ops.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await

MG_K = 128  # counters per bucket; must be >= 1/phi for the guarantee
HH_PHI_DEN = 125  # heavy hitter <=> count * 125 >= n  (phi = 1/125)
N_BUCKETS = 4
N_HH_BATCHES = 4

_HH_OUT = StructType(
    [
        StructField("bucket", LongType()),
        StructField("user_id", LongType()),
    ]
)

_HH_STATE = StructType(
    [
        StructField("keys", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def _mg_shrink(counters: dict, k: int) -> dict:
    """Misra–Gries batch decrement: subtract the (k+1)-th largest count
    from every counter and drop the non-positive — at most k survive,
    and every key undercounts by at most (total input)/(k+1)."""
    if len(counters) <= k:
        return counters
    d = sorted(counters.values(), reverse=True)[k]
    return {key: c - d for key, c in counters.items() if c - d > 0}


def mg_candidate_stream(stream, key_col: str = "user_id", k: int = MG_K):
    """Stateful MG summaries per hash bucket; emits each bucket's
    current candidate keys every micro-batch."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        bucket = key[0]
        if state.exists:
            keys, counts = state.get
            counters = dict(zip(keys, counts))
        else:
            counters = {}
        for pdf in pdfs:
            for uid, c in pdf[key_col].value_counts().items():
                counters[int(uid)] = counters.get(int(uid), 0) + int(c)
            counters = _mg_shrink(counters, k)
        state.update((list(counters.keys()), list(counters.values())))
        yield pd.DataFrame(
            {"bucket": [bucket] * len(counters), "user_id": list(counters)}
        )

    return stream.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=_HH_OUT,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HH_ORACLE = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE user_id IS NOT NULL
GROUP BY 1
HAVING count(*) * {HH_PHI_DEN} >=
       (SELECT count(*) FROM events WHERE user_id IS NOT NULL)
ORDER BY 1
"""


@register("s11_heavy_hitters_stream", oracle=_HH_ORACLE, bench=True)
def q_heavy_hitters_stream(spark, sf_dir):
    """φ=1/125 heavy hitters over a REAL {N}-micro-batch event stream:
    MG candidate generation in bounded state, exact recount, provably
    equal to the direct frequency filter (the oracle)."""
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.streaming.examples import (
        stage_ordered_files,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id")
    )

    # deterministic batch split — round-robin on event_id (a pure
    # per-row expression: no global row_number window, no count job).
    # The MG guarantee + exact recount make the FINAL output invariant
    # to how events are split into micro-batches, so any deterministic
    # split is valid; this one is map-only at any scale.
    batched = ev.withColumn(
        "b", F.pmod(F.col("event_id"), F.lit(N_HH_BATCHES))
    ).withColumn("bucket", F.pmod(F.col("user_id"), F.lit(N_BUCKETS)))

    work = tempfile.mkdtemp(prefix="mlwss_hh_stream_")
    stage = stage_ordered_files(
        [
            batched.filter(F.col("b") == i).select("bucket", "user_id")
            for i in range(N_HH_BATCHES)
        ],
        f"{work}/stage",
    )
    stream = (
        spark.readStream.schema("bucket bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    sink = f"hh_stream_{uuid.uuid4().hex[:8]}"
    q = (
        mg_candidate_stream(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    candidates = (
        spark.table(sink).select("user_id").distinct().localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)

    # pass 2: exact recount of the candidates only
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        ev.join(F.broadcast(candidates), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * HH_PHI_DEN >= F.col("n_total"))
        .select("user_id", F.col("n_events").cast("long").alias("n_events"))
        .orderBy("user_id")
    )


q_heavy_hitters_stream.__doc__ = q_heavy_hitters_stream.__doc__.replace(
    "{N}", str(N_HH_BATCHES)
)
