"""Streaming event-transition counting — the production shape of
s24_event_transitions: per-user Markov bigrams counted as events
arrive, with ONLY the last-seen event carried as per-user state so
batch boundaries can never lose or duplicate a transition.

Run as a REAL 3-micro-batch ``applyInPandasWithState`` job: the event
stream is staged into three time-ranged files (globally ranked by
(ts, event_id) — the same deterministic batch axis as the CUSUM
monitor), each batch sorts a user's new rows, PREPENDS the stored last
event, emits that batch's (prev → next) counts, and stores the new
last event. Summing emissions across batches must therefore equal the
one-pass batch operator exactly — the oracle IS s24's oracle.

Scale shape: state is (ts_us, event_id, type) — three scalars per
user, sharded in the state store; per batch the work is each user's
new rows sorted inside one Arrow group. Nothing global; the final
report aggregate is |types|²-bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.operators.transitions import _S24_ORACLE
from machine_learning_with_spark_streaming_spark.streaming.tuning import (
    python_stateful_partitions,
    start_and_await,
)

N_TRANSITION_BATCHES = 3

_PAIR_OUT = StructType(
    [
        StructField("prev_type", StringType()),
        StructField("next_type", StringType()),
        StructField("n", LongType()),
    ]
)

_LAST_EVENT_STATE = StructType(
    [
        StructField("us", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


def transition_stream(stream):
    """Per-user stateful bigram counter over a (user_id, us, event_id,
    event_type) stream; emits each batch's (prev_type, next_type, n)."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(["us", "event_id"], kind="mergesort")
        types = rows["event_type"].tolist()
        prevs = types[:-1]
        nexts = types[1:]
        if state.exists:
            _us, _eid, last_type = state.get
            prevs = [last_type] + types[:-1]
            nexts = types
        last = rows.iloc[-1]
        state.update((int(last["us"]), int(last["event_id"]), last["event_type"]))
        if not prevs:
            return
        counts: dict[tuple, int] = {}
        for p, x in zip(prevs, nexts):
            counts[(p, x)] = counts.get((p, x), 0) + 1
        yield pd.DataFrame(
            [
                {"prev_type": p, "next_type": x, "n": c}
                for (p, x), c in sorted(counts.items())
            ]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_PAIR_OUT,
        stateStructType=_LAST_EVENT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register("s11_transitions_stream", oracle=_S24_ORACLE, bench=True)
def q_transitions_stream(spark, sf_dir):
    """Streaming twin of s24_event_transitions on a REAL 3-micro-batch
    run: last-event-per-user state stitches batch boundaries, so the
    summed emissions hash-match the one-pass batch operator (and its
    oracle) exactly."""
    import tempfile
    import uuid

    from pyspark.sql import Window

    from machine_learning_with_spark_streaming_spark.operators.sampling import (
        range_shard_assignment,
    )
    from machine_learning_with_spark_streaming_spark.streaming.examples import (
        stage_ordered_files,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    # time-range batch split via exact broadcast percentile boundaries
    # on ``us`` (range_shard_assignment: one distributed aggregate + a
    # map-only assignment — no global row_number window). Batches are
    # monotone in event time (ties never straddle a boundary) and the
    # stateful update sorts within each batch, so every user's events
    # are still visited in (us, event_id) order — emissions identical
    # to the old rank split.
    batched = range_shard_assignment(ev, "us", N_TRANSITION_BATCHES).withColumnRenamed(
        "shard", "__b"
    )

    work = tempfile.mkdtemp(prefix="mlwss_trans_stream_")
    stage = f"{work}/stage"
    stage_ordered_files(
        [
            batched.filter(F.col("__b") == i).select(
                "user_id", "us", "event_id", "event_type"
            )
            for i in range(N_TRANSITION_BATCHES)
        ],
        stage,
    )

    stream = (
        spark.readStream.schema(
            "user_id long, us long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    sink = f"transitions_stream_{uuid.uuid4().hex[:8]}"
    q = (
        transition_stream(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
    )
    # 1500 user groups: per-group Python/Arrow work dominates the batch,
    # so run under the python-stateful partition sizing (r11, guide §4)
    start_and_await(q, spark, partitions=python_stateful_partitions())

    pairs = (
        spark.table(sink)
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    # margin via a |types|-partitioned window (a self-join of the
    # memory-sink relation trips a Catalyst conflicting-attribute check)
    tot = F.sum("n").over(Window.partitionBy("prev_type"))
    return (
        pairs.withColumn("__tot", tot.cast("long"))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(n * 1000000) div __tot").cast("long").alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )
