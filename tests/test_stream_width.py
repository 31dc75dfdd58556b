"""The stream width rule of ``streaming/tuning.start_and_await``:
``$SPARK_GRAFT_STREAM_SHUFFLE``, then ``partitions=``, then width 1 for a
plan that keeps state; a stateless stream keeps the session width, a
``foreachBatch`` body plans at the run's width, and the session width is
always restored."""

import pytest
from pyspark.errors import AnalysisException

from machine_learning_with_spark_streaming_spark.streaming.tuning import (
    _keeps_state,
    start_and_await,
)

SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture
def file_stream(spark, tmp_path):
    spark.range(200).selectExpr("id", "id % 7 AS k").write.parquet(str(tmp_path / "in"))
    return spark.readStream.schema("id long, k long").parquet(str(tmp_path / "in"))


@pytest.fixture
def session_width(spark):
    old = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "5")
    yield "5"
    spark.conf.set(SHUFFLE, old)


def _counts(df, tmp_path, name):
    return (
        df.groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
    )


def _widths(q):
    return [op["numShufflePartitions"] for op in q.lastProgress["stateOperators"]]


def _sink_widths(df, tmp_path, spark, mode):
    """Shuffle width each ``foreachBatch`` body of a run over ``df`` sees."""
    seen = []

    def sink(batch, _):
        batch.count()  # a stateful batch must be read whole to commit
        seen.append(batch.sparkSession.conf.get(SHUFFLE))

    writer = (
        df.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_fb_{mode}"))
        .trigger(availableNow=True)
    )
    start_and_await(writer, spark)
    return set(seen)


def test_stateful_stream_runs_at_width_one(spark, file_stream, tmp_path, session_width):
    q = start_and_await(
        _counts(file_stream, tmp_path, "w_rule").trigger(availableNow=True), spark
    )
    assert _widths(q) == [1]
    assert spark.table("w_rule").count() == 7
    assert spark.conf.get(SHUFFLE) == session_width


def test_plans_that_keep_state(spark, file_stream):
    static = spark.range(50).selectExpr("id % 7 AS k")
    plans = {
        "aggregate": (file_stream.groupBy("k").count(), True),
        "dedup": (file_stream.dropDuplicates(["k"]), True),
        "stream-stream join": (file_stream.join(file_stream.select("k"), "k"), True),
        "projection": (file_stream.selectExpr("k + 1 AS k"), False),
        # the aggregate runs over the static side only, once per batch
        "stream-static join": (file_stream.join(static.groupBy("k").count(), "k"), False),
    }
    got = {name: _keeps_state(df._jdf.logicalPlan()) for name, (df, _) in plans.items()}
    assert got == {name: want for name, (_, want) in plans.items()}


def test_env_then_partitions_win_over_the_rule(
    spark, file_stream, tmp_path, monkeypatch
):
    q = start_and_await(
        _counts(file_stream, tmp_path, "w_arg").trigger(availableNow=True),
        spark,
        partitions=3,
    )
    assert _widths(q) == [3]
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "2")
    q = start_and_await(
        _counts(file_stream, tmp_path, "w_env").trigger(availableNow=True),
        spark,
        partitions=3,
    )
    assert _widths(q) == [2]


def test_foreach_batch_body_plans_at_the_run_width(
    spark, file_stream, tmp_path, session_width
):
    # a stateless stream keeps the session width, and so does its sink
    assert _sink_widths(file_stream, tmp_path, spark, "append") == {session_width}
    # a stateful one runs at width 1, and its sink's batch jobs inherit it
    counts = file_stream.groupBy("k").count()
    assert _sink_widths(counts, tmp_path, spark, "complete") == {"1"}
    assert spark.conf.get(SHUFFLE) == session_width


def test_session_width_restored_when_start_raises(spark, file_stream, tmp_path):
    old = spark.conf.get(SHUFFLE)
    # append mode on an aggregate without a watermark fails at start
    writer = (
        _counts(file_stream, tmp_path, "w_bad")
        .outputMode("append")
        .trigger(availableNow=True)
    )
    with pytest.raises(AnalysisException, match="(?i)append"):
        start_and_await(writer, spark, partitions=3)
    assert spark.conf.get(SHUFFLE) == old
