"""Stream execution tuning: run each stateful micro-batch stream at state
width 1.

Structured Streaming fixes a query's state-store partition count from
``spark.sql.shuffle.partitions`` when the query first starts (it is kept
in the checkpoint, so a restart keeps it too) and then pays, for every
micro-batch, every stateful operator and every partition, one shuffle
task and one state-store commit. Locally those floors dominate a small
stream, also with ``get_session``'s worker daemon and checkpoint manager
in place: a Python-UDF task still costs 0.05-0.08 CPU-s of the whole
session (0.03 of it in the Python worker) whatever its row count, and
one benchmark stream op forks 74-76 ``chmod`` processes, one per
checkpoint, state or crc file and directory it creates (there is no
native Hadoop library). The package's streams keep little state (the
benchmark's two stream ops hold 1.4 MB at sf0.1), so their width is 1,
not the core count of the machine that started them.

``start_and_await`` (the one place the package starts a stream writer)
picks the width, in this order:

1. ``$SPARK_GRAFT_STREAM_SHUFFLE``, when set;
2. an explicit ``partitions=`` (``python_stateful_partitions`` for
   Python groups whose per-group work parallelises);
3. 1, when the plan keeps state: an aggregate, a dedup or a per-group
   state node over a stream, or a join of two streams;
4. otherwise the session width, unchanged: a stateless stream has no
   state store, and its shuffles are batch-sized work.

The width covers every job of the run, not only the state store: the
query copies the session when it starts, so the body of a
``foreachBatch`` sink also plans its shuffles at that width (under AQE,
which coalesces but never widens). The session value is restored
afterwards, also when the start fails.

Results do not depend on the width: every stateful operator
hash-partitions by its grouping or join key, so the partition count
moves placement and per-task overhead only, never values.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHUFFLE = "spark.sql.shuffle.partitions"

# logical nodes that hold state when they run over a stream
_STATEFUL = {
    "Aggregate",
    "Deduplicate",
    "DeduplicateWithinWatermark",
    "FlatMapGroupsWithState",
    "FlatMapGroupsInPandasWithState",
}


def python_stateful_partitions() -> int:
    """State-store partition count for Python-stateful micro-batch runs
    (``applyInPandasWithState``) with many groups.

    Such a stream is bound by per-group Python/Arrow work, which
    parallelises with the partition count, not by per-partition commits:
    s11_transitions_stream (1500 user groups, sf0.1) ran 6.3 s at 4
    partitions vs 3.5 s at 16 on 32 cores. On 4 cores, with the Python
    task floor down to 0.03 CPU-s of worker time (``pyworker``), it
    still runs 16.0-16.1 s at width 1 vs 7.6-8.2 s at this width.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return max(2, min(16, cpus))


def _keeps_state(plan) -> bool:
    """Whether a logical plan holds state across micro-batches."""
    kids = []
    it = plan.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    if plan.isStreaming():
        name = plan.nodeName()
        if name in _STATEFUL or (name == "Join" and all(k.isStreaming() for k in kids)):
            return True
    return any(_keeps_state(k) for k in kids)


def start_and_await(writer, spark: SparkSession, partitions: int | None = None):
    """Start a ``DataStreamWriter`` at its state width (module docstring)
    and block until the run completes (the package's micro-batch runs
    all use ``trigger(availableNow=True)``)."""
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        partitions = int(env)
    elif partitions is None and _keeps_state(writer._df._jdf.logicalPlan()):
        partitions = 1
    old = spark.conf.get(_SHUFFLE)
    if partitions is not None:
        spark.conf.set(_SHUFFLE, str(max(1, partitions)))
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set(_SHUFFLE, old)
    return q
