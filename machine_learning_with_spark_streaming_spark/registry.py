"""Query registry — the bridge between operator modules and the driver
contract (``__spark_entry__.py``).

Each operator module registers its demonstration queries with
``@register(name, oracle=SQL)``; ``collect()`` imports every module so the
registry is fully populated, then ``__spark_entry__`` exposes it.
``bench=True`` puts the query in ``bench.py``'s timed set.

Naming convention: query names carry the SURVEY.md §2 operator id they
demonstrate (e.g. ``w1_abc_classify`` covers W1).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules whose import populates the registry.
_QUERY_MODULES = [
    "machine_learning_with_spark_streaming_spark.operators.filters",
    "machine_learning_with_spark_streaming_spark.operators.joins",
    "machine_learning_with_spark_streaming_spark.operators.aggregates",
    "machine_learning_with_spark_streaming_spark.operators.windows",
    "machine_learning_with_spark_streaming_spark.operators.reshape",
    "machine_learning_with_spark_streaming_spark.operators.setops",
    "machine_learning_with_spark_streaming_spark.operators.validation",
    "machine_learning_with_spark_streaming_spark.operators.dedup",
    "machine_learning_with_spark_streaming_spark.operators.graph",
    "machine_learning_with_spark_streaming_spark.operators.sampling",
    "machine_learning_with_spark_streaming_spark.operators.similarity",
    "machine_learning_with_spark_streaming_spark.operators.ivf",
    "machine_learning_with_spark_streaming_spark.operators.rollup_maintenance",
    "machine_learning_with_spark_streaming_spark.operators.skew",
    "machine_learning_with_spark_streaming_spark.operators.text",
    "machine_learning_with_spark_streaming_spark.operators.sessions",
    "machine_learning_with_spark_streaming_spark.operators.pii",
    "machine_learning_with_spark_streaming_spark.operators.tokenize",
    "machine_learning_with_spark_streaming_spark.operators.multimodal",
    "machine_learning_with_spark_streaming_spark.operators.codecs",
    "machine_learning_with_spark_streaming_spark.ml.examples",
    "machine_learning_with_spark_streaming_spark.functions.examples",
    "machine_learning_with_spark_streaming_spark.plans.examples",
    "machine_learning_with_spark_streaming_spark.streaming.examples",
    "machine_learning_with_spark_streaming_spark.sources.examples",
    # keep last: r4 additions register behind the queries awaiting
    # driver certification, preserving the rotation's priority order
    "machine_learning_with_spark_streaming_spark.operators.pq",
    "machine_learning_with_spark_streaming_spark.operators.sketch",
    # r9 additions — keep behind everything already queued
    "machine_learning_with_spark_streaming_spark.operators.forecast",
    "machine_learning_with_spark_streaming_spark.streaming.serving",
    "machine_learning_with_spark_streaming_spark.operators.seasonal",
    "machine_learning_with_spark_streaming_spark.operators.index_health",
    "machine_learning_with_spark_streaming_spark.streaming.monitor",
    # r10 additions — keep behind everything already queued
    "machine_learning_with_spark_streaming_spark.operators.refit",
    "machine_learning_with_spark_streaming_spark.ml.metrics",
    "machine_learning_with_spark_streaming_spark.operators.bloomjoin",
    "machine_learning_with_spark_streaming_spark.operators.kcore",
    "machine_learning_with_spark_streaming_spark.operators.robust",
    "machine_learning_with_spark_streaming_spark.streaming.heavyhitters",
    "machine_learning_with_spark_streaming_spark.operators.sketch_rollup",
    "machine_learning_with_spark_streaming_spark.operators.dpp",
    "machine_learning_with_spark_streaming_spark.operators.communities",
    "machine_learning_with_spark_streaming_spark.operators.collocations",
    "machine_learning_with_spark_streaming_spark.operators.matryoshka",
    "machine_learning_with_spark_streaming_spark.operators.kfold",
    "machine_learning_with_spark_streaming_spark.operators.bagops",
    # r10 continuation — keep behind everything already queued
    "machine_learning_with_spark_streaming_spark.operators.streaks",
    "machine_learning_with_spark_streaming_spark.operators.stats_tests",
    "machine_learning_with_spark_streaming_spark.operators.er",
    "machine_learning_with_spark_streaming_spark.operators.rollstats",
    "machine_learning_with_spark_streaming_spark.operators.knn",
    "machine_learning_with_spark_streaming_spark.operators.linkpred",
    "machine_learning_with_spark_streaming_spark.sources.timetravel",
    "machine_learning_with_spark_streaming_spark.operators.transitions",
    "machine_learning_with_spark_streaming_spark.operators.readability",
    "machine_learning_with_spark_streaming_spark.operators.bfs",
    "machine_learning_with_spark_streaming_spark.streaming.transitions_stream",
    "machine_learning_with_spark_streaming_spark.operators.modeagg",
    "machine_learning_with_spark_streaming_spark.operators.assortativity",
    "machine_learning_with_spark_streaming_spark.sources.pydatasource",
    "machine_learning_with_spark_streaming_spark.operators.curation_v4",
    "machine_learning_with_spark_streaming_spark.operators.diverse",
    "machine_learning_with_spark_streaming_spark.operators.intervals",
    "machine_learning_with_spark_streaming_spark.operators.joindiag",
    "machine_learning_with_spark_streaming_spark.streaming.merge_stream",
    "machine_learning_with_spark_streaming_spark.operators.residuals",
    "machine_learning_with_spark_streaming_spark.operators.depthhist",
    "machine_learning_with_spark_streaming_spark.operators.fisher",
    "machine_learning_with_spark_streaming_spark.operators.sqlfront",
    # r11 additions — keep behind everything already queued
    "machine_learning_with_spark_streaming_spark.sources.fetchlake",
    "machine_learning_with_spark_streaming_spark.operators.kmv",
    "machine_learning_with_spark_streaming_spark.ml.calibration",
    "machine_learning_with_spark_streaming_spark.streaming.kmv_stream",
    "machine_learning_with_spark_streaming_spark.operators.ppjoin",
    "machine_learning_with_spark_streaming_spark.sources.bloomwrite",
    "machine_learning_with_spark_streaming_spark.operators.curation_v5",
]


@dataclass(frozen=True)
class RegisteredQuery:
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    bench: bool = False  # timed by bench.py


REGISTRY: dict[str, RegisteredQuery] = {}


def register(
    name: str, oracle: str | None = None, bench: bool = False
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = RegisteredQuery(fn, oracle, bench)
        return fn

    return deco


def collect() -> dict[str, RegisteredQuery]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return REGISTRY
