#!/usr/bin/env python
"""Benchmark harness: benched queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Usage:
    python bench.py               # HEADLINE + every @register(..., bench=True)
    python bench.py NAME [NAME]   # only these queries; bench_full.json untouched

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed with a ``noop``-format write so the full physical
plan runs (scan -> shuffle -> agg/join) without driver-side collect —
the same shape a cluster job has. Each query is executed once untimed
(JVM JIT + whole-stage-codegen class compile for that plan shape — a
per-plan constant of 4-12 s in a fresh local JVM that is noise at
sf0.1 yet irrelevant on a cluster where the same compiled plan runs for
minutes) and then timed: headline queries MEDIAN-of-3 (the cross-round
metric — median bounds co-tenant noise without min's optimistic bias),
extended queries min-of-2, long-runners min-of-1; ``value`` = total
steady-state seconds across the fixed r1 headline set. ``jobs`` maps each
query to the Spark jobs its last timed run submitted. Per-query noise
floors are recorded in BASELINE.md — deltas inside them are drift, not
regression.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from machine_learning_with_spark_streaming_spark.registry import collect  # noqa: E402
from machine_learning_with_spark_streaming_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per engine area (relational core, windows, reshape,
# validation, streaming-shaped, LLM-data ops).
#
# ``value`` sums ONLY this fixed r1 set, so the headline metric stays
# apples-to-apples across rounds as the benched set grows; the full-set
# total is reported separately as ``value_all``.
HEADLINE = [
    "flagship_demand_rollup",
    "a1_pivot_sum",
    "a5_rollup_grand_total",
    "j2_enrichment",
    "w1_abc_classify",
    "r2_unpivot_months",
    "p9_regex_filter",
    "v3_qc_verdict",
    "s11_tumbling_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "sim_topk_cosine",
    "pipeline_llm_data_prep",
]

# Long-runner tier: wall-clock here is dominated by iteration count
# (10 checkpointed PageRank rounds) or real micro-batch scheduling (a
# 6-batch watermark run), not by per-row compute — the min-of-2 repeat
# buys no regression signal on them while costing ~30 s of bench time
# that drowns the cheap per-query signal on the other ~115 queries.
# Timed min-of-1 after the same untimed warm-up; still in ``value_all``.
LONG_RUNNERS = {
    "graph_pagerank_k10",
    "s11_late_data_stream",
    # r10: a REAL 4-micro-batch stateful run + exact recount — cost is
    # micro-batch scheduling, not per-row compute (10.4 s at sf0.1)
    "s11_heavy_hitters_stream",
}


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def benched() -> list[str]:
    """HEADLINE, then every query registered with ``bench=True``."""
    return HEADLINE + [name for name, rq in collect().items() if rq.bench]


def run_query(df) -> None:
    # full-plan execution without collecting results to the driver
    df.write.format("noop").mode("overwrite").save()


def measure(spark, fn, sf_dir: str, n_timed: int) -> tuple[list[float], int]:
    """One untimed warm-up of ``fn(spark, sf_dir)``, then ``n_timed`` timed
    runs. Returns the sorted run seconds and the number of Spark jobs the
    last timed run submitted."""
    sc = spark.sparkContext
    runs: list[float] = []
    jobs = 0
    try:
        run_query(fn(spark, sf_dir))  # untimed: codegen + JIT
        for _ in range(n_timed):
            # clear BEFORE each timed run too: queries that persist
            # intermediates (LSH shingle table) must not be timed
            # against stacked stale copies from the warm-up
            spark.catalog.clearCache()
            group = f"bench-{uuid.uuid4().hex}"
            sc.setJobGroup(group, fn.__name__)
            t0 = time.time()
            run_query(fn(spark, sf_dir))
            runs.append(time.time() - t0)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
        # Queries that persist intermediates (e.g. the LSH shingle
        # table) would otherwise stack storage blocks across the
        # run; the resulting eviction/GC churn was measured as 2-4x
        # run-to-run timing swings on the dedup family.
        spark.catalog.clearCache()
    return sorted(runs), jobs


def main(argv: list[str]) -> None:
    queries = entry_mod.queries()
    names = argv or benched()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown query: {', '.join(unknown)}")
    # progress-bar rendering costs ~0.1 s of wall time per timed query
    # (measured r7: 14-query headline 13.6 s with the bar vs 12.05
    # without, same plans) — terminal I/O, not query work; exclude it
    spark = get_session(
        "machine-learning-with-spark-streaming-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in names:
        # Headline tier: MEDIAN of 3 timed runs — the headline number
        # is the cross-round comparison metric, and a single driver
        # run wanders ±13-20% under co-tenancy (three quiesced r9
        # runs of identical code: 10.15/12.83/11.39 s); the median
        # damps one-sided outliers without min's optimistic bias.
        # Extended tier stays min-of-2 (regression signal per query,
        # bench wall-clock bounded); long-runners min-of-1
        # (iteration/stream scheduling dominates, repeats buy no
        # signal).
        if name in LONG_RUNNERS:
            n_timed = 1
        elif name in HEADLINE:
            n_timed = 3
        else:
            n_timed = 2
        # a single failing query must not wipe out the whole bench record
        try:
            runs, jobs[name] = measure(spark, queries[name], SF_DIR, n_timed)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        stat = runs[len(runs) // 2] if name in HEADLINE else runs[0]
        timings[name] = round(stat, 3)

    total = round(sum(v for n, v in timings.items() if n in HEADLINE), 3)
    # The driver's BENCH_r*.json keeps only the last 2,000 chars of stdout
    # and json-parses the tail; the full per-query map (~180 entries) no
    # longer fits, which left ``parsed: null`` in r8-r10 (VERDICT r10
    # item 2). Split the record: the FULL map goes to bench_full.json
    # (committed per-round, so per-query regression diffs stay possible
    # from repo artifacts), and stdout's single JSON line is a compact
    # summary — headline value, full-set total, benched count, the 10
    # slowest queries, any errors — sized well under 2,000 chars.
    full: dict[str, object] = {
        "queries": timings,
        "jobs": jobs,
        "errors": errors,
        "metric": "headline_total_sec",
        "unit": "sec",
        "value": total,
        "value_all": round(sum(timings.values()), 3),
        "timing": "headline_median_of_3",
        "sf": _sf_from_dir(SF_DIR),
    }
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    if not argv:  # a named subset must not replace the full record
        try:
            with open(full_path, "w") as f:
                json.dump(full, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout summary still carries the headline
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    # Driver contract: ONE JSON line carrying the FULL per-query map —
    # entries are only ever ADDED across rounds, never removed or renamed.
    # The line has outgrown the driver's 2,000-char stdout tail since r5,
    # so key ORDER puts the headline summary fields (slowest-10, errors,
    # value_all, value, sf) at the END of the line where the tail keeps
    # them readable; the identical full map is also committed per-round as
    # bench_full.json for repo-artifact regression diffs.
    out: dict[str, object] = {
        "metric": "headline_total_sec",
        "unit": "sec",
        # headline queries are timed as MEDIAN-of-3 post-warmup
        # executions (extended tier min-of-2, long-runners min-of-1)
        # — co-tenant driver runs manufactured phantom 1.3-1.6x
        # "regressions" in r6/r7/r9 that quiesced re-measurement
        # erased; the median bounds that noise structurally
        "timing": "headline_median_of_3",
        "n_benched": len(timings),
        "full": "bench_full.json",
        "jobs": jobs,
        "queries": timings,
        "slowest": slowest,
        "value_all": round(sum(timings.values()), 3),
        "value": total,
        "sf": _sf_from_dir(SF_DIR),
    }
    if errors:
        # keep errors tail-visible but bounded (before the closing numbers)
        out = dict(out)
        vals = {k: out.pop(k) for k in ("value_all", "value", "sf")}
        out["errors"] = {k: errors[k][:80] for k in list(errors)[:5]}
        out["n_errors"] = len(errors)
        out.update(vals)
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
