#!/usr/bin/env python3
"""Layered workload benchmark for the engine, measured from outside.

Usage (from the repository root):

    python3 perfbench/run.py --workload dp_etl --seed 1 --seconds 5 --trace 0

Workloads are defined in ``workloads.py``. The launcher:

1. fixes host-fitted, hermetic settings: ``SPARK_GRAFT_CPUS`` =
   min(nproc, 4), a driver heap sized below physical RAM, and every temp,
   local, warehouse and checkpoint directory under ``.perfbench_work/``
   in the current directory;
2. generates the seeded inputs (``gen.py``, cached per seed);
3. evaluates each op's ``oracle_sql()`` in DuckDB over those inputs
   (cached per op, SQL text and input version: seeds only permute rows);
4. runs the workload in a fresh process (``driver.py``) and stops every
   process that one started.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The full record, with per-op
numbers and settings, is kept in ``.perfbench_work/results/``. The exit
code is non-zero on any failed or mismatching op execution, or when the
engine is not in the current directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

import gen
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))

PACKAGE = "machine_learning_with_spark_streaming_spark"
WORK = ".perfbench_work"
# whole-run limit for the workload process: a benchmark run ends within 180 s
CHILD_TIMEOUT_S = 165.0
MAX_CPUS = 4


def declared_metrics(section: str) -> list[tuple[str, str]]:
    """(name, unit) of the metrics BENCHMARK.json declares in ``section``."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]


def host_settings(work: str) -> dict[str, str]:
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    # a quarter of physical RAM, capped at 2 GiB (ample at sf0.1): the
    # engine's 16g default exceeds a small no-swap host
    heap_mb = max(1024, min(2048, total_mb // 4))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }


def expectations(root: str, inputs: str, ops: list[str]) -> dict:
    """Oracle rows per op, normalised by ``testing.rowset``.

    Every seed permutes the rows of the same base tables, so one cached
    evaluation per op, SQL text and input version serves all seeds."""
    import duckdb

    import __spark_entry__ as entry
    from machine_learning_with_spark_streaming_spark.testing import rowset

    oracles = entry.oracle_sql()
    cache = os.path.join(root, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for op in ops:
        sql = oracles.get(op)
        if sql is None:
            out[op] = {"error": "no oracle"}
            continue
        key = hashlib.sha256(json.dumps([op, sql, gen.VERSION]).encode()).hexdigest()[:24]
        path = os.path.join(cache, f"{op}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[op] = pickle.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[op] = {"n": len(rows), "cols": sorted(cols), "rows": rowset(cols, rows)}
        except Exception as exc:  # noqa: BLE001
            out[op] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(out[op], f)
        os.replace(tmp, path)
    return out


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the workload's process group and wait
    until it is gone (the JVM and Python workers live there too)."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    repo = os.getcwd()
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir(PACKAGE)):
        print(f"run from the repository root: no __spark_entry__.py / {PACKAGE}/ here",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)

    root = os.path.join(repo, WORK)
    run_dir = os.path.join(root, f"run-{os.getpid()}")
    results = os.path.join(root, "results")
    settings = host_settings(run_dir)
    for d in (results, run_dir, settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        os.makedirs(d, exist_ok=True)

    ops = WORKLOADS[args.workload]
    t0 = time.time()
    inputs, manifest = gen.inputs(os.path.join(root, "inputs"), args.seed)
    t1 = time.time()
    expected = expectations(root, inputs, ops)
    t2 = time.time()
    expected_path = os.path.join(run_dir, "expected.pkl")
    with open(expected_path, "wb") as f:
        pickle.dump(expected, f)

    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    env.update(settings)
    env["PYTHONPATH"] = os.pathsep.join([repo] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no hsperfdata files: the JVMs would write them under /tmp. JIT
    # compiler threads that exit would take their CPU time with them
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_path = os.path.join(results, f"{tag}.json")
    if os.path.exists(out_path):
        os.remove(out_path)
    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--workload", args.workload, "--inputs", inputs, "--expected", expected_path,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--out", out_path,
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S - (time.time() - t0))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(out_path):
        print(f"workload process failed (exit {rc})", file=sys.stderr)
        return 1

    with open(out_path) as f:
        res = json.load(f)
    res["settings"] = {**{k: settings[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
                       "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    res["inputs"] = {"dir": os.path.relpath(inputs, repo),
                     "tables": {t: {"rows": v["rows"], "bytes": v["bytes"]}
                                for t, v in manifest["tables"].items()},
                     "generate_s": t1 - t0, "oracle_s": t2 - t1}
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit in declared_metrics(section)}
    for name, m in metrics.items():
        print(f"{args.workload:16s} {name:28s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    if res["errors"]:
        print(f"errors: {json.dumps(res['errors'])}", file=sys.stderr)
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
