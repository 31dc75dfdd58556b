"""Tests of the benchmark itself: seeded inputs and the printed metrics.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The metric-name tests start a real (short) benchmark run each.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
from workloads import PASSES, WORKLOADS  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def inputs_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("inputs"))


def _rows(path):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def test_same_seed_gives_identical_inputs(inputs_root, tmp_path):
    a, ma = gen.inputs(inputs_root, 5)
    b, mb = gen.inputs(str(tmp_path), 5)  # a separate, uncached build
    assert ma["tables"] == mb["tables"]
    for name in gen.TABLES:
        assert filecmp.cmp(f"{a}/{name}.parquet", f"{b}/{name}.parquet", shallow=False), name


def test_other_seed_permutes_the_same_rows(inputs_root):
    import duckdb

    a, ma = gen.inputs(inputs_root, 5)
    b, mb = gen.inputs(inputs_root, 6)
    con = duckdb.connect()
    for name in gen.TABLES:
        ta, tb = ma["tables"][name], mb["tables"][name]
        assert (ta["rows"], ta["fingerprint"]) == (tb["rows"], tb["fingerprint"]), name
        assert ta["fingerprint"] == gen._fingerprint(con, f"{gen.BASE}/{name}.parquet"), name
    for name in ("orders", "events", "documents"):
        ra, rb = _rows(f"{a}/{name}.parquet"), _rows(f"{b}/{name}.parquet")
        assert ra != rb, f"{name}: same order under another seed"
        key = lambda r: json.dumps(r, sort_keys=True, default=str)  # noqa: E731
        assert sorted(map(key, ra)) == sorted(map(key, rb)), name


def test_inputs_keep_the_testdata_contract(inputs_root):
    import pyarrow.parquet as pq

    d, _ = gen.inputs(inputs_root, 5)
    for name in gen.TABLES:
        assert pq.ParquetFile(f"{d}/{name}.parquet").metadata.num_row_groups == 1
        schema = pq.read_schema(f"{d}/{name}.parquet").remove_metadata()
        assert schema.equals(pq.read_schema(f"{gen.BASE}/{name}.parquet").remove_metadata()), name


def test_declarations_agree():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert set(PASSES) == set(WORKLOADS)
    with open(os.path.join(BENCH_DIR, "layer_map.json")) as f:
        layer_map = {k: v for k, v in json.load(f).items() if not k.startswith("_")}
    declared = [m["name"] for m in BENCH["per_layer"]]
    assert sorted(layer_map) == sorted(declared)
    for name, entry in layer_map.items():
        assert set(entry["on"]) <= set(WORKLOADS), name
        assert set(entry["moves"]) <= {m["name"] for m in BENCH["end_to_end"]} | set(declared), name


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        BENCH["command"] + ["--workload", "dp_etl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_match_declaration(trace, section):
    p = subprocess.run(
        BENCH["command"] + ["--workload", "dp_etl", "--seed", "3", "--seconds", "1",
                            "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] is True and out["failed"] == 0
    printed = {k: v["unit"] for k, v in out["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in BENCH[section]}
