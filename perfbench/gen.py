"""Seeded input generator for the benchmark.

The base is ``data/sf0.1/``: a verbatim copy of the project's sf0.1
testdata (TESTDATA.md), kept with the benchmark so that a run reads
nothing outside its checkout. A seed gives a view of it with every
table's rows in a seeded order (a DuckDB hash sort, as in
``tools/scale_stress.py``), so another seed gives the same multiset of
rows in a different order.

Each table stays one ``<name>.parquet`` file with a single row group and
the testdata's Parquet types, so ``schemas.load_table`` sees the same
contract. Outputs are cached per seed under the given root;
``manifest.json`` in each directory records rows, bytes and an
order-insensitive content fingerprint per table.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# bump when the generated data changes, so stale caches are rebuilt
VERSION = "4"
# per-seed input dirs kept in the cache (about 17 MB each)
KEEP_SEEDS = 4


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _fingerprint(con, path: str) -> str:
    """Order-insensitive content hash of one table (row multiset)."""
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash(t)), 0) FROM read_parquet('{path}') t"
    ).fetchone()
    return f"{n}:{s}"


def _permuted(con, path: str, seed: int):
    """Rows of one table in a seeded order: a sort on a hash of each row's
    content and the seed. Only identical rows tie, so the order does not
    depend on how DuckDB schedules the scan."""
    return con.execute(
        f"SELECT t.* FROM read_parquet('{path}') t ORDER BY hash(t, {int(seed)})"
    ).arrow()


def _cached(out: str) -> dict | None:
    try:
        with open(f"{out}/manifest.json") as f:
            m = json.load(f)
    except (OSError, ValueError):
        return None
    return m if m.get("version") == VERSION else None


def inputs(root: str, seed: int) -> tuple[str, dict]:
    """Build (or reuse) the inputs of one seed; returns (dir, manifest)."""
    import duckdb

    out = f"{root}/s{int(seed)}-v{VERSION}"
    manifest = _cached(out)
    if manifest is not None:
        return out, manifest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    tables = {}
    for name in TABLES:
        path = f"{out}/{name}.parquet"
        table = _permuted(con, f"{BASE}/{name}.parquet", seed)
        _write(table, path)
        tables[name] = {
            "rows": table.num_rows,
            "bytes": os.path.getsize(path),
            "fingerprint": _fingerprint(con, path),
        }
    manifest = {"version": VERSION, "seed": int(seed), "tables": tables}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    for stale in sorted(glob.glob(f"{root}/s*-v*"), key=os.path.getmtime)[:-KEEP_SEEDS]:
        shutil.rmtree(stale, ignore_errors=True)
    return out, manifest
