"""Versioned snapshot store with as-of (time-travel) reads — the
Delta/Iceberg snapshot-isolation semantics on plain parquet: every
write lands in its own ``v=<n>`` directory, a tiny append-only log
records (version, n_rows, key_checksum), and a reader resolves
"as of version X" to the newest logged snapshot ≤ X — so historical
reads are reproducible forever and a mid-write reader can never see a
half-written table (the log row is committed only after the data).

Extends the K9 manifest sink (sources/maintenance.py:write_with_manifest)
from one integrity-checked snapshot to a history of them. Full
snapshots by design — delta-chains are the K4 upsert sink's job.

Scale shape: the resolve step reads only the |versions|-row log; the
data read opens exactly ONE snapshot directory (never a union of
versions), so an as-of read costs the same as a plain read of that
snapshot. At 100 TB the log is still KB-sized and the checksum is the
same single aggregate the write already shuffles for.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _key_checksum(df: DataFrame, key_col: str):
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
    return F.sum(h.cast("decimal(38,0)")).cast("decimal(38,0)").cast("string")


def write_snapshot(df: DataFrame, base: str, version: int, key_col: str) -> None:
    """Write ``df`` as snapshot ``version`` and append its log row.
    The data directory is written FIRST; the log row is the commit."""
    spark = df.sparkSession
    path = os.path.join(base, f"v={version}")
    df.write.mode("errorifexists").parquet(path)
    back = spark.read.parquet(path)
    log_row = back.agg(
        F.lit(int(version)).cast("int").alias("version"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        _key_checksum(back, key_col).alias("key_checksum"),
    )
    log_row.write.mode("append").parquet(f"{base}_log")


def resolve_asof(spark: SparkSession, base: str, asof: int) -> int:
    """Newest committed version <= ``asof`` (ValueError if none)."""
    log = spark.read.parquet(f"{base}_log")
    row = log.filter(F.col("version") <= asof).agg(
        F.max("version").alias("v")
    ).first()
    if row is None or row["v"] is None:
        raise ValueError(f"no snapshot at or before version {asof}")
    return int(row["v"])


def read_asof(spark: SparkSession, base: str, asof: int) -> tuple[int, DataFrame]:
    """(resolved_version, DataFrame) for the as-of read — exactly one
    snapshot directory is opened."""
    v = resolve_asof(spark, base, asof)
    return v, spark.read.parquet(os.path.join(base, f"v={v}"))


def resolve_asof_many(
    spark: SparkSession, base: str, asofs: "list[int]"
) -> "dict[int, int]":
    """Resolve several as-of versions with ONE log read (r12, guide
    §1.2 — the per-asof ``resolve_asof`` pays one job each over the
    same KB-sized log; a multi-version audit read batches them). Same
    rule, same ValueError when an asof precedes every commit."""
    versions = sorted(
        int(r["version"])
        for r in spark.read.parquet(f"{base}_log").select("version").collect()
    )
    out: dict[int, int] = {}
    for asof in asofs:
        eligible = [v for v in versions if v <= asof]
        if not eligible:
            raise ValueError(f"no snapshot at or before version {asof}")
        out[asof] = eligible[-1]
    return out


_S23_CUTS = {1: "1997-01-01", 2: "1999-01-01"}  # v3 = everything

_S23_ORACLE = f"""
WITH v1 AS (SELECT * FROM orders WHERE o_orderdate < DATE '{_S23_CUTS[1]}'),
v2 AS (SELECT * FROM orders WHERE o_orderdate < DATE '{_S23_CUTS[2]}'),
v3 AS (SELECT * FROM orders)
SELECT 1 AS asof, 1 AS resolved,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents FROM v1
UNION ALL
SELECT 2, 2, CAST(count(*) AS BIGINT),
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM v2
UNION ALL
SELECT 3, 3, CAST(count(*) AS BIGINT),
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM v3
UNION ALL
SELECT 99, 3, CAST(count(*) AS BIGINT),
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM v3
ORDER BY 1
"""


def _register_s23():
    from machine_learning_with_spark_streaming_spark.registry import register
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    @register("s23_time_travel_read", oracle=_S23_ORACLE, bench=True)
    def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
        """S-family beyond-ref: build a 3-snapshot versioned store from
        orders (two date-cut snapshots + full), then READ BACK as-of
        versions 1/2/3/99 — 99 resolves to the newest (3), certifying
        the resolve rule; each read opens exactly one snapshot dir.
        Aggregates are integer cents so the round-trip is hash-exact."""
        import tempfile

        orders = load_table(spark, sf_dir, "orders")
        base = os.path.join(tempfile.mkdtemp(prefix="mlwss_s23_"), "orders")
        for v in (1, 2):
            write_snapshot(
                orders.filter(F.col("o_orderdate") < _S23_CUTS[v]),
                base, v, "o_orderkey",
            )
        write_snapshot(orders, base, 3, "o_orderkey")

        # one log read resolves all four as-ofs (r12, guide §1.2)
        resolved = resolve_asof_many(spark, base, [1, 2, 3, 99])
        parts = []
        for asof in (1, 2, 3, 99):
            v = resolved[asof]
            snap = spark.read.parquet(os.path.join(base, f"v={v}"))
            parts.append(
                snap.agg(
                    F.lit(asof).cast("int").alias("asof"),
                    F.lit(v).cast("int").alias("resolved"),
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                    .cast("long")
                    .alias("price_cents"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("asof")


_register_s23()


def expire_snapshots(
    spark: SparkSession, base: str, keep_last: int
) -> "list[tuple[int, str, int]]":
    """Retention GC: physically delete all but the newest ``keep_last``
    snapshots and truncate the log to match — Delta VACUUM + log
    retention in one step. Returns [(version, status, n_rows)] for
    every version that existed, status in {'kept', 'purged'}.

    The LOG is rewritten first (a reader that resolves after the log
    commit can only see kept versions), then the orphaned data dirs are
    deleted; a crash between the two steps leaves unreferenced dirs —
    garbage, never corruption (the Iceberg orphan-file model)."""
    import shutil

    log = spark.read.parquet(f"{base}_log")
    rows = sorted(
        ((int(r["version"]), int(r["n_rows"])) for r in log.collect()),
    )
    kept = {v for v, _ in rows[-keep_last:]} if keep_last > 0 else set()
    keep_df = log.filter(F.col("version").isin([int(v) for v in kept]))
    staging = f"{base}_log_next"
    keep_df.write.mode("overwrite").parquet(staging)
    shutil.rmtree(f"{base}_log")
    os.rename(staging, f"{base}_log")
    report = []
    for v, n in rows:
        if v in kept:
            report.append((v, "kept", n))
        else:
            shutil.rmtree(os.path.join(base, f"v={v}"), ignore_errors=True)
            report.append((v, "purged", n))
    return report


_K10_CUTS = {1: "1996-01-01", 2: "1997-01-01", 3: "1999-01-01"}  # v4 = all

_K10_ORACLE = f"""
SELECT 1 AS version, 'purged' AS status, CAST(count(*) AS BIGINT) AS n_rows
FROM orders WHERE o_orderdate < DATE '{_K10_CUTS[1]}'
UNION ALL
SELECT 2, 'purged', CAST(count(*) AS BIGINT)
FROM orders WHERE o_orderdate < DATE '{_K10_CUTS[2]}'
UNION ALL
SELECT 3, 'kept', CAST(count(*) AS BIGINT)
FROM orders WHERE o_orderdate < DATE '{_K10_CUTS[3]}'
UNION ALL
SELECT 4, 'kept', CAST(count(*) AS BIGINT) FROM orders
ORDER BY 1
"""


def _register_k10():
    from machine_learning_with_spark_streaming_spark.registry import register
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    @register("k10_snapshot_expire", oracle=_K10_ORACLE, bench=True)
    def q_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
        """K-family beyond-ref: retention GC over a 4-snapshot store —
        keep the newest 2, purge the rest; the report row-counts come
        from the log (written at snapshot time), so the oracle's
        predicate recomputation certifies the whole write→log→expire
        loop. Post-expiry invariants (latest still readable, purged
        versions unresolvable) are asserted in-line."""
        import tempfile

        orders = load_table(spark, sf_dir, "orders")
        base = os.path.join(tempfile.mkdtemp(prefix="mlwss_k10_"), "orders")
        for v in (1, 2, 3):
            write_snapshot(
                orders.filter(F.col("o_orderdate") < _K10_CUTS[v]),
                base, v, "o_orderkey",
            )
        write_snapshot(orders, base, 4, "o_orderkey")

        report = expire_snapshots(spark, base, keep_last=2)

        # invariants, asserted not returned: newest still readable,
        # purged history unresolvable — the latter through the shipped
        # resolve path, so the resolve rule itself is what gets certified.
        kept_versions = [
            int(r["version"])
            for r in spark.read.parquet(f"{base}_log").select("version").collect()
        ]
        assert max(kept_versions) == 4
        try:
            resolve_asof_many(spark, base, [2])
        except ValueError:
            pass
        else:
            raise AssertionError("purged version must not resolve")
        snap = spark.read.parquet(os.path.join(base, "v=4"))
        assert snap.count() == report[-1][2]

        return spark.createDataFrame(
            [(v, s, n) for v, s, n in report],
            "version int, status string, n_rows long",
        ).orderBy("version")


_register_k10()


def merge_into_snapshot(
    base: str, changes: DataFrame, key_col: str, op_col: str = "op"
) -> int:
    """MERGE INTO the versioned store: apply an I/U/D changes table to
    the LATEST snapshot and commit the result as a new version (the
    Delta MERGE semantics on plain parquet — the snapshot-store
    companion to v12_cdc_apply's table-level merge):

    - 'D' rows delete their key;
    - 'U' rows replace their key's row wholesale;
    - 'I' rows insert (payload columns = snapshot columns).

    History is untouched — readers pinned to an earlier version see the
    pre-merge table forever (asserted by the registered query). Returns
    the new version number. One anti-join + one union; the write is the
    same single pass any snapshot write costs."""
    spark = changes.sparkSession
    latest = resolve_asof(spark, base, 1 << 30)
    _v, current = read_asof(spark, base, latest)
    touched = changes.filter(
        F.col(op_col).isin("U", "D")
    ).select(F.col(key_col))
    survivors = current.join(touched, key_col, "left_anti")
    additions = changes.filter(F.col(op_col).isin("I", "U")).drop(op_col)
    merged = survivors.unionByName(additions)
    write_snapshot(merged, base, latest + 1, key_col)
    return latest + 1


_K11_CUT = "1998-01-01"

_K11_ORACLE = f"""
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus
  FROM orders WHERE o_orderdate < DATE '{_K11_CUT}'
),
v2 AS (
  -- post-merge state: P-rows (pre-cut) deleted, F-rows (pre-cut)
  -- updated to status 'M', post-cut rows inserted as-is
  SELECT o_orderkey, 'M' AS o_orderstatus FROM v1 WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM v1
  WHERE o_orderstatus NOT IN ('F', 'P')
  UNION ALL
  SELECT o_orderkey, o_orderstatus
  FROM orders WHERE o_orderdate >= DATE '{_K11_CUT}'
)
SELECT 1 AS version, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM v1 GROUP BY 1, 2
UNION ALL
SELECT 2, o_orderstatus, CAST(count(*) AS BIGINT),
       CAST(sum(o_orderkey) AS BIGINT)
FROM v2 GROUP BY 1, 2
ORDER BY 1, 2
"""


def _register_k11():
    from machine_learning_with_spark_streaming_spark.registry import register
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    @register("k11_merge_into", oracle=_K11_ORACLE, bench=True)
    def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
        """K-family beyond-ref: MERGE (delete P / update F→M / insert
        post-cut rows) into a snapshot store, then read BOTH versions
        back as-of — certifying the merge semantics AND that history is
        immutable under it (snapshot isolation)."""
        import tempfile

        orders = load_table(spark, sf_dir, "orders")
        pre = orders.filter(F.col("o_orderdate") < _K11_CUT).select(
            "o_orderkey", "o_orderstatus"
        )
        base = os.path.join(tempfile.mkdtemp(prefix="mlwss_k11_"), "orders")
        write_snapshot(pre, base, 1, "o_orderkey")

        changes = (
            pre.filter(F.col("o_orderstatus") == "P")
            .select("o_orderkey", "o_orderstatus", F.lit("D").alias("op"))
            .unionByName(
                pre.filter(F.col("o_orderstatus") == "F").select(
                    "o_orderkey",
                    F.lit("M").alias("o_orderstatus"),
                    F.lit("U").alias("op"),
                )
            )
            .unionByName(
                orders.filter(F.col("o_orderdate") >= _K11_CUT).select(
                    "o_orderkey", "o_orderstatus", F.lit("I").alias("op")
                )
            )
        )
        v2 = merge_into_snapshot(base, changes, "o_orderkey")

        parts = []
        for ver in (1, v2):
            _v, snap = read_asof(spark, base, ver)
            parts.append(
                snap.groupBy("o_orderstatus").agg(
                    F.lit(ver).cast("int").alias("version"),
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("o_orderkey").cast("long").alias("key_sum"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(
            "version", "o_orderstatus", "n_rows", "key_sum"
        ).orderBy("version", "o_orderstatus")


_register_k11()


def write_audit_publish(
    df: DataFrame,
    base: str,
    key_col: str,
    gate,
) -> "tuple[bool, int | None, str]":
    """Iceberg-style Write-Audit-Publish: stage the data OUTSIDE the
    log (``_staging/v=<next>``), run the audit ``gate`` (a callable
    DataFrame -> (ok, reason) evaluated on the STAGED files, so the
    audit sees exactly the bytes readers would), and only then PUBLISH
    by renaming into place and committing the log row. A failed audit
    leaves the store byte-identical — readers can never observe a
    bad version, because visibility IS the log row (the s23 commit
    rule). Returns (published, version_or_None, reason)."""
    import shutil

    spark = df.sparkSession
    try:
        latest = resolve_asof(spark, base, 1 << 30)
    except Exception as exc:  # no log yet -> first version
        markers = ("no snapshot", "PATH_NOT_FOUND", "Path does not exist")
        if not any(m in str(exc) for m in markers):
            raise
        latest = 0
    version = latest + 1
    staging = os.path.join(f"{base}_staging", f"v={version}")
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    ok, reason = gate(staged)
    if not ok:
        shutil.rmtree(staging, ignore_errors=True)
        return False, None, reason
    final = os.path.join(base, f"v={version}")
    os.makedirs(base, exist_ok=True)
    os.rename(staging, final)
    back = spark.read.parquet(final)
    log_row = back.agg(
        F.lit(int(version)).cast("int").alias("version"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        _key_checksum(back, key_col).alias("key_checksum"),
    )
    log_row.write.mode("append").parquet(f"{base}_log")
    return True, version, reason


_K12_CUT = "1998-01-01"

_K12_ORACLE = f"""
WITH good AS (
  SELECT o_orderkey FROM orders WHERE o_orderdate < DATE '{_K12_CUT}'
)
SELECT 1 AS attempt, 'published' AS outcome,
       CAST(count(*) AS BIGINT) AS store_rows,
       CAST(1 AS INT) AS store_versions FROM good
UNION ALL
SELECT 2, 'rejected: null keys', CAST(count(*) AS BIGINT), CAST(1 AS INT)
FROM good
ORDER BY 1
"""


def _register_k12():
    from machine_learning_with_spark_streaming_spark.registry import register
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    @register("k12_write_audit_publish", oracle=_K12_ORACLE, bench=True)
    def q_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
        """K-family beyond-ref: WAP on the snapshot store — a clean
        write audits and publishes (attempt 1); a corrupted write
        (planted NULL keys) is rejected by the same gate and the store
        is PROVABLY unchanged (attempt 2 reports the same store state).
        The audit runs on the staged files, never on the input frame."""
        import tempfile

        orders = load_table(spark, sf_dir, "orders")
        good = orders.filter(F.col("o_orderdate") < _K12_CUT).select(
            "o_orderkey", "o_orderstatus"
        )
        bad = good.withColumn(
            "o_orderkey",
            F.when(F.col("o_orderstatus") == "P", None).otherwise(
                F.col("o_orderkey")
            ),
        )
        base = os.path.join(tempfile.mkdtemp(prefix="mlwss_k12_"), "orders")

        def gate(staged: DataFrame):
            n_null = staged.filter(F.col("o_orderkey").isNull()).count()
            return (n_null == 0, "published" if n_null == 0 else "rejected: null keys")

        rows = []
        for attempt, frame in ((1, good), (2, bad)):
            ok, _ver, reason = write_audit_publish(
                frame, base, "o_orderkey", gate
            )
            # one log read per attempt covers both the version count and
            # the latest-resolve (r12, guide §1.2 — was 2 jobs: count +
            # resolve aggregate over the same KB-sized log)
            versions = [
                int(r["version"])
                for r in spark.read.parquet(f"{base}_log")
                .select("version")
                .collect()
            ]
            n_versions = len(versions)
            snap = spark.read.parquet(
                os.path.join(base, f"v={max(versions)}")
            )
            rows.append((attempt, reason, snap.count(), n_versions))
            assert ok == (attempt == 1)
        return spark.createDataFrame(
            rows, "attempt int, outcome string, store_rows long, store_versions int"
        ).orderBy("attempt")


_register_k12()


def read_history_unified(spark: SparkSession, base: str) -> DataFrame:
    """Union ALL committed versions under one evolved schema
    (mergeSchema over the per-version dirs, version recovered from the
    directory name) — the "read my table's whole history after a
    column was added" shape: rows from pre-evolution versions surface
    the new column as NULL, exactly like Delta/Iceberg schema
    evolution. One multi-dir scan; per-version partition pruning still
    applies when a version filter is pushed."""
    log = spark.read.parquet(f"{base}_log")
    versions = sorted(int(r["version"]) for r in log.collect())
    paths = [os.path.join(base, f"v={v}") for v in versions]
    return (
        spark.read.option("mergeSchema", "true")
        .option("basePath", base)
        .parquet(*paths)
    )


_S27_CUT = "1998-01-01"

_S27_ORACLE = f"""
WITH v1 AS (
  SELECT o_orderkey FROM orders WHERE o_orderdate < DATE '{_S27_CUT}'
),
v2 AS (
  SELECT o_orderkey, o_orderpriority
  FROM orders WHERE o_orderdate >= DATE '{_S27_CUT}'
)
SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_with_priority FROM v1
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT), CAST(count(o_orderpriority) AS BIGINT)
FROM v2
ORDER BY 1
"""


def _register_s27():
    from machine_learning_with_spark_streaming_spark.registry import register
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    @register("s27_store_schema_evolution", oracle=_S27_ORACLE, bench=True)
    def q_store_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
        """S-family beyond-ref: version 2 adds a column; the unified
        history read surfaces version-1 rows with the new column NULL
        (write-side schema evolution on the snapshot store, the s17
        mergeSchema contract extended to versioned history)."""
        import tempfile

        orders = load_table(spark, sf_dir, "orders")
        base = os.path.join(tempfile.mkdtemp(prefix="mlwss_s27_"), "orders")
        write_snapshot(
            orders.filter(F.col("o_orderdate") < _S27_CUT).select("o_orderkey"),
            base, 1, "o_orderkey",
        )
        write_snapshot(
            orders.filter(F.col("o_orderdate") >= _S27_CUT).select(
                "o_orderkey", "o_orderpriority"
            ),
            base, 2, "o_orderkey",
        )
        hist = read_history_unified(spark, base)
        return (
            hist.groupBy(F.col("v").cast("int").alias("version"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count("o_orderpriority").cast("long").alias("n_with_priority"),
            )
            .orderBy("version")
        )


_register_s27()
