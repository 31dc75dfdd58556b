"""Registered ingest-edge queries over committed messy-feed fixtures.

``s1_header_autodetect`` exercises the reference's header-row scan
(``pipeline/lib.py:399-417``), candidate-column resolution
(``pipeline/lib.py:149-154``) and `` Performance`` suffix cleanup
(``pipeline/lib.py:157-159``) end-to-end on a fixture CSV with a junk
preamble. The DuckDB oracle reads the same committed file with an
explicit ``skip``, so the detection logic itself is what the comparison
certifies.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.sources.files import (
    find_latest_by_pattern,
    read_auto,
    read_csv,
    write_csv,
    write_orc,
)

_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "messy_feed.csv",
)

_HEADER_ORACLE = f"""
SELECT replace("Country", ' Performance', '') AS country,
       "Sales Organization" AS sales_organization,
       round(sum(CAST("Qty" AS DOUBLE)), 6) AS total_qty,
       CAST(count(*) AS BIGINT) AS n_rows
FROM read_csv('{_FIXTURE}', skip = 2, header = true, all_varchar = true)
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("s1_header_autodetect", oracle=_HEADER_ORACLE)
def q_header_autodetect(spark, sf_dir):
    """Messy-feed ingest: auto-detect the header row under a 2-line junk
    preamble, resolve the material column from drift candidates, strip
    the `` Performance`` country suffix, aggregate."""
    df = read_csv(
        spark,
        _FIXTURE,
        detect_header=True,
        col_candidates={"material": ["Material", "Material Number", "MatNr"]},
        required_cols=["material", "Country", "Qty"],
    )
    return (
        df.select(
            F.regexp_replace(F.col("Country"), " Performance$", "").alias("country"),
            F.col("Sales Organization").alias("sales_organization"),
            F.col("Qty").cast("double").alias("qty"),
        )
        .groupBy("country", "sales_organization")
        .agg(
            F.round(F.sum("qty"), 6).alias("total_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("country", "sales_organization")
    )


_J13_ORACLE = """
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l.l_quantity), 6) AS total_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
"""


@register("j13_bucketed_colocated_join", oracle=_J13_ORACLE)
def q_bucketed_colocated_join(spark, sf_dir):
    """Fact-fact join through bucketed storage: both sides written
    bucketed+sorted on the order key, then joined shuffle-free (the
    no-Exchange plan shape is asserted in tests/test_bucketed.py; this
    query certifies the bucketed path's *values* against the plain-join
    oracle)."""
    import getpass
    import hashlib
    import os
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.bucketed import (
        colocated_join,
        write_bucketed,
    )

    # deterministic per-dataset names + overwrite mode: repeated runs
    # (warm-up + timed bench, repeated certification) replace the same
    # two tables and path instead of leaking uuid-named copies
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    work = os.path.join(
        tempfile.gettempdir(), f"mlwss_bucketed_{getpass.getuser()}", tag
    )
    os.makedirs(work, exist_ok=True)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    lt, ot = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    write_bucketed(li, lt, ["l_orderkey"], 8, f"{work}/{lt}")
    write_bucketed(orders, ot, ["l_orderkey"], 8, f"{work}/{ot}")
    joined = colocated_join(spark, lt, ot, on=["l_orderkey"])
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 6).alias("total_qty"),
        )
        .orderBy("priority")
    )


# ------------------------------------------------------------------ K5
# Lake maintenance (sources/maintenance.py), driver-certified: each
# query clones a testdata table into a scratch dir, runs the
# maintenance op for real, and returns a post-op summary the oracle
# recomputes from the *source* table — certifying that DELETE removed
# exactly the predicate rows and that compaction preserved the data
# bit-for-bit while shrinking the file count. Reference parity:
# pipeline/SqlUpload.py:33-41 (DELETE/TRUNCATE upkeep).

_K5_DELETE_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F')
         AS n_deleted
FROM orders WHERE o_orderstatus <> 'F'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register("k5_delete_where", oracle=_K5_DELETE_ORACLE)
def q_k5_delete_where(spark, sf_dir):
    """Copy-on-write DELETE on a scratch clone of ``orders`` (drop all
    'F'-status rows), then summarize the surviving table. The oracle
    recomputes survivors + deleted count from the source, so the check
    certifies the rewrite deleted exactly the predicate rows."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.maintenance import delete_where

    tbl = os.path.join(tempfile.mkdtemp(prefix="mlwss_k5_del_"), "orders")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").parquet(tbl)
    n_deleted = delete_where(spark, tbl, F.col("o_orderstatus") == "F")
    return (
        spark.read.parquet(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
        .withColumn("n_deleted", F.lit(n_deleted).cast("long"))
        .orderBy("o_orderstatus")
    )


_K5_COMPACT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(sum(l_quantity) AS DOUBLE) AS total_qty,
       TRUE AS compacted
FROM lineitem
"""


@register("k5_compaction", oracle=_K5_COMPACT_ORACLE)
def q_k5_compaction(spark, sf_dir):
    """Fragment a scratch clone of ``lineitem`` into 64 small files,
    compact it, and summarize the compacted table. ``compacted`` asserts
    the file count actually shrank; the content aggregates certify the
    rewrite lost/duplicated nothing (sum of integral quantities is
    exact in doubles)."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.maintenance import compact_files

    tbl = os.path.join(tempfile.mkdtemp(prefix="mlwss_k5_cmp_"), "lineitem")
    load_table(spark, sf_dir, "lineitem").repartition(64).write.mode(
        "overwrite"
    ).parquet(tbl)
    before, after = compact_files(spark, tbl, target_file_bytes=64 * 1024 * 1024)
    return spark.read.parquet(tbl).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum("l_quantity").alias("total_qty"),
        F.lit(after < before).alias("compacted"),
    )


# --------------------------------------------------------- K1 / S3 / S4
# File-edge certification: the CSV sink, the auto-format dispatcher and
# the latest-file selector run for real inside registered queries, with
# oracles over the source tables. Converts the remaining tests-only
# ingest plumbing into driver-certified rows.

_K1_ROUNDTRIP_ORACLE = """
SELECT CAST(n_regionkey AS INT) AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(length(n_name)) AS BIGINT) AS name_chars
FROM nation GROUP BY 1 ORDER BY 1
"""


@register("k1_csv_roundtrip", oracle=_K1_ROUNDTRIP_ORACLE)
def q_k1_csv_roundtrip(spark, sf_dir):
    """K1+S3: write ``nation`` through the CSV sink, read it back via
    the auto-format dispatcher (extension -> CSV branch), aggregate.
    The oracle aggregates the source table, so the check certifies the
    sink+scan round trip lost nothing (types rehydrated by cast — CSV
    is stringly typed by design)."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table

    out = os.path.join(tempfile.mkdtemp(prefix="mlwss_k1_"), "nation_csv")
    write_csv(load_table(spark, sf_dir, "nation"), out)
    back = read_auto(spark, os.path.join(out, "*.csv"))
    return (
        back.select(
            F.col("n_regionkey").cast("int").alias("region"),
            F.length("n_name").alias("name_len"),
        )
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("name_len").cast("bigint").alias("name_chars"),
        )
        .orderBy("region")
    )


_S4_LATEST_ORACLE = """
SELECT CAST(s_nationkey AS INT) AS nation,
       CAST(count(*) AS BIGINT) AS n_suppliers
FROM supplier WHERE s_nationkey < 15
GROUP BY 1 ORDER BY 1
"""


@register("s4_latest_snapshot_file", oracle=_S4_LATEST_ORACLE)
def q_s4_latest_snapshot_file(spark, sf_dir):
    """S4: stage two dated snapshot exports (YYYYMMDD filenames, the
    reference's convention), let ``find_latest_by_pattern`` pick the
    newer one, and aggregate it. The oracle recomputes from the newer
    snapshot's defining filter, so a wrong pick (older file = nation < 5
    only) hash-mismatches."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table

    d = tempfile.mkdtemp(prefix="mlwss_s4_")
    sup = load_table(spark, sf_dir, "supplier")
    old_pd = sup.filter(F.col("s_nationkey") < 5).toPandas()
    new_pd = sup.filter(F.col("s_nationkey") < 15).toPandas()
    old_pd.to_csv(os.path.join(d, "suppliers_20230101.csv"), index=False)
    new_pd.to_csv(os.path.join(d, "suppliers_20240615.csv"), index=False)
    latest = find_latest_by_pattern(os.path.join(d, "suppliers_*.csv"))
    assert latest and latest.endswith("suppliers_20240615.csv")
    return (
        read_auto(spark, latest)
        .select(F.col("s_nationkey").cast("int").alias("nation"))
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .orderBy("nation")
    )


_S5_JDBC_ORACLE = """
SELECT CAST(n_regionkey AS INT) AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(min(n_nationkey) AS BIGINT) AS min_key,
       CAST(max(n_nationkey) AS BIGINT) AS max_key
FROM nation WHERE n_nationkey >= 5
GROUP BY 1 ORDER BY 1
"""


@register("s5_jdbc_roundtrip", oracle=_S5_JDBC_ORACLE)
def q_s5_jdbc_roundtrip(spark, sf_dir):
    """S5+K3 against a LIVE SQL engine: write ``nation`` to embedded
    Derby (driver jar ships inside pyspark), read it back over JDBC
    with a pushed predicate, aggregate. The oracle recomputes from the
    source table, so the check certifies batched insert + typed
    round-trip + remote filter together."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.jdbc import read_table, write_table

    url = f"jdbc:derby:{tempfile.mkdtemp(prefix='mlwss_s5_')}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    write_table(
        load_table(spark, sf_dir, "nation"), url, "nation_rt",
        mode="overwrite",
        properties={**props, "createTableColumnTypes": "n_name VARCHAR(64)"},
    )
    back = read_table(spark, url, "nation_rt", properties=props).filter(
        F.col("n_nationkey") >= 5  # pushes into Derby's WHERE clause
    )
    return (
        back.groupBy(F.col("n_regionkey").cast("int").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_nationkey").alias("min_key"),
            F.max("n_nationkey").alias("max_key"),
        )
        .orderBy("region")
    )


_S2_XLSX_ORACLE = """
SELECT CAST(r_regionkey AS INT) AS region,
       r_name,
       CAST(length(r_name) AS BIGINT) AS name_chars
FROM region ORDER BY 1
"""


@register("s2_xlsx_roundtrip", oracle=_S2_XLSX_ORACLE)
def q_s2_xlsx_roundtrip(spark, sf_dir):
    """S2+K2: export ``region`` through the stdlib xlsx writer, scan it
    back with the Excel reader (stdlib zip+XML fallback path), project.
    Oracle reads the source table — certifies the workbook round trip
    preserved keys, strings and lengths."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.files import (
        read_excel_via_pandas,
        write_excel,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="mlwss_s2_"), "region.xlsx")
    write_excel(load_table(spark, sf_dir, "region"), path)
    back = read_excel_via_pandas(spark, path)
    return back.select(
        F.col("r_regionkey").cast("int").alias("region"),
        F.col("r_name").cast("string").alias("r_name"),
        F.length(F.col("r_name").cast("string")).cast("bigint").alias(
            "name_chars"
        ),
    ).orderBy("region")


_K7_NOTIFY_ORACLE = """
SELECT 'ERROR' AS severity,
       'qc: error event over threshold' AS subject,
       concat_ws(' ',
         'event_id=' || coalesce(CAST(event_id AS VARCHAR), 'null'),
         'user_id='  || coalesce(CAST(user_id  AS VARCHAR), 'null'),
         'value='    || coalesce(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
                                 'null')) AS body
FROM events
WHERE event_type = 'error' AND CAST(value AS DECIMAL(18,2)) > 9.5
ORDER BY body
"""


@register("k7_notification_records", oracle=_K7_NOTIFY_ORACLE)
def q_k7_notification_records(spark, sf_dir):
    """K7: notification *records* from anomalous rows (reference
    ``packages/myNotifyClass.py`` emails re-expressed as data).

    The body assembly (k=v pairs, NULL-safe) is what the oracle
    certifies; ``ts`` is stamped at emit time so the deterministic
    contract covers severity/subject/body. ``value`` is pre-cast to
    DECIMAL(18,2) so both engines render identical strings (raw
    double-to-string formatting is engine-specific).
    """
    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.notify import notification_rows

    events = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    notes = notification_rows(
        events,
        (F.col("event_type") == "error") & (F.col("value") > 9.5),
        subject="qc: error event over threshold",
        body_cols=["event_id", "user_id", "value"],
    )
    return notes.select("severity", "subject", "body").orderBy("body")


_S3_JSONL_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents
GROUP BY lang ORDER BY lang
"""


@register("s3_jsonl_roundtrip", oracle=_S3_JSONL_ORACLE)
def q_s3_jsonl_roundtrip(spark, sf_dir):
    """S3 + JSONL: export ``documents`` as JSON-lines (the de-facto LLM
    corpus interchange format), scan it back through the auto-format
    dispatcher, aggregate. The oracle reads the source table — the
    comparison certifies that the JSONL round trip preserved every
    string byte (JSON escaping included) and numeric value."""
    import glob as _glob
    import shutil
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.files import read_auto

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="mlwss_s3_")
    out_dir = f"{work}/docs_json"
    docs.coalesce(1).write.mode("overwrite").json(out_dir)
    part = _glob.glob(f"{out_dir}/part-*.json")[0]
    jsonl = f"{work}/documents.jsonl"
    shutil.move(part, jsonl)
    back = (
        read_auto(spark, jsonl)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        )
        .orderBy("lang")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return back


_K3_COERCE_ORACLE = """
WITH drifted AS (
  -- the mistyped extract: every column serialized as text, names
  -- case-mangled, order scrambled, plus an extra column to drop
  SELECT CAST(o_totalprice AS VARCHAR) AS O_TOTALPRICE,
         o_orderpriority AS extra_col,
         CAST(o_orderkey AS VARCHAR) AS O_ORDERKEY,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         o_orderstatus
  FROM orders
),
fixed AS (
  -- the coercion: cast back to the target table's types
  SELECT CAST(O_ORDERKEY AS BIGINT) AS o_orderkey,
         o_orderstatus,
         CAST(O_TOTALPRICE AS DOUBLE) AS o_totalprice,
         CAST(o_orderdate AS DATE) AS o_orderdate
  FROM drifted
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(min(o_orderdate) AS VARCHAR) AS first_date,
       CAST(max(o_orderdate) AS VARCHAR) AS last_date
FROM fixed GROUP BY 1 ORDER BY 1
"""


@register("k3_sink_schema_coercion", oracle=_K3_COERCE_ORACLE)
def q_sink_schema_coercion(spark, sf_dir):
    """K3 sink-schema coercion (DryRun parity, pipeline/DryRun.py:
    115-188): a deliberately mistyped extract — every column as text,
    names case-mangled, order scrambled, an extra column riding along —
    coerced back to the target table's schema by ``coerce_to_schema``
    (the same cast path ``coerce_to_table_schema`` applies after
    introspecting a live JDBC table; the live half is certified against
    embedded Derby in tests/test_jdbc_derby.py). The aggregate
    certifies every cast expression: string→bigint (sum_key),
    string→double (exact integer cents), string→date (min/max)."""
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.jdbc import coerce_to_schema

    orders = load_table(spark, sf_dir, "orders")
    drifted = orders.select(
        F.col("o_totalprice").cast("string").alias("O_TOTALPRICE"),
        F.col("o_orderpriority").alias("extra_col"),
        F.col("o_orderkey").cast("string").alias("O_ORDERKEY"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderstatus",
    )
    target = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", DateType()),
        ]
    )
    fixed = coerce_to_schema(drifted, target)
    return (
        fixed.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("sum_key"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
            F.min("o_orderdate").cast("string").alias("first_date"),
            F.max("o_orderdate").cast("string").alias("last_date"),
        )
        .orderBy("o_orderstatus")
    )


_S16_ORC_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)) * 100) AS BIGINT)
         AS price_cents,
       CAST(max(o_orderdate) AS VARCHAR) AS last_date
FROM orders
GROUP BY 1 ORDER BY 1
"""


@register("s16_orc_roundtrip", oracle=_S16_ORC_ORACLE)
def q_s16_orc_roundtrip(spark, sf_dir):
    """S3/K1 family, ORC leg: write ``orders`` through the ORC sink,
    scan it back via the auto-format dispatcher (extension -> .orc
    branch), aggregate. The oracle aggregates the parquet source, so
    the check certifies the typed round trip — counts, decimal-exact
    money, and timestamp values all survive the format hop (ORC is
    natively typed, unlike the stringly CSV leg)."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table

    out = os.path.join(tempfile.mkdtemp(prefix="mlwss_s16_"), "orders_orc")
    write_orc(load_table(spark, sf_dir, "orders"), out)
    back = read_auto(spark, os.path.join(out, "*.orc"))
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(27,6)")) * 100)
            .cast("long")
            .alias("price_cents"),
            F.max("o_orderdate").cast("string").alias("last_date"),
        )
        .orderBy("o_orderpriority")
    )


_S17_EVOLUTION_ORACLE = """
SELECT CAST(s_nationkey AS INT) AS nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CASE WHEN s_suppkey >= 50
                     THEN CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS new_bal_cents,
       CAST(sum(CASE WHEN s_suppkey < 50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_legacy
FROM supplier
GROUP BY 1 ORDER BY 1
"""


@register("s17_schema_evolution_read", oracle=_S17_EVOLUTION_ORACLE)
def q_s17_schema_evolution_read(spark, sf_dir):
    """Schema-evolution scan: a table directory whose early files were
    written BEFORE a column existed (suppliers < 50 without
    ``s_acctbal``) and whose later files carry it. ``mergeSchema``
    reconciles the footers at planning time; legacy rows surface the
    new column as NULL — the lake-evolution contract every long-lived
    100 TB table eventually needs. The oracle replays the split from
    the source, so a reader that dropped legacy rows, nulled the wrong
    side, or failed the footer merge all hash-mismatch."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table

    sup = load_table(spark, sf_dir, "supplier")
    root = os.path.join(tempfile.mkdtemp(prefix="mlwss_s17_"), "supplier_evo")
    sup.filter(F.col("s_suppkey") < 50).drop("s_acctbal").write.mode(
        "overwrite"
    ).parquet(f"{root}/batch=old")
    sup.filter(F.col("s_suppkey") >= 50).write.mode("overwrite").parquet(
        f"{root}/batch=new"
    )
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        back.groupBy(F.col("s_nationkey").cast("int").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(
                F.coalesce(
                    (F.col("s_acctbal").cast("decimal(18,2)") * 100).cast("long"),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("new_bal_cents"),
            F.sum(F.col("s_acctbal").isNull().cast("long")).alias("n_legacy"),
        )
        .orderBy("nation")
    )


_S18_GZIP_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM documents
GROUP BY lang ORDER BY lang
"""


@register("s18_gzip_jsonl_roundtrip", oracle=_S18_GZIP_ORACLE)
def q_s18_gzip_jsonl_roundtrip(spark, sf_dir):
    """Compressed-corpus ingest: export ``documents`` as gzip JSONL (the
    wire format most crawled-text dumps arrive in), scan it back,
    aggregate. Spark decompresses .gz transparently BUT a gzip member
    is one unsplittable stream — one task per file regardless of size —
    so the export writes MANY gzip parts (per-partition files), which
    is exactly how a 100 TB crawl should be laid out (or zstd/bzip2
    for in-file splittability). The oracle reads the source table, so
    the check certifies bytes survive compression + JSON escaping."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.mkdtemp(prefix="mlwss_s18_"), "docs_gz")
    docs.repartition(8).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(out)
    back = spark.read.json(f"{out}/*.json.gz")
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("sum_text_len"),
            F.min("doc_id").cast("long").alias("min_doc"),
        )
        .orderBy("lang")
    )


_K9_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                ::BIGINT) AS VARCHAR) AS key_checksum,
       TRUE AS manifest_ok
FROM orders
"""


@register("k9_manifest_sink", oracle=_K9_ORACLE)
def q_k9_manifest_sink(spark, sf_dir):
    """K9: write ``orders`` with an integrity manifest (row count + an
    order-independent md5-sum key checksum), then VALIDATE the written
    table against its own manifest. The oracle recomputes both numbers
    from the source, so the row certifies the whole loop: nothing lost
    or duplicated in the write, and the validator agrees. The checksum
    sum exceeds BIGINT range by design (600k x 60-bit terms), so both
    engines carry it exact — decimal(38,0) / HUGEINT — and emit it as a
    string."""
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.sources.maintenance import (
        validate_manifest,
        write_with_manifest,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(tempfile.mkdtemp(prefix="mlwss_k9_"), "orders")
    write_with_manifest(orders, path, "o_orderkey")
    n, c, mn, mc, ok = validate_manifest(spark, path, "o_orderkey")
    assert (n, c) == (mn, mc), "manifest validation must agree with itself"
    return spark.createDataFrame(
        [(mn, mc, bool(ok))],
        "n_rows long, key_checksum string, manifest_ok boolean",
    )


# -------------------------------------- S19: hive-partitioned layout

_S19_ORACLE = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1 ORDER BY 1
"""


@register("s19_hive_partitioned_roundtrip", oracle=_S19_ORACLE, bench=True)
def q_hive_partitioned_roundtrip(spark, sf_dir):
    """Hive-partitioned lake layout: write a scratch clone of ``orders``
    partitioned by ``o_orderpriority`` (directory-encoded values), read
    it back with a partition-key predicate, and aggregate monthly. The
    oracle recomputes from the unpartitioned source, so the comparison
    certifies the partitioned write/read round-trip loses and leaks
    nothing across partition boundaries.

    Scale shape: the predicate prunes at PLANNING time — only the
    ``o_orderpriority=1-URGENT`` directory is listed and scanned, the
    other four partitions contribute zero I/O (asserted on the physical
    plan in tests/test_sources_more.py). This is the layout that turns
    a 100 TB full scan into a per-priority scan.

    Revenue is summed as exact per-row integer cents (o_totalprice has
    2 dp), so the aggregate is order-independent cross-engine."""
    import shutil
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table

    work = tempfile.mkdtemp(prefix="mlwss_s19_")
    tbl = os.path.join(work, "orders_part")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(tbl)
    part = spark.read.parquet(tbl).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    out = (
        part.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("order_month")
        # materialize, then remove the scratch clone: repeated
        # cert/bench/stress sweeps must not leak a full orders copy per
        # run (r6 ADVICE item 3)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


# ----------------------------- S20: malformed-JSONL tolerant ingest

_MALFORMED_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "malformed_feed.jsonl",
)

_S20_ORACLE = f"""
WITH j AS (
  SELECT * FROM read_json('{_MALFORMED_FIXTURE}',
    columns = {{id: 'BIGINT', qty: 'DOUBLE', tag: 'VARCHAR'}},
    format = 'newline_delimited', ignore_errors = true)
)
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(id) AS BIGINT) AS n_good,
       CAST(count(*) - count(id) AS BIGINT) AS n_corrupt,
       CAST(sum(CAST(round(qty * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(count(DISTINCT tag) AS BIGINT) AS n_tags
FROM j
"""


@register("s20_malformed_jsonl", oracle=_S20_ORACLE, bench=True)
def q_malformed_jsonl(spark, sf_dir):
    """Tolerant JSONL ingest over a committed fixture with broken
    lines: PERMISSIVE mode + ``columnNameOfCorruptRecord`` keeps the
    pipeline running and ACCOUNTS for every bad line instead of
    failing the job or silently dropping rows — the ingest-robustness
    contract a crawl-dump reader needs (the K8 side-output's parser
    sibling). DuckDB's ``ignore_errors`` materializes bad lines as
    all-NULL rows, so both engines agree line-for-line on what parsed
    (verified: 12 lines, 8 good, corrupt rows carry no field values);
    the comparison certifies the good/corrupt split and that corrupt
    lines contribute nothing to the aggregates. qty is summed as exact
    integer cents."""
    df = (
        spark.read.schema("id long, qty double, tag string, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(_MALFORMED_FIXTURE)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("id").alias("n_good"),
        (F.count(F.lit(1)) - F.count("id")).alias("n_corrupt"),
        F.sum(F.round(F.col("qty") * 100).cast("long")).alias("qty_cents"),
        F.countDistinct("tag").alias("n_tags"),
    )


# ------------------------- S21: multiLine JSON-array document ingest

_ARRAY_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "array_feed.json",
)

_S21_ORACLE = f"""
SELECT tag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(qty * 100) AS BIGINT)) AS BIGINT) AS qty_cents
FROM read_json('{_ARRAY_FIXTURE}',
  columns = {{id: 'BIGINT', qty: 'DOUBLE', tag: 'VARCHAR'}},
  format = 'array')
GROUP BY 1 ORDER BY 1
"""


@register("s21_multiline_json_array", oracle=_S21_ORACLE, bench=True)
def q_multiline_json_array(spark, sf_dir):
    """API-dump ingest: one JSON ARRAY document spanning many lines
    (the REST-export wire shape, vs s3/s20's line-delimited form) read
    with ``multiLine`` — without it Spark would try one JSON document
    per LINE and corrupt every record. A whole multiLine document is
    one unsplittable task, which is exactly why pipelines convert to
    JSONL/parquet at the edge; this query certifies the conversion
    entry point."""
    df = (
        spark.read.schema("id long, qty double, tag string")
        .option("multiLine", True)
        .json(_ARRAY_FIXTURE)
    )
    return (
        df.groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("qty") * 100).cast("long")).alias("qty_cents"),
        )
        .orderBy("tag")
    )


# ------------------- S22: dynamic partition overwrite (surgical rewrite)

_S22_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_f_status
FROM orders
WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')
GROUP BY 1 ORDER BY 1
"""


@register("s22_dynamic_partition_overwrite", oracle=_S22_ORACLE, bench=True)
def q_dynamic_partition_overwrite(spark, sf_dir):
    """Surgical partition rewrite: with ``partitionOverwriteMode=dynamic``
    an overwrite replaces ONLY the partitions present in the written
    frame — here the '1-URGENT' directory is rewritten without its 'F'
    rows while the other four partition directories are untouched (in
    static mode the same write would WIPE them; at 100 TB that is the
    difference between rewriting one partition and losing the table).
    The oracle recomputes the post-rewrite state from the source, so
    untouched-partition integrity and the surgical delete are certified
    together. Per-write option, not a session-conf mutation."""
    import shutil
    import tempfile

    from machine_learning_with_spark_streaming_spark.schemas import load_table

    work = tempfile.mkdtemp(prefix="mlwss_s22_")
    tbl = os.path.join(work, "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(tbl)
    urgent_kept = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderstatus") != "F")
    )
    (
        urgent_kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority")
        .parquet(tbl)
    )
    out = (
        spark.read.parquet(tbl)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).cast("long").alias("n_f_status"),
        )
        .orderBy("priority")
        # materialize, then remove the scratch clone (r6 ADVICE item 3:
        # repeated sweeps leaked one orders copy per run)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out
