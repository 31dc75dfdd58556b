"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API) —
the engine's EXTENSION POINT for feeds Spark has no built-in reader
for. The reference's SharePoint/REST-style fetchers (SURVEY §2 S9,
declared driver-side out of engine scope) would plug in exactly here:
a DataSource subclass whose reader partitions the remote listing and
pulls each partition executor-side.

The registered demonstration is a JSONL-lines source with explicit
partition planning: the input directory's files are listed at PLAN
time (one ``InputPartition`` per file — the split contract a remote
listing would use), each partition parses its file executor-side with
the stdlib ``json`` module, and malformed lines are counted into a
``_corrupt`` flag column instead of killed (the S20 malformed-ingest
contract). The certified query round-trips a deterministic slice of
``orders`` through the custom source and aggregates — proving schema,
partition planning, and per-partition reads all behave.

Scale shape: one partition per file = the natural remote-fetch
parallelism; nothing is driver-side except the listing. Arrow is not
required by the API (rows yield as tuples); for wide feeds a real
deployment yields pyarrow record batches instead — same plumbing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class _JsonlPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class JsonlDataSource(DataSource):
    """``spark.read.format("mlwss_jsonl")`` — schema is caller-supplied
    (``.schema(...)``), option ``path`` points at a directory of
    ``*.jsonl`` files."""

    @classmethod
    def name(cls) -> str:
        return "mlwss_jsonl"

    def reader(self, schema):
        return _JsonlReader(schema, self.options)


class _JsonlReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.path = options["path"]

    def partitions(self):
        files = sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".jsonl")
        )
        return [_JsonlPartition(p) for p in files]

    def read(self, partition):
        names = [f.name for f in self.schema.fields if f.name != "_corrupt"]
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    rec = json.loads(line)
                    yield tuple(rec.get(n) for n in names) + (False,)
                except (ValueError, TypeError, AttributeError):
                    yield tuple(None for _ in names) + (True,)


_S25_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(0 AS BIGINT) AS n_corrupt
FROM orders WHERE o_orderkey % 10 = 3
GROUP BY 1 ORDER BY 1
"""


def _register_s25():
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from machine_learning_with_spark_streaming_spark.registry import register
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    @register("s25_python_datasource", oracle=_S25_ORACLE, bench=True)
    def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
        """S-family beyond-ref: stage a deterministic orders slice as 4
        JSONL files, read it back through the registered CUSTOM Python
        DataSource (one InputPartition per file), and aggregate —
        certifying schema, partition planning, and executor-side reads
        against the parquet-path oracle."""
        import tempfile

        spark.dataSource.register(JsonlDataSource)

        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") % 10 == 3
        )
        rows = orders.select("o_orderkey", "o_orderstatus").collect()
        work = tempfile.mkdtemp(prefix="mlwss_s25_")
        n_files = 4
        handles = [
            open(os.path.join(work, f"{i:02d}.jsonl"), "w", encoding="utf-8")
            for i in range(n_files)
        ]
        try:
            for r in rows:
                handles[r["o_orderkey"] % n_files].write(
                    json.dumps(
                        {
                            "o_orderkey": r["o_orderkey"],
                            "o_orderstatus": r["o_orderstatus"],
                        }
                    )
                    + "\n"
                )
        finally:
            for h in handles:
                h.close()

        back = (
            spark.read.format("mlwss_jsonl")
            .schema(
                "o_orderkey long, o_orderstatus string, _corrupt boolean"
            )
            .option("path", work)
            .load()
        )
        return (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.col("_corrupt").cast("long"))
                .cast("long")
                .alias("n_corrupt"),
            )
            .orderBy("o_orderstatus")
        )


_register_s25()


# ----------------------------------------------- distributed xlsx scan


class _XlsxPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class XlsxDataSource(DataSource):
    """``spark.read.format("mlwss_xlsx")`` — a DISTRIBUTED Excel scan
    (VERDICT r10 item 4): option ``path`` is a directory of ``*.xlsx``
    workbooks, planning lists the files (one ``InputPartition`` each),
    and every partition parses its workbook EXECUTOR-side with the
    stdlib zip+XML parser in ``sources/xlsx.py`` (reference reads
    workbooks driver-side via pandas+openpyxl,
    ``packages/myFileClass.py:117-120`` / ``pipeline/lib.py:92-101`` —
    fine for one lookup file, a driver bottleneck for a corpus).

    Options: ``sheet`` (index or name, default 0), ``header``
    ("true"/"false", default true: first row of every file is a header
    and is skipped). Schema is caller-supplied; cells map positionally
    and coerce to the field type (xlsx numerics surface as floats, so
    integer fields re-truncate; extra columns are ignored, missing ones
    are NULL)."""

    @classmethod
    def name(cls) -> str:
        return "mlwss_xlsx"

    def reader(self, schema):
        return _XlsxReader(schema, self.options)


class _XlsxReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.path = options["path"]
        sheet = options.get("sheet", "0")
        self.sheet: int | str = int(sheet) if sheet.lstrip("-").isdigit() else sheet
        self.header = options.get("header", "true").lower() == "true"

    def partitions(self):
        files = sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".xlsx")
        )
        return [_XlsxPartition(p) for p in files]

    def read(self, partition):
        # executor-side import: keep the parser off the plan/pickle path
        from machine_learning_with_spark_streaming_spark.sources.xlsx import read_xlsx_rows

        fields = self.schema.fields
        n = len(fields)

        def coerce(v, dt):
            if v is None:
                return None
            t = dt.typeName()
            if t in ("long", "integer", "short", "byte"):
                return int(v)
            if t in ("double", "float"):
                return float(v)
            if t == "boolean":
                return bool(v)
            if t == "string":
                return v if isinstance(v, str) else str(v)
            return v

        rows = read_xlsx_rows(partition.path, self.sheet)
        if self.header and rows:
            rows = rows[1:]
        for r in rows:
            padded = list(r[:n]) + [None] * (n - len(r))
            yield tuple(coerce(v, f.dataType) for v, f in zip(padded, fields))


_S2D_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM orders WHERE o_orderkey % 10 = 7
GROUP BY 1 ORDER BY 1
"""


def _register_s2_distributed():
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from machine_learning_with_spark_streaming_spark.registry import register
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    @register("s2_xlsx_distributed", oracle=_S2D_ORACLE)
    def q_xlsx_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
        """S2 at corpus scale: stage a deterministic orders slice as 4
        xlsx workbooks, scan them back through the mlwss_xlsx Python
        DataSource (one partition per file, stdlib parse executor-side)
        and aggregate — money summed as exact cents so the xlsx number
        round-trip is hash-certifiable against the parquet oracle."""
        import tempfile

        from machine_learning_with_spark_streaming_spark.sources.xlsx import write_xlsx

        spark.dataSource.register(XlsxDataSource)

        rows = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 7)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .collect()
        )
        work = tempfile.mkdtemp(prefix="mlwss_s2d_")
        n_files = 4
        header = ["o_orderkey", "o_orderstatus", "o_totalprice"]
        buckets: list[list[list]] = [[header] for _ in range(n_files)]
        for r in rows:
            buckets[r["o_orderkey"] % n_files].append(
                [r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"]]
            )
        for i, b in enumerate(buckets):
            write_xlsx(os.path.join(work, f"{i:02d}.xlsx"), b)

        back = (
            spark.read.format("mlwss_xlsx")
            .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
            .option("path", work)
            .option("header", "true")
            .load()
        )
        return (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("price_cents"),
            )
            .orderBy("o_orderstatus")
        )


_register_s2_distributed()
