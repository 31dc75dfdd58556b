"""File sources/sinks (S1-S4, K1, K8 of SURVEY.md §2.1).

The reference unions folder listings of CSVs in driver Python
(``packages/myFileClass.py:89-131``); Spark's reader takes the whole path
list / glob natively and parallelizes the scan. Lineage (``FileName``
column) is ``input_file_name()``. The per-file schema conformance gate
(``pipeline/SqlUpload.py:76-79``) becomes an explicit-schema read plus a
required-column assertion.

Scale notes: explicit schemas (no inference pass over 100 TB), globs
pushed to the catalog/file index, and ``badRecordsPath``-style permissive
parsing instead of per-file Python try/except.
"""

from __future__ import annotations

import glob as _glob
import os
import re
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from machine_learning_with_spark_streaming_spark.operators.validation import conformance_gate


DEFAULT_HEADER_MARKERS: list[set[str]] = [
    {"cal. year / month", "actual/forecast"},
    {"sales organization", "country"},
]


def detect_header_row(
    path: str,
    marker_sets: list[set[str]] | None = None,
    max_scan_rows: int = 10,
    encoding: str = "ISO-8859-1",
    default: int = 0,
) -> int:
    """Scan the first ``max_scan_rows`` raw lines for a row containing all
    names of any marker set; return its 0-based index (reference
    ``pipeline/lib.py:399-417``). Driver-side by design and O(lines
    scanned) regardless of file size — it only decides what the
    distributed scan skips."""
    marker_sets = marker_sets or DEFAULT_HEADER_MARKERS
    with open(path, encoding=encoding) as f:
        for i in range(max_scan_rows):
            line = f.readline()
            if not line:
                break
            cells = {c.strip().strip('"').lower() for c in line.rstrip("\n").split(",")}
            if any(markers <= cells for markers in marker_sets):
                return i
    return default


def pick_col(df: DataFrame, candidates: list[str], required: bool = True) -> str | None:
    """First present of N candidate column names (reference
    ``pipeline/lib.py:149-154``; ``material_candidates`` in runner.py:33)."""
    for c in candidates:
        if c in df.columns:
            return c
    if required:
        raise KeyError(f"Missing required column(s): {candidates}")
    return None


def resolve_columns(
    df: DataFrame, col_candidates: dict[str, list[str]], required: bool = True
) -> DataFrame:
    """Rename the first present candidate of each entry to its canonical
    name — the schema-drift shim messy feeds need before a JobSpec can
    assume exact names."""
    renames: dict[str, str] = {}
    for canonical, candidates in col_candidates.items():
        if canonical in df.columns:
            continue
        found = pick_col(df, candidates, required)
        if found is not None:
            renames[found] = canonical
    return df.withColumnsRenamed(renames) if renames else df


def dedupe_column_names(df: DataFrame, sep: str = "__dup") -> DataFrame:
    """Positionally rename repeated column names (``x, x`` ->
    ``x, x__dup1``) so each is addressable — messy exports (the SAP GERS
    feed, reference ``pipeline/lib.py:300-319``) repeat header names."""
    seen: dict[str, int] = {}
    out = []
    for c in df.columns:
        k = seen.get(c, 0)
        seen[c] = k + 1
        out.append(c if k == 0 else f"{c}{sep}{k}")
    return df.toDF(*out)


def select_duplicate_columns(
    df: DataFrame, specs: dict[str, tuple[str, int]]
) -> DataFrame:
    """Project specific occurrences of repeated column names:
    ``{"country": ("Country", 1)}`` selects the second positional
    ``Country`` as ``country`` (reference ``pick_duplicate``,
    pipeline/lib.py:305-319). Raises KeyError when a name is absent,
    IndexError when fewer occurrences exist."""
    unique = dedupe_column_names(df)
    cols = []
    for alias, (name, index) in specs.items():
        positions = [i for i, c in enumerate(df.columns) if c == name]
        if not positions:
            raise KeyError(f"Column {name!r} not found.")
        cols.append(F.col(unique.columns[positions[index]]).alias(alias))
    return unique.select(*cols)


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType | None = None,
    header: bool = True,
    skip_rows: int | None = None,
    encoding: str = "ISO-8859-1",
    required_cols: list[str] | None = None,
    with_filename: bool = False,
    column_names: list[str] | None = None,
    detect_header: bool = False,
    header_markers: list[set[str]] | None = None,
    col_candidates: dict[str, list[str]] | None = None,
) -> DataFrame:
    """S1: multi-file CSV scan with optional explicit names, encoding,
    lineage column and conformance gate (myFileClass.py:89-131).

    ``detect_header=True`` scans the first file's first 10 raw lines for
    a known header row (``detect_header_row``) and skips any junk
    preamble above it; ``col_candidates`` then resolves drifting column
    names to canonical ones (``resolve_columns``)."""
    if detect_header:
        first = paths[0] if isinstance(paths, list) else paths
        idx = detect_header_row(first, header_markers, encoding=encoding)
        if idx > 0:
            skip_rows = idx
    if skip_rows:
        # The reference's `skiprows` trims junk preamble lines from small
        # report exports (myFileClass.py:117-120). Those inputs are
        # driver-sized; read via pandas + Arrow rather than inventing a
        # distributed line-offset protocol.
        import pandas as pd

        path_list = paths if isinstance(paths, list) else [paths]
        pdfs = []
        for p in path_list:
            one = pd.read_csv(
                p,
                skiprows=skip_rows,
                header=0 if header else None,
                encoding=encoding,
                dtype=str,
            )
            if with_filename:
                one["file_name"] = p
            pdfs.append(one)
        pdf = pd.concat(pdfs, ignore_index=True)
        df = spark.createDataFrame(pdf)
        if column_names:
            df = df.toDF(*column_names)
        if col_candidates:
            df = resolve_columns(df, col_candidates)
        if required_cols:
            df = conformance_gate(df, required_cols)
        return df

    reader = (
        spark.read.option("header", str(header).lower())
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(paths)
    if column_names:
        df = df.toDF(*column_names)
    if with_filename:
        df = df.withColumn("file_name", F.input_file_name())
    if col_candidates:
        df = resolve_columns(df, col_candidates)
    if required_cols:
        df = conformance_gate(df, required_cols)
    return df


def read_auto(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """S3: dispatch on extension (pipeline/lib.py:92-101). Excel requires
    the driver-side pandas bridge (S2) — see ``read_excel_via_pandas``."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".csv", ".txt"):
        return read_csv(spark, path, **kwargs)
    if ext in (".parquet",):
        return spark.read.parquet(path)
    if ext in (".orc",):
        return spark.read.orc(path)
    if ext in (".json", ".jsonl"):
        return spark.read.json(path)
    if ext in (".xlsx", ".xlsm", ".xls"):
        return read_excel_via_pandas(spark, path, **kwargs)
    raise ValueError(f"unsupported extension: {ext}")


def read_excel_via_pandas(
    spark: SparkSession, path: str, sheet_name: str | int = 0, **kwargs
) -> DataFrame:
    """S2: Excel scan — no core Spark reader, so the workbook is read
    driver-side and Arrow ships it to a DataFrame (report-sized inputs
    only, like the reference's lookup xlsx files). Prefers pandas'
    reader when an xlsx engine is installed; otherwise falls back to the
    stdlib zip+XML parser (``sources/xlsx.py``), so the path works with
    no optional codec."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name)
    except ImportError:
        from machine_learning_with_spark_streaming_spark.sources.xlsx import read_xlsx_rows

        rows = read_xlsx_rows(path, sheet_name)
        if not rows:
            raise ValueError(f"empty worksheet in {path}")
        header = [str(h) for h in rows[0]]
        pdf = pd.DataFrame(rows[1:], columns=header)
    return spark.createDataFrame(pdf)


def write_excel(
    df: DataFrame,
    path: str,
    sheet_name: str = "Sheet1",
    max_rows: int = 100_000,
) -> int:
    """K2: Excel export of a (report-sized) result (the reference's
    ``to_excel`` outputs, e.g. ``pipeline/qualitycheck.py`` verdict
    workbooks). Excel is a driver-side format by nature — xlsx has a
    ~1M-row hard sheet limit — so the result is bounded by ``max_rows``
    (limit+1 probe raises rather than silently truncating) and written
    with the stdlib zip+XML writer (no optional codec). Returns rows
    written. Big results belong in parquet/CSV sinks, not Excel."""
    from machine_learning_with_spark_streaming_spark.sources.xlsx import write_xlsx

    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"result exceeds Excel export cap ({max_rows} rows); "
            "use write_csv/parquet for large outputs"
        )
    write_xlsx(path, [list(df.columns)] + [list(r) for r in rows], sheet_name)
    return len(rows)


_DATE_PREFIX = re.compile(r"(\d{8})")


def find_latest_by_pattern(pattern: str) -> str | None:
    """S4: latest-file selection — prefer a YYYYMMDD token in the filename,
    fall back to mtime (pipeline/lib.py:65-83). Driver-side by design: it
    picks which path the distributed scan reads."""
    candidates = _glob.glob(pattern)
    if not candidates:
        return None

    def sort_key(p: str):
        m = _DATE_PREFIX.search(os.path.basename(p))
        if m:
            try:
                return (1, datetime.strptime(m.group(1), "%Y%m%d").timestamp())
            except ValueError:
                pass
        return (0, os.path.getmtime(p))

    return max(candidates, key=sort_key)


def write_csv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """K1: CSV sink. ``single_file`` coalesces to one partition (only for
    report-sized outputs — never at fact scale)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the second columnar interchange format next to
    parquet (Hive/Trino-side consumers). Spark's native ORC writer:
    typed, splittable, predicate-pushdown-capable on read (the
    ``read_auto`` ``.orc`` branch scans it back with PushedFilters
    exactly like parquet)."""
    df.write.mode(mode).orc(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Snapshot-partitioned fact sink (SURVEY §4: partition by the column
    every read path filters on). A filter on ``partition_cols`` then
    prunes directories at planning time — the scan's ``PartitionFilters``
    — instead of reading and discarding rows."""
    df.write.mode(mode).partitionBy(*partition_cols).format(format).save(path)
