"""Canonical schemas.

The reference pipeline converges every feed onto one 8-column "demand fact"
row (``EXPECTED_COLS``, reference ``pipeline/SqlUpload.py:26-29`` /
``pipeline/Staging.py:22-26``); here that is a fixed ``StructType`` with
proper types instead of all-string (the reference reads ``dtype=str`` and
coerces ad hoc — ``pipeline/lib.py:95-99``).

Also: explicit schemas for the driver's testdata star schema so reads never
rely on inference, and the streaming feature-payload schema
(``Dataset/stream.py:150-177``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- canonical demand fact (reference pipeline/SqlUpload.py:26-29) -------
FACT_COLUMNS = [
    "source",
    "snapshot",
    "material",
    "sales_organization",
    "country",
    "attribute",
    "value",
    "bu",
]

FACT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("snapshot", T.DateType(), False),  # versioning key
        T.StructField("material", T.StringType(), False),
        T.StructField("sales_organization", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("attribute", T.DateType(), True),  # month bucket
        T.StructField("value", T.DoubleType(), True),
        T.StructField("bu", T.StringType(), True),
    ]
)

# --- testdata star schema (TESTDATA.md) ----------------------------------
TESTDATA_TABLES = [
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

# Dimensions small enough to always broadcast in joins.
BROADCAST_DIMS = {"region", "nation", "supplier", "part", "customer"}

# Tables whose consumers are compute-bound per row (regex/shingle/token
# passes) — the only ones where spreading an unsplittable local scan
# across cores beats the cost of the extra exchange (see _scan_spread).
SPREAD_TABLES = {"documents"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet carries its schema; no inference.

    Spark 4 rejects parquet ``TIMESTAMP(NANOS)`` columns
    (PARQUET_TYPE_ILLEGAL); the ``events`` testdata is written with ns
    precision, so fall back to an Arrow-side cast to µs for such files.
    (At production scale the fix belongs in the writer config — Spark
    itself never emits NANOS.)
    """
    path = f"{sf_dir}/{name}.parquet"
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    # Rewrite when Spark would not read the column as plain TIMESTAMP:
    # ns precision (Spark 4 rejects NANOS outright) anywhere, or tz-naive
    # (read as TIMESTAMP_NTZ, which watermarks/event-time ops reject) on
    # the event-time table. Other tables keep NTZ: it matches the DuckDB
    # oracle's naive reading and no event-time op touches them.
    needs_rewrite = any(
        pa.types.is_timestamp(f.type)
        and (f.type.unit == "ns" or (f.type.tz is None and name == "events"))
        for f in schema
    )
    if needs_rewrite:
        return _scan_spread(spark, _load_nanos_parquet(spark, path), path, name)
    return _scan_spread(spark, spark.read.parquet(path), path, name)


def _scan_spread(
    spark: SparkSession, df: DataFrame, path: str, name: str
) -> DataFrame:
    """Spread an unsplittable scan across the session's cores.

    The local testdata files are single-row-group parquet, so the scan —
    and every map-side operator before the first exchange (regex
    normalization, shingling, per-row vector math) — runs in 1-3 tasks
    regardless of core count. Guide §2.5 names this input skew ("one
    huge unsplittable file") and prescribes a repartition immediately
    after the read; measured 1.1 -> 0.6 s on the corpus shingle pass at
    sf0.1. Scale-adaptive by construction: a real cluster file splits
    into >= parallelism scan tasks on its own, so the condition below
    is false and NO repartition node is added — this is a local-layout
    fix, not a local-core tuning constant.

    Applied ONLY to ``SPREAD_TABLES`` (the text corpus): its consumers
    are compute-bound per row (normalize/shingle/tokenize/score), so
    splitting the map stage pays for the tiny exchange many times over
    (interleaved A/B at sf0.1: text_quality 1.10 -> 0.89 s,
    pipeline_llm_data_prep 2.40 -> 1.45 s, dedup_segments_cdc
    4.6 -> 3.0 s). The fact/event tables measured WORSE under a blanket
    spread (flagship 1.26 -> 2.15 s, a1_pivot 0.41 -> 0.97 s): their
    map work is cheap casts + partial aggregation, so the added
    round-robin exchange (with its sort-before-repartition pass)
    dominates. Filters still push to the parquet scan — Catalyst moves
    deterministic predicates below round-robin repartitions.
    """
    if name not in SPREAD_TABLES:
        return df
    par = spark.sparkContext.defaultParallelism
    # The spread DECISION is pure metadata: cache it per (parquet file
    # stats, parallelism) so repeat loads skip both the plan→RDD
    # conversion (df.rdd) and the pyarrow footer reads. The key holds the
    # (path, mtime, size) of every parquet file of the table, so a
    # rewrite anywhere in a directory table (a nested partition directory
    # included) is a new key. Any metadata failure falls back to no
    # spread — the scan is still correct, just narrow — and is not
    # cached, so the next load retries the read.
    try:
        cache_key = (_parquet_files(path), par)
    except OSError:
        return df
    target = _SPREAD_CACHE.get(cache_key)
    if target is None:
        import math

        try:
            n_rows, n_bytes = _parquet_meta(cache_key[0])
            cur = df.rdd.getNumPartitions()
        except Exception:
            return df
        if 2 * cur >= par:
            # splittable input — cluster path, leave the scan alone
            target = 0
        else:
            # one task per ~512 rows or ~1 MB, capped at the session
            # parallelism and floored at the scan's own count — enough
            # per-task volume that tiny tables do not fan out into
            # near-empty tasks
            target = min(
                par,
                max(
                    cur,
                    math.ceil(n_rows / 512),
                    math.ceil(n_bytes / (1 << 20)),
                ),
            )
            if target <= cur:
                target = 0
        _SPREAD_CACHE[cache_key] = target
    return df.repartition(target) if target else df


#: (parquet file stats, parallelism) -> repartition width (0 = none)
_SPREAD_CACHE: dict[tuple, int] = {}


def _parquet_files(path: str) -> tuple[tuple[str, int, int], ...]:
    """(abspath, mtime_ns, size) of a parquet file, or of every parquet
    file under a directory table, in path order."""
    import os

    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.abspath(path), st.st_mtime_ns, st.st_size),)
    found = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                fp = os.path.abspath(os.path.join(root, fn))
                st = os.stat(fp)
                found.append((fp, st.st_mtime_ns, st.st_size))
    return tuple(sorted(found))


def _parquet_meta(files: tuple[tuple[str, int, int], ...]) -> tuple[int, int]:
    """(n_rows, n_bytes) of the files ``_parquet_files`` lists."""
    return sum(pq_file_rows(fp) for fp, _, _ in files), sum(n for _, _, n in files)


def pq_file_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def spread_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin-spread a NARROW scan ahead of a compute-heavy global
    pass (decimal sufficient-statistics aggregates, per-row vector
    math): the local single-row-group parquet gives the whole map stage
    to 1-3 tasks (guide §2.5 input skew). No-op whenever the scan
    already fans out to >= half the session parallelism — on a cluster
    files split on their own, so this adds no node there. Callers
    project to the needed columns FIRST so the added exchange carries
    only those bytes (guide §2.3)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if 2 * cur >= par:
        return df
    return df.repartition(par)


#: bump when the rewrite logic below changes (cache self-invalidation)
_REWRITE_VERSION = "v3-ntz-utc-us"


def _load_nanos_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Rewrite a NANOS parquet file to µs precision once (atomic, cached
    by path+mtime+size under the system temp dir), then hand Spark the
    rewritten file as a normal parquet scan.

    The previous approach (``to_pandas`` → ``createDataFrame``) embedded
    the whole table in the driver as a local relation: no distributed
    scan, no filter pushdown, no column pruning, and re-serialization to
    the JVM on every evaluation. The one-time rewrite keeps every query
    over the table a real parquet scan.
    """
    import getpass
    import glob
    import hashlib
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    # _REWRITE_VERSION folds the rewrite logic into the key so a logic
    # change self-invalidates old cache files instead of serving them.
    st = os.stat(path)
    path_key = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]
    key = hashlib.md5(
        f"{_REWRITE_VERSION}:{os.path.abspath(path)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    # per-user cache dir (0700): the system temp dir is world-writable,
    # so a shared path could be pre-created or poisoned by another user
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"mlwss_us_parquet_{getpass.getuser()}"
    )
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    if os.stat(cache_dir).st_uid != os.getuid():
        raise RuntimeError(f"cache dir {cache_dir} owned by another user")
    cached = os.path.join(cache_dir, f"{path_key}-{key}.parquet")
    if not os.path.exists(cached):
        # prune stale entries for the same source (old mtime/size/version)
        for old in glob.glob(os.path.join(cache_dir, f"{path_key}-*.parquet")):
            try:
                os.remove(old)
            except OSError:
                pass
        t = pq.read_table(path)
        # tz-aware µs so Spark reads TIMESTAMP (not NTZ) — watermarks and
        # event-time ops require it; naive source instants are UTC (the
        # session timezone, matching the DuckDB oracle's reading).
        fields = [
            pa.field(f.name, pa.timestamp("us", tz=f.type.tz or "UTC"))
            if pa.types.is_timestamp(f.type)
            else f
            for f in t.schema
        ]
        tmp = f"{cached}.{os.getpid()}.tmp"
        pq.write_table(t.cast(pa.schema(fields), safe=False), tmp)
        os.replace(tmp, cached)
    return spark.read.parquet(cached)


# --- streaming payload (reference Dataset/stream.py:150-177) -------------
def feature_payload_schema(n_features: int, with_label: bool = True) -> T.StructType:
    """Schema of one row inside the micro-batch JSON payload:
    ``{"<row_idx>": {"feature0": .., ..., "label": ..}}``.
    """
    fields = [
        T.StructField(f"feature{i}", T.DoubleType(), True) for i in range(n_features)
    ]
    if with_label:
        fields.append(T.StructField("label", T.DoubleType(), True))
    return T.StructType(fields)


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)
