"""PII detection and redaction over text columns — a first-class
training-data-pipeline operator (BASELINE.json north star): web corpora
must be scrubbed of emails / phone numbers / IPs / SSN-shaped ids before
training.

Everything is JVM-side ``regexp_count`` / ``regexp_replace`` column
expressions — whole-stage codegen, linear scan, no Python in the hot
path, trivially parallel at 100 TB (per-row, no shuffle). Patterns use
the regex subset common to Java (Spark) and RE2 (DuckDB): character
classes, bounded repetition, ``\\b`` word boundaries; no backreferences
or lookaround, so both engines compile them identically.

Redaction order is fixed (email → ssn → phone → ipv4) so overlapping
matches resolve deterministically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

#: ordered: redaction applies in this sequence
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add one ``n_<kind>`` match-count column per PII pattern."""
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("int")
        )
    return out


def redact_pii(col: Column | str, kinds: list[str] | None = None) -> Column:
    """Replace every PII match with its ``[KIND]`` token, in the fixed
    pattern order."""
    c = F.col(col) if isinstance(col, str) else col
    for kind, pat in PII_PATTERNS.items():
        if kinds is not None and kind not in kinds:
            continue
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c


# ---------------------------------------------------------------- query
#
# The documents testdata carries no real PII (synthetic word soup), so the
# query plants deterministic PII derived from doc_id — the operator then
# has real matches to find, and the oracle replants the identical strings.

def _with_planted_pii(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("contact user"), d, F.lit("@example.com")),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit("call 555-"),
                    F.lpad((d % 1000).cast("string"), 3, "0"),
                    F.lit("-4567"),
                ),
            ),
            F.when(
                d % 5 == 0,
                F.concat(F.lit("host 10.0."), (d % 256).cast("string"), F.lit(".1")),
            ),
            F.when(
                d % 7 == 0,
                F.concat(
                    F.lit("id 123-45-"), F.lpad((d % 10000).cast("string"), 4, "0")
                ),
            ),
        ).alias("text"),
    )


def _sql_pat(p: str) -> str:
    # DuckDB standard strings keep backslashes literal — only quotes need
    # escaping; doubling backslashes would turn \b into a literal-\ match
    return p.replace("'", "''")


def _pii_oracle() -> str:
    planted = """
  SELECT doc_id,
         concat_ws(' ', text,
           'contact user' || doc_id || '@example.com',
           CASE WHEN doc_id % 3 = 0
                THEN 'call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4567' END,
           CASE WHEN doc_id % 5 = 0
                THEN 'host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' END,
           CASE WHEN doc_id % 7 = 0
                THEN 'id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END
         ) AS text
  FROM documents
"""
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{_sql_pat(p)}')) AS INT) AS n_{kind}"
        for kind, p in PII_PATTERNS.items()
    )
    redacted = "text"
    for kind, p in PII_PATTERNS.items():
        redacted = (
            f"regexp_replace({redacted}, '{_sql_pat(p)}', '[{kind.upper()}]', 'g')"
        )
    return f"""
WITH planted AS ({planted})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {counts},
       md5({redacted}) AS redacted_md5
FROM planted ORDER BY doc_id
"""


@register("pii_redact", oracle=_pii_oracle(), bench=True)
def q_pii_redact(spark, sf_dir):
    """PII scrub over the corpus with deterministically planted PII:
    per-kind match counts + md5 of the redacted text (proves both
    engines produced byte-identical redactions)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = _with_planted_pii(docs)
    counted = pii_counts(planted)
    return counted.select(
        "doc_id",
        *[f"n_{k}" for k in PII_PATTERNS],
        F.md5(redact_pii("text")).alias("redacted_md5"),
    ).orderBy("doc_id")


# ----------------------------------------- k-anonymity release gate

K_ANON_K = 10
_SUPPRESSED = "suppressed"


def k_anonymity_gate(
    df: DataFrame, quasi_cols: list[str], k: int = K_ANON_K
) -> DataFrame:
    """Privacy release gate: quasi-identifier groups with fewer than
    ``k`` members are withheld from the release and rolled into one
    accounting row — the k-anonymity rule every dataset-export /
    datasheet step applies before row-level statistics leave the
    pipeline (companion to the pii_redact scrub on free text).

    Scale shape: one groupBy on the quasi-identifier tuple (partial
    aggregation, no window), then a tiny two-row-ish aggregate of the
    suppressed remainder unioned on. Nothing global, nothing driver-side."""
    grouped = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    released = grouped.filter(F.col("n_rows") >= k).withColumn(
        "verdict", F.lit("released")
    )
    suppressed = (
        grouped.filter(F.col("n_rows") < k)
        .agg(
            F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
        )
        .select(
            *[F.lit(None).cast(grouped.schema[c].dataType).alias(c)
              for c in quasi_cols],
            "n_rows",
            F.lit(_SUPPRESSED).alias("verdict"),
            "n_groups",
        )
    )
    return released.withColumn("n_groups", F.lit(1)).unionByName(suppressed)


_K_ANON_ORACLE = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM customer GROUP BY 1, 2, 3
),
rel AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, n_rows,
         'released' AS verdict, CAST(1 AS BIGINT) AS n_groups
  FROM g WHERE n_rows >= {K_ANON_K}
),
sup AS (
  SELECT CAST(NULL AS INT) AS c_nationkey, CAST(NULL AS VARCHAR) AS c_mktsegment,
         CAST(NULL AS INT) AS bal_bucket,
         CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS n_rows,
         '{_SUPPRESSED}' AS verdict, CAST(count(*) AS BIGINT) AS n_groups
  FROM g WHERE n_rows < {K_ANON_K}
)
SELECT * FROM rel UNION ALL SELECT * FROM sup
ORDER BY verdict, c_nationkey, c_mktsegment, bal_bucket
"""


@register("v15_k_anonymity_gate", oracle=_K_ANON_ORACLE, bench=True)
def q_k_anonymity_gate(spark, sf_dir):
    """k=10 anonymity gate over customers keyed by (nation, market
    segment, $1000 balance bucket): released groups in full detail,
    the sub-k remainder as one suppressed accounting row."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_bucket"),
    )
    return k_anonymity_gate(
        cust, ["c_nationkey", "c_mktsegment", "bal_bucket"]
    ).orderBy("verdict", "c_nationkey", "c_mktsegment", "bal_bucket")
