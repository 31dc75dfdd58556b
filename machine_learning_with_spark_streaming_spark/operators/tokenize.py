"""Subword tokenization with a frozen vocabulary — the *apply* half of
a BPE/WordPiece tokenizer, entirely in JVM column expressions.

``text_bpe_pair_counts`` (operators/text.py) covers merge *induction*;
this module serves the induced vocabulary: greedy longest-match over
each word against the frozen 48-entry character-n-gram vocab
(functions/bpe_artifacts.py, the frozen-artifact pattern shared with the
IVF centroids and the hashed quality classifier). Every LLM-corpus
budget decision (token counts, packing, pricing) runs through a
tokenizer, so an engine for training-data prep needs the apply step as
a first-class, *certifiable* operator — not a black-box Python library
call.

Scale shape: tokenization is map-only (zero shuffles, zero Python).
The per-word greedy walk is a sequential recurrence, served as ONE
ordered-alternation regex pass per word (see ``_GREEDY_PATTERN``) —
whole-stage-codegen'd per row, embarrassingly parallel across rows,
which is exactly how a 100 TB corpus wants to tokenize. The DuckDB
oracle replays the walk as a linear recursive CTE (the
``pack_token_budget_exact`` certification pattern), so two independent
formulations must agree for the hash check to pass.

Reference parity: the reference tokenizes tweet text driver-side with
sklearn's HashingVectorizer (`/root/reference/Final_code/Streaming_Final.py`);
here tokenization is a distributed column expression and the vocab is a
committed artifact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.bpe_artifacts import VOCAB
from machine_learning_with_spark_streaming_spark.operators.dedup import normalize_text
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await


#: Greedy longest-match IS ordered regex alternation: at each position a
#: leftmost-first engine tries alternatives in listed order, so listing
#: vocab entries longest-first and '.' last reproduces the greedy walk
#: exactly — one automaton pass per word instead of a per-character fold
#: (measured 2.7x at sf0.1, 5.4x vs the array_contains form; Java regex
#: and RE2 are both leftmost-first — the same Java∩RE2 parity contract
#: the PII module relies on). Entries are
#: re.escape'd; '.' never crosses a space because normalize_text leaves
#: no newlines and vocab entries contain no spaces.
import re as _re

# (?s): Java's '.' excludes Unicode line terminators (U+2028/U+2029/
# U+0085) that the ASCII-only \s+ normalization does NOT collapse — the
# fallback must consume every char or those vanish from the token
# stream, breaking losslessness and the oracle's substr-walk parity.
_GREEDY_PATTERN = (
    "(?s)("
    + "|".join(_re.escape(g) for g in sorted(VOCAB, key=len, reverse=True))
    + "|.)"
)


def subword_tokens(word: Column) -> Column:
    """Greedy longest-match subword split of one word -> array<string>.

    At each position try vocab entries longest-first (lengths
    MAX_TOKEN_LEN..2); fall back to the single character. Implemented
    as ordered-alternation ``regexp_extract_all`` (see
    ``_GREEDY_PATTERN``); an equivalent per-character ``aggregate`` fold
    with (pos, toks) struct state gives the same stream ~2.7x slower, and
    the DuckDB oracle replays that fold as a recursive CTE — two
    independent formulations agreeing is the certification.
    """
    return F.regexp_extract_all(word, F.lit(_GREEDY_PATTERN), 1)


def subword_tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document subword token count + order-sensitive md5 signature
    of the full token stream (tokens joined by single spaces — vocab
    entries never contain spaces, so the encoding is unambiguous).
    ``keep_cols`` pass through untouched (the packing pipeline carries
    ``source`` this way instead of re-joining on doc_id).

    The token stream is materialized in its own projection so the fold
    expression evaluates once per row (two consumers: size + md5)."""
    words = F.filter(
        F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda w: F.length(w) > 0,
    )
    toks = F.flatten(F.transform(words, subword_tokens))
    return df.select(
        F.col(id_col).alias("doc_id"), *keep_cols, toks.alias("__toks")
    ).select(
        "doc_id",
        *keep_cols,
        F.size("__toks").alias("n_subword_tokens"),
        F.md5(F.concat_ws(" ", F.col("__toks"))).alias("token_sig"),
    )


_VLIT = "[" + ", ".join(f"'{g}'" for g in VOCAB) + "]"
_NORM = "lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))"

_TOKENIZE_ORACLE = f"""
WITH RECURSIVE words AS (
  SELECT doc_id, CAST(g.i AS INT) AS widx, ws[g.i] AS w
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
  WHERE len(ws[g.i]) > 0
),
tok AS (
  SELECT doc_id, widx, w, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM words
  UNION ALL
  SELECT doc_id, widx, w, pos + length(t) AS pos, list_append(toks, t) AS toks
  FROM (
    SELECT doc_id, widx, w, pos, toks,
           CASE WHEN list_contains({_VLIT}, substr(w, pos, 4))
                  THEN substr(w, pos, 4)
                WHEN list_contains({_VLIT}, substr(w, pos, 3))
                  THEN substr(w, pos, 3)
                WHEN list_contains({_VLIT}, substr(w, pos, 2))
                  THEN substr(w, pos, 2)
                ELSE substr(w, pos, 1) END AS t
    FROM tok WHERE pos <= length(w)
  )
),
fin AS (SELECT doc_id, widx, toks FROM tok WHERE pos > length(w)),
agg AS (
  SELECT doc_id, flatten(list(toks ORDER BY widx)) AS all_toks
  FROM fin GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(len(all_toks), 0) AS INT) AS n_subword_tokens,
       coalesce(md5(array_to_string(all_toks, ' ')), md5('')) AS token_sig
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
ORDER BY doc_id
"""


@register("text_subword_tokenize", oracle=_TOKENIZE_ORACLE, bench=True)
def q_subword_tokenize(spark, sf_dir):
    """Frozen-vocab greedy subword tokenization of every document; the
    md5 over the full token stream certifies token identity AND order,
    replayed by the oracle as a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return subword_tokenize(docs).orderBy("doc_id")


PACK_BUDGET = 1024

# The tokenizer CTE chain (words -> tok -> fin -> agg) reused by the
# packing pipeline; counts joins the per-doc token totals back to every
# document (empty docs -> 0 tokens).
_COUNTS_CTES = f"""
words AS (
  SELECT doc_id, CAST(g.i AS INT) AS widx, ws[g.i] AS w
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
  WHERE len(ws[g.i]) > 0
),
tok AS (
  SELECT doc_id, widx, w, 1 AS pos, 0 AS n FROM words
  UNION ALL
  SELECT doc_id, widx, w, pos + length(t) AS pos, n + 1 AS n
  FROM (
    SELECT doc_id, widx, w, pos, n,
           CASE WHEN list_contains({_VLIT}, substr(w, pos, 4))
                  THEN substr(w, pos, 4)
                WHEN list_contains({_VLIT}, substr(w, pos, 3))
                  THEN substr(w, pos, 3)
                WHEN list_contains({_VLIT}, substr(w, pos, 2))
                  THEN substr(w, pos, 2)
                ELSE substr(w, pos, 1) END AS t
    FROM tok WHERE pos <= length(w)
  )
),
fin AS (SELECT doc_id, widx, n FROM tok WHERE pos > length(w)),
agg AS (SELECT doc_id, sum(n) AS n_toks FROM fin GROUP BY doc_id),
counts AS (
  SELECT d.doc_id, d.source, CAST(coalesce(a.n_toks, 0) AS BIGINT) AS n
  FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
)"""

_TOKENIZE_PACK_ORACLE = f"""
WITH RECURSIVE {_COUNTS_CTES},
packed AS (
  SELECT source,
         CAST(floor(coalesce(sum(n) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {PACK_BUDGET}) AS INT) AS chunk_id,
         n
  FROM counts
)
SELECT source, chunk_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS sum_tokens
FROM packed GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("pipeline_tokenize_pack", oracle=_TOKENIZE_PACK_ORACLE, bench=True)
def q_tokenize_pack(spark, sf_dir):
    """Tokenizer-exact sequence packing: count every document's tokens
    with the frozen-vocab tokenizer (not a whitespace proxy), then pack
    per-source streams into PACK_BUDGET-token chunks — the budget
    decision a training pipeline actually makes, certified end to end.
    The oracle's recursive CTE only tracks (pos, n): token *count* needs
    no token list."""
    from machine_learning_with_spark_streaming_spark.operators.sampling import pack_token_budget

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    counted = subword_tokenize(docs, keep_cols=("source",)).select(
        "doc_id", "source", F.col("n_subword_tokens").cast("long").alias("n")
    )
    packed = pack_token_budget(counted, PACK_BUDGET, "n")
    return (
        packed.groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("source", "chunk_id")
    )


_TOKENIZE_STREAM_ORACLE = f"""
WITH RECURSIVE {_COUNTS_CTES}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens
FROM counts GROUP BY 1 ORDER BY 1
"""


@register("s11_tokenize_stream", oracle=_TOKENIZE_STREAM_ORACLE)
def q_tokenize_stream(spark, sf_dir):
    """Streaming token accounting: the frozen-vocab tokenizer riding a
    REAL 4-micro-batch document stream, accumulating exact per-source
    token totals in complete-mode state — the live ingest counter a
    training-data pipeline runs ("how many tokens has source X
    contributed so far"). Tokenization itself is stateless/map-only per
    batch; only the |sources|-row rollup holds state. Oracle = the
    recursive-CTE tokenizer over the whole corpus."""
    import shutil
    import tempfile
    import uuid

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    work = tempfile.mkdtemp(prefix="mlwss_tokstream_")
    stage, ckpt = f"{work}/stage", f"{work}/ckpt"
    docs.repartition(4).write.parquet(stage)
    stream = (
        spark.readStream.schema("doc_id bigint, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    counted = subword_tokenize(stream, keep_cols=("source",))
    agg = counted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_subword_tokens").cast("bigint").alias("total_tokens"),
    )
    sink = f"tok_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    mem = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return mem.orderBy("source")


_COMPRESSION_ORACLE = f"""
WITH RECURSIVE {_COUNTS_CTES}
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
       CAST(sum(c.n) AS BIGINT) AS total_tokens,
       round(CAST(sum(length(d.text)) AS DOUBLE) / sum(c.n), 6)
         AS chars_per_token
FROM counts c JOIN documents d ON d.doc_id = c.doc_id
GROUP BY d.lang ORDER BY d.lang
"""


@register("text_token_compression", oracle=_COMPRESSION_ORACLE)
def q_token_compression(spark, sf_dir):
    """Per-language tokenizer compression report (chars per subword
    token) — the fertility metric that drives multilingual mix and
    pricing decisions: a language the frozen vocab serves badly shows
    low chars/token and eats budget. Integer sums until one final
    division, so the doubles match cross-engine."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars"), "text"
    )
    counted = subword_tokenize(docs, keep_cols=("lang", "n_chars"))
    return (
        counted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("n_subword_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("n_chars") / F.sum("n_subword_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )
