"""Text-analysis operators over the ``documents`` table — BASELINE.json
north-star ops for LLM training-data pipelines.

All pure JVM column expressions (split / filter / regexp over arrays) —
no Python in the hot path, so every operator whole-stage-codegens and
scales linearly with the corpus. Each has an exact DuckDB oracle.

- **Language ID**: stopword-overlap scoring against per-language marker
  lists; argmax with a fixed tie order. (An n-gram character model is
  the production upgrade; the scoring plumbing is identical — per-doc
  feature counts -> argmax.)
- **Quality scoring**: length / punctuation / stopword-ratio features
  and a thresholded quality class (reference analog: the QC verdict
  pattern, pipeline/qualitycheck.py:175-180, applied to text).
- **Token counting**: whitespace tokens + a BPE-ish regex tokenization
  (letters runs | single digits | single punctuation).
- **Fingerprinting**: shingle-set min-hash fingerprint (min md5 over
  word 3-grams) + shingle cardinality — a portable rolling-hash stand-in
  computed identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import (
    _CORPUS_SQL,
    SHINGLE_N,
    _grams_from_words,
    corpus_with_duplicates,
    md5_hash60,
    normalize_text,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await

# Marker ("stopword") lists per language. Deterministic, tiny — literal
# arrays in the plan, no lookup table needed.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "que", "pour"],
    # zh intentionally absent: marker-word overlap needs tokenizable text;
    # CJK gets 'und' here (character-range n-grams are the real upgrade).
}

TOKEN_REGEX = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
QUALITY_STOPWORDS = LANG_MARKERS["en"]


def words(col: Column | str) -> Column:
    return F.split(normalize_text(col), " ")


def _count_in_list(ws: Column, vocab: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(ws, lambda w: F.array_contains(arr, w)))


def lang_scores(col: Column | str) -> dict[str, Column]:
    ws = words(col)
    return {lang: _count_in_list(ws, vocab) for lang, vocab in LANG_MARKERS.items()}


def lang_id(col: Column | str) -> Column:
    """Predicted language: argmax of marker-overlap scores; ties resolve
    in the fixed key order of LANG_MARKERS; all-zero -> 'und'.

    Inline form — convenient for small frames, but Catalyst re-inlines
    the word split into every score reference (~40 evaluations/row; see
    the re-inlining note in operators/dedup.py). Pipelines should use
    :func:`lang_id_table`, which splits each document exactly once."""
    scores = lang_scores(col)
    best_score = F.greatest(*scores.values()) if len(scores) > 1 else next(
        iter(scores.values())
    )
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (best_score > 0) & (scores[lang] == best_score), F.lit(lang)
        ).otherwise(pred)
    return pred


def _pred_from_score_attrs() -> Column:
    """Argmax when-chain over s_<lang> attribute columns (cheap int
    comparisons — safe to re-inline, unlike the word split)."""
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (best > 0) & (F.col(f"s_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return pred


def lang_id_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pred_lang) via explode + sum-aggregate: each document is
    split ONCE and each word row scores with one ``array_contains`` per
    language — the attribute-based formulation that sidesteps Catalyst's
    expression re-inlining (the inline :func:`lang_id` re-evaluates the
    split per score reference). The groupBy gets map-side partial
    aggregation; the shuffle moves (id, 4 ints) per doc."""
    w = df.select(
        F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w")
    )
    aggs = [
        F.sum(
            F.array_contains(
                F.array(*[F.lit(x) for x in vocab]), F.col("w")
            ).cast("int")
        ).alias(f"s_{lang}")
        for lang, vocab in LANG_MARKERS.items()
    ]
    return w.groupBy("id").agg(*aggs).select("id", _pred_from_score_attrs().alias("pred_lang"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features. The normalize+split pair is materialized
    in its own projection (r11, guide §1.2 per-task work): the inline
    form re-evaluated ``normalize_text`` ~5x and the word split ~4x per
    row because each feature expression carried its own copy — CollapseProject
    keeps multi-referenced non-cheap producers in their own stage, so
    materializing ``__qf_w``/``__qf_nc`` once makes every feature a cheap
    array/int op (measured −15% on text_quality at sf0.1, identical
    output)."""
    cols = df.columns
    base = df.withColumn("__qf_n", normalize_text(text_col)).select(
        *cols,
        F.split("__qf_n", " ").alias("__qf_w"),
        F.length("__qf_n").alias("__qf_nc"),
    )
    n_words = F.size("__qf_w")
    n_chars = F.col("__qf_nc")
    n_punct = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[^A-Za-z0-9\s]"), 0)
    )
    n_stop = _count_in_list(F.col("__qf_w"), QUALITY_STOPWORDS)
    return base.select(
        *cols,
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        F.round((n_chars - (n_words - 1)) / n_words, 6).alias("mean_word_len"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(n_stop / n_words, 6).alias("stopword_ratio"),
    )


def quality_class(df: DataFrame) -> DataFrame:
    """Thresholded verdict over the features (quality_features output)."""
    return df.withColumn(
        "quality",
        F.when(F.col("n_words") < 5, F.lit("junk"))
        .when(F.col("punct_ratio") > 0.2, F.lit("noisy"))
        .when(F.col("stopword_ratio") >= 0.02, F.lit("good"))
        .otherwise(F.lit("fair")),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("ws_tokens", F.size(words(text_col))).withColumn(
        "bpe_tokens",
        F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Min-hash fingerprint over word 3-gram shingles (portable md5).
    Word and shingle arrays are materialized in their own projections —
    inline reuse would recompute the word split per reference."""
    cols = df.columns
    return (
        df.withColumn("__ws", F.split(normalize_text(text_col), " "))
        .withColumn("__sh", _grams_from_words(F.col("__ws"), SHINGLE_N))
        .select(
            *cols,
            F.array_min(F.transform("__sh", lambda s: F.md5(s))).alias("fingerprint"),
            F.size("__sh").alias("n_shingles"),
        )
    )


# ------------------------------------------------------------------ SQL

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_WS = f"string_split({_NORM}, ' ')"


def _count_sql(vocab: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in vocab)
    return f"len(list_filter({_WS}, x -> list_contains([{lst}], x)))"


def _lang_id_sql() -> str:
    score_cols = {lang: _count_sql(v) for lang, v in LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    case = "CASE"
    for lang in LANG_MARKERS:
        case += f" WHEN best > 0 AND s_{lang} = best THEN '{lang}'"
    case += " ELSE 'und' END"
    inner = ", ".join(f"{sql} AS s_{lang}" for lang, sql in score_cols.items())
    return f"SELECT doc_id, lang, {inner}, {best} AS best FROM documents", case


_LANG_INNER, _LANG_CASE = _lang_id_sql()

_LANG_ORACLE = f"""
WITH scored AS ({_LANG_INNER})
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       {_LANG_CASE} AS pred_lang
FROM scored ORDER BY doc_id
"""


@register("text_lang_id", oracle=_LANG_ORACLE)
def q_lang_id(spark, sf_dir):
    """Stopword-overlap language ID vs the labeled lang column
    (attribute-based scorer: one split per doc, not per reference)."""
    docs = load_table(spark, sf_dir, "documents")
    preds = lang_id_table(docs)
    return (
        docs.join(preds, docs.doc_id == preds.id)
        .select("doc_id", "lang", "pred_lang")
        .orderBy("doc_id")
    )


_QUALITY_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         len({_WS}) AS n_words,
         length({_NORM}) AS n_chars,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         {_count_sql(QUALITY_STOPWORDS)} AS n_stop
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS INT) AS n_words,
       CAST(n_chars AS INT) AS n_chars,
       round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6) AS mean_word_len,
       round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
       CASE WHEN n_words < 5 THEN 'junk'
            WHEN CAST(n_punct AS DOUBLE) / n_chars > 0.2 THEN 'noisy'
            WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.02 THEN 'good'
            ELSE 'fair' END AS quality
FROM feats ORDER BY doc_id
"""


@register("text_quality", oracle=_QUALITY_ORACLE)
def q_quality(spark, sf_dir):
    """Quality features + thresholded class per document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = quality_class(quality_features(docs))
    return out.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_chars").cast("int").alias("n_chars"),
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality",
    ).orderBy("doc_id")


_TOKENS_ORACLE = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len({_WS}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text),
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


@register("text_token_counts", oracle=_TOKENS_ORACLE)
def q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts per document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = token_counts(docs)
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("int").alias("ws_tokens"),
        F.col("bpe_tokens").cast("int").alias("bpe_tokens"),
    ).orderBy("doc_id")


_SHINGLE_SQL = f"""
  SELECT doc_id, ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2] AS shingle
  FROM (SELECT doc_id, {_WS} AS ws FROM documents) w,
       LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
"""

_FINGERPRINT_ORACLE = f"""
WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLE_SQL}))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       min(md5(shingle)) AS fingerprint,
       CAST(count(*) AS INT) AS n_shingles
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


@register("text_fingerprint", oracle=_FINGERPRINT_ORACLE)
def q_fingerprint(spark, sf_dir):
    """Shingle min-hash fingerprint + shingle cardinality per document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = fingerprint(docs)
    return out.select(
        "doc_id", "fingerprint", F.col("n_shingles").cast("int").alias("n_shingles")
    ).orderBy("doc_id")


# ------------------------------------------- composed training-data prep

def llm_data_prep(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """End-to-end training-data prep: quality-score → drop junk →
    exact-dedup (min id per normalized text) → language-ID → token
    counts. Returns (id, quality, pred_lang, ws_tokens, bpe_tokens),
    one row per surviving document.

    r11 restructure (guide §2.3 "shuffle keys and metadata instead of
    payloads"): every per-doc value the pipeline needs downstream —
    quality class, the four language marker counts, both token counts —
    is a pure function of the document, so it is computed MAP-SIDE
    before the dedup shuffle, and the dedup itself is a
    ``groupBy(norm).agg(min_by(scalars, id))``: the exchange carries
    the normalized key plus ~30 bytes of ints instead of the document
    body, partial aggregation collapses co-resident duplicates before
    the wire, and the row_number sort disappears. min_by on the unique
    ``id_col`` picks exactly the row the old rn=1 window kept, so the
    output is identical (oracle-checked). The old shape also re-split
    the text twice downstream (lang-ID explode + token counts); the
    marker counts over the materialized word array equal the exploded
    per-word sums (count of occurrences in vocab either way).

    The dedup keys on the normalized text for oracle parity; the 100 TB
    variant keys on ``xxhash64(norm)`` (see ``exact_dedup(by_hash=True)``)
    so the exchange moves 8-byte keys instead of normalized bodies.
    """
    base = df.withColumn("__n", normalize_text(text_col)).select(
        F.col(id_col),
        F.col(text_col),
        "__n",
        F.split("__n", " ").alias("__w"),
        F.length("__n").alias("__nc"),
    )
    n_words = F.size("__w")
    n_punct = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[^A-Za-z0-9\s]"), 0)
    )
    n_stop = _count_in_list(F.col("__w"), QUALITY_STOPWORDS)
    quality = (
        F.when(n_words < 5, F.lit("junk"))
        .when(F.round(n_punct / F.col("__nc"), 6) > 0.2, F.lit("noisy"))
        .when(F.round(n_stop / n_words, 6) >= 0.02, F.lit("good"))
        .otherwise(F.lit("fair"))
    )
    scored = base.select(
        F.col(id_col),
        "__n",
        quality.alias("quality"),
        *[
            _count_in_list(F.col("__w"), vocab).alias(f"s_{lang}")
            for lang, vocab in LANG_MARKERS.items()
        ],
        n_words.alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)
        ).alias("bpe_tokens"),
    ).filter(F.col("quality") != "junk")
    payload = [c for c in scored.columns if c != "__n"]
    deduped = (
        scored.groupBy("__n")
        .agg(F.min_by(F.struct(*payload), F.col(id_col)).alias("__r"))
        .select("__r.*")
    )
    return deduped.select(
        id_col,
        "quality",
        _pred_from_score_attrs().alias("pred_lang"),
        "ws_tokens",
        "bpe_tokens",
    )


_LANG_SCORES_SELECT = ", ".join(
    f"{_count_sql(v)} AS s_{lang}" for lang, v in LANG_MARKERS.items()
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"

_LLM_PREP_ORACLE = f"""
WITH {_CORPUS_SQL},
feats AS (
  SELECT doc_id, text,
         len({_WS}) AS n_words,
         length({_NORM}) AS n_chars,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         {_count_sql(QUALITY_STOPWORDS)} AS n_stop
  FROM corpus
),
class AS (
  SELECT doc_id, text,
         CASE WHEN n_words < 5 THEN 'junk'
              WHEN CAST(n_punct AS DOUBLE) / n_chars > 0.2 THEN 'noisy'
              WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.02 THEN 'good'
              ELSE 'fair' END AS quality
  FROM feats
),
kept AS (SELECT * FROM class WHERE quality <> 'junk'),
dedup AS (
  SELECT doc_id, text, quality FROM (
    SELECT *, row_number() OVER (PARTITION BY {_NORM} ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
scored AS (
  SELECT quality, text, {_LANG_SCORES_SELECT}, {_LANG_BEST} AS best
  FROM dedup
),
final AS (
  SELECT quality, {_LANG_CASE} AS pred_lang,
         len({_WS}) AS ws_tokens,
         len(regexp_extract_all(lower(text),
             '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens
  FROM scored
)
SELECT quality, pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS sum_ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS sum_bpe_tokens
FROM final GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("pipeline_llm_data_prep", oracle=_LLM_PREP_ORACLE)
def q_llm_data_prep(spark, sf_dir):
    """Composed corpus-prep pipeline over the duplicate-injected corpus:
    quality gate → exact dedup → lang-ID → per-(quality, lang) token
    budget — the whole chain as one Catalyst plan."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    prep = llm_data_prep(corpus)
    return (
        prep.groupBy("quality", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("sum_ws_tokens"),
            F.sum("bpe_tokens").cast("bigint").alias("sum_bpe_tokens"),
        )
        .orderBy("quality", "pred_lang")
    )


# ------------------------------------------------- repetition filtering

def _max_run(sorted_arr: Column) -> Column:
    """Longest equal-element run in a SORTED array == max frequency of
    any element — computed per row with the ``aggregate`` higher-order
    function (struct fold: previous element, current run, best run).
    JVM-side, no explode, no shuffle."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(
            acc.getField("prev").isNotNull() & (acc.getField("prev") == x),
            acc.getField("run") + 1,
        ).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc.getField("best"))


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "expr",
    keep_input: bool = False,
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models" §A1.1 repetition filters — public paper):

    - ``dup_word_ratio``: fraction of word occurrences that repeat an
      earlier word (1 - distinct/total);
    - ``top_word_ratio``: occurrence share of the most frequent word;
    - ``top_bigram_ratio``: occurrence share of the most frequent word
      bigram.

    ``method="expr"`` (default, the 100 TB shape) computes everything as
    per-row expressions — ``array_distinct`` sizes for the dup share and
    a sorted-run-length fold (:func:`_max_run`) for the top-element
    shares. Zero shuffle: the operator composes with any upstream plan
    as a pure projection. ``method="explode"`` keeps the explode →
    two-level-aggregate formulation (two (doc, token)-keyed shuffles
    with map-side partials) — both produce identical output
    (equivalence-tested), and the explode form is what the DuckDB
    oracle mirrors.
    """
    if method == "expr":
        # ``keep_input=True`` appends the feature columns to the input
        # frame (zero-shuffle projection — lets pipelines gate on
        # repetition without a join back); False returns the compact
        # (id, features) frame the oracle mirrors.
        front = list(df.columns) if keep_input else [id_col]
        base = (
            df.withColumn("__ws", F.split(normalize_text(text_col), " "))
            .withColumn("__bg", _grams_from_words(F.col("__ws"), 2, distinct=False))
        )
        n_words = F.size("__ws")
        n_bigrams = F.size("__bg")
        return base.select(
            *front,
            n_words.cast("int").alias("n_words") if not keep_input else
            n_words.cast("int").alias("rep_n_words"),
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("__ws")) / n_words, 6
            ).alias("dup_word_ratio"),
            F.round(_max_run(F.array_sort("__ws")) / n_words, 6).alias(
                "top_word_ratio"
            ),
            F.round(_max_run(F.array_sort("__bg")) / n_bigrams, 6).alias(
                "top_bigram_ratio"
            ),
        )
    if keep_input:
        raise ValueError("keep_input=True requires method='expr'")
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), " ").alias("__ws"),
    )
    wc = (
        base.select("id", F.explode("__ws").alias("t"))
        .groupBy("id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_w"),
        )
    )
    bc = (
        base.select(
            "id",
            F.explode(
                _grams_from_words(F.col("__ws"), 2, distinct=False)
            ).alias("t"),
        )
        .groupBy("id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_b"))
    )
    return wc.join(bc, "id").select(
        F.col("id").alias(id_col),
        F.col("n_words").cast("int").alias("n_words"),
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias(
            "dup_word_ratio"
        ),
        F.round(F.col("top_w") / F.col("n_words"), 6).alias("top_word_ratio"),
        F.round(F.col("top_b") / F.col("n_bigrams"), 6).alias("top_bigram_ratio"),
    )


#: thresholds chosen against the testdata distribution (p80 bigram share,
#: above-mean dup-word share) so both classes are populated at every SF
REPETITION_MAX_TOP_BIGRAM = 0.05
REPETITION_MAX_DUP_WORD = 0.6


def repetition_gate(feats: DataFrame) -> DataFrame:
    """1 = repetitive (drop from training corpus), 0 = keep."""
    return feats.withColumn(
        "repetitive",
        (
            (F.col("top_bigram_ratio") > REPETITION_MAX_TOP_BIGRAM)
            | (F.col("dup_word_ratio") > REPETITION_MAX_DUP_WORD)
        ).cast("int"),
    )


_REPETITION_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WS} AS ws FROM documents
),
wc AS (
  SELECT doc_id, w AS t, count(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY 1, 2
),
wagg AS (
  SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct, max(c) AS top_w
  FROM wc GROUP BY 1
),
bg AS (
  SELECT doc_id, ws[g.i] || ' ' || ws[g.i+1] AS t
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
),
bc AS (SELECT doc_id, t, count(*) AS c FROM bg GROUP BY 1, 2),
bagg AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_b FROM bc GROUP BY 1)
SELECT CAST(wagg.doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS INT) AS n_words,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_word_ratio,
       round(CAST(top_w AS DOUBLE) / n_words, 6) AS top_word_ratio,
       round(CAST(top_b AS DOUBLE) / n_bigrams, 6) AS top_bigram_ratio,
       CAST(CASE WHEN CAST(top_b AS DOUBLE) / n_bigrams > {REPETITION_MAX_TOP_BIGRAM}
                   OR 1.0 - CAST(n_distinct AS DOUBLE) / n_words > {REPETITION_MAX_DUP_WORD}
            THEN 1 ELSE 0 END AS INT) AS repetitive
FROM wagg JOIN bagg ON wagg.doc_id = bagg.doc_id
ORDER BY 1
"""


@register("text_repetition", oracle=_REPETITION_ORACLE, bench=True)
def q_repetition(spark, sf_dir):
    """Repetition quality gate: dup-word / top-word / top-bigram shares +
    drop flag per document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_gate(repetition_features(docs)).orderBy("doc_id")


# ------------------------------------- composed training-data prep v2

def llm_data_prep_v2(
    corpus: DataFrame, budget: int = 512, cap: int = 15
) -> DataFrame:
    """Round-2 composed corpus prep: quality gate → repetition gate →
    PII redaction → exact dedup (on redacted text) → per-source cap →
    token-budget packing. Aside from the window stages this is one
    Catalyst plan; every gate is an operator also certified standalone
    (text_quality, text_repetition, pii_redact, dedup_exact,
    sample_cap_per_source, pack_token_budget).

    Returns per-source corpus stats (docs kept, token sum, chunk count).
    """
    from machine_learning_with_spark_streaming_spark.operators.pii import redact_pii
    from machine_learning_with_spark_streaming_spark.operators.sampling import (
        cap_per_group,
        pack_token_budget,
    )

    feats = quality_class(quality_features(corpus))
    kept = feats.filter(F.col("quality") != "junk")
    # repetition gate as a zero-shuffle projection (expr path +
    # keep_input) — no feature frame, no join back
    clean = repetition_gate(
        repetition_features(kept, keep_input=True)
    ).filter(F.col("repetitive") == 0).drop(
        "rep_n_words",
        "dup_word_ratio",
        "top_word_ratio",
        "top_bigram_ratio",
        "repetitive",
    )
    red = clean.withColumn("__nrm", normalize_text(redact_pii("text")))
    wded = Window.partitionBy("__nrm").orderBy("doc_id")
    deduped = (
        red.withColumn("__rn", F.row_number().over(wded))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    capped = cap_per_group(
        deduped, ["source"], [F.col("n_words").desc(), F.col("doc_id")], cap
    )
    toks = capped.withColumn("ws_tokens", F.size(F.split(F.col("__nrm"), " ")))
    packed = pack_token_budget(toks, budget, "ws_tokens", "source", "doc_id")
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("sum_tokens"),
            (F.max("chunk_id") + 1).cast("int").alias("n_chunks"),
        )
        .orderBy("source")
    )


def _prep_v2_oracle() -> str:
    from machine_learning_with_spark_streaming_spark.operators.dedup import _CORPUS_SQL
    from machine_learning_with_spark_streaming_spark.operators.pii import PII_PATTERNS

    redacted = "text"
    for kind, p in PII_PATTERNS.items():
        pat = p.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{pat}', '[{kind.upper()}]', 'g')"
    return f"""
WITH {_CORPUS_SQL},
corpus2 AS (
  SELECT doc_id, text, 'src' || CAST(doc_id % 20 AS VARCHAR) AS source FROM corpus
),
feats AS (
  SELECT doc_id, text, source,
         len({_WS}) AS n_words,
         length({_NORM}) AS n_chars,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         {_count_sql(QUALITY_STOPWORDS)} AS n_stop
  FROM corpus2
),
kept AS (
  SELECT doc_id, text, source, n_words FROM feats
  WHERE NOT (n_words < 5)
),
rw AS (SELECT doc_id, {_WS} AS ws FROM kept),
rwc AS (
  SELECT doc_id, w AS t, count(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS w FROM rw) GROUP BY 1, 2
),
rwagg AS (
  SELECT doc_id, sum(c) AS nw, count(*) AS nd, max(c) AS topw FROM rwc GROUP BY 1
),
rbg AS (
  SELECT doc_id, ws[g.i] || ' ' || ws[g.i+1] AS t
  FROM rw, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
),
rbc AS (SELECT doc_id, t, count(*) AS c FROM rbg GROUP BY 1, 2),
rbagg AS (SELECT doc_id, sum(c) AS nb, max(c) AS topb FROM rbc GROUP BY 1),
rep_ok AS (
  SELECT rwagg.doc_id
  FROM rwagg JOIN rbagg ON rwagg.doc_id = rbagg.doc_id
  WHERE NOT (round(CAST(topb AS DOUBLE) / nb, 6) > {REPETITION_MAX_TOP_BIGRAM}
             OR round(1.0 - CAST(nd AS DOUBLE) / nw, 6) > {REPETITION_MAX_DUP_WORD})
),
clean AS (SELECT k.* FROM kept k JOIN rep_ok USING (doc_id)),
red AS (
  SELECT doc_id, source, n_words,
         lower(trim(regexp_replace({redacted}, '\\s+', ' ', 'g'))) AS nrm
  FROM clean
),
dedup AS (
  SELECT doc_id, source, n_words, nrm FROM (
    SELECT *, row_number() OVER (PARTITION BY nrm ORDER BY doc_id) AS rn FROM red
  ) WHERE rn = 1
),
capped AS (
  SELECT doc_id, source, nrm FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY n_words DESC, doc_id) AS rn
    FROM dedup
  ) WHERE rn <= 15
),
toks AS (
  SELECT doc_id, source, len(string_split(nrm, ' ')) AS ws_tokens FROM capped
),
packed AS (
  SELECT source, ws_tokens,
         CAST(floor(coalesce(sum(ws_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / 512) AS INT) AS chunk_id
  FROM toks
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS sum_tokens,
       CAST(max(chunk_id) + 1 AS INT) AS n_chunks
FROM packed
GROUP BY 1
ORDER BY 1
"""


@register("pipeline_llm_data_prep_v2", oracle=_prep_v2_oracle(), bench=True)
def q_llm_data_prep_v2(spark, sf_dir):
    """Composed v2 corpus prep over the duplicate-injected corpus, with
    derived per-source provenance (injected ids inherit the base doc's
    source: the +100000/+200000 offsets are multiples of the 20-source
    cycle)."""
    corpus = corpus_with_duplicates(spark, sf_dir).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
    )
    return llm_data_prep_v2(corpus)


# ------------------------------------------------ unigram LM scoring

def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_words: bool = True,
) -> DataFrame:
    """Corpus-derived unigram LM score per document: mean ln P(word)
    under the corpus's own unigram distribution — the cheap end of the
    CCNet-style LM quality filter (public pipeline practice: KenLM
    perplexity gates; the n-gram upgrade reuses this exact two-pass
    plumbing with a different probability table).

    Pass 1 builds the word-frequency table (explode → groupBy word,
    map-side partials; the vocabulary, not the corpus, is the shuffle
    payload). The corpus total joins back in-plan via a broadcast 1-row
    cross join — no driver collect. Pass 2 re-joins log-probs onto the
    exploded corpus by word and averages per document. Self-derived
    vocabulary ⇒ no OOV smoothing needed; external LMs plug in as a
    (word, logp) table in the same shape.

    ``persist_words`` materializes the exploded word table once for its
    two consumers (vocab build + score join) — without it the plan scans
    and re-splits the corpus per consumer (same pattern and rationale as
    the shingle-table persist in operators/dedup.py; the cluster-scale
    analog is a temp-table write).
    """
    from pyspark.storagelevel import StorageLevel

    w = df.select(F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w"))
    if persist_words:
        w = w.persist(StorageLevel.MEMORY_AND_DISK)
    vocab = w.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "w", F.log(F.col("c") / F.col("t")).alias("logp")
    )
    return (
        w.join(logp, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.avg("logp"), 4).alias("avg_logprob"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_words").cast("int").alias("n_words"),
            "avg_logprob",
        )
    )


_UNIGRAM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_WS}) AS w FROM documents
),
vocab AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
total AS (SELECT sum(c) AS t FROM vocab),
logp AS (SELECT w, ln(CAST(c AS DOUBLE) / t) AS logp FROM vocab, total)
SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS INT) AS n_words,
       round(avg(logp.logp), 4) AS avg_logprob
FROM w JOIN logp ON w.w = logp.w
GROUP BY 1
ORDER BY 1
"""


@register("text_unigram_logprob", oracle=_UNIGRAM_ORACLE, bench=True)
def q_unigram_logprob(spark, sf_dir):
    """Unigram LM quality score per document (corpus-fit distribution)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs).orderBy("doc_id")


# ------------------------------------------------ chunking for embedding

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_token_table(
    df: DataFrame,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, chunk_idx, toks)`` — the overlapping-window chunk table
    shared by :func:`chunk_windows` and the RAG index pipeline
    (operators/similarity.py:rag_index_topk)."""
    ws = words(text_col)
    base = df.select(F.col(id_col).alias(id_col), ws.alias("__ws"))
    starts = F.sequence(F.lit(0), F.size("__ws") - 1, F.lit(stride))
    chunk = F.explode(
        F.transform(
            starts,
            lambda st: F.struct(
                (st / stride).cast("int").alias("chunk_idx"),
                F.slice(F.col("__ws"), st + 1, size).alias("toks"),
            ),
        )
    )
    return base.select(id_col, chunk.alias("c")).select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.toks").alias("toks"),
    )


def chunk_windows(
    df: DataFrame,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token windows per document (RAG/embedding chunking:
    size-token chunks every stride tokens, so consecutive chunks share
    size-stride tokens of context). Pure array expressions — sequence of
    starts → slice per start → explode; no UDF, no shuffle beyond the
    explode's row growth (bounded: ~n_tokens/stride chunks per doc)."""
    return chunk_token_table(df, size, stride, text_col, id_col).select(
        id_col,
        "chunk_idx",
        F.size("toks").cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("toks"))).alias("chunk_md5"),
    )


_CHUNK_ORACLE = f"""
WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
st AS (
  SELECT doc_id, ws, g.s AS start
  FROM w, LATERAL (
    SELECT unnest(generate_series(0, len(ws) - 1, {CHUNK_STRIDE})) AS s
  ) g
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(start / {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(len(list_slice(ws, start + 1, start + {CHUNK_SIZE})) AS INT) AS n_tokens,
       md5(array_to_string(list_slice(ws, start + 1, start + {CHUNK_SIZE}), ' '))
         AS chunk_md5
FROM st
ORDER BY 1, 2
"""


@register("text_chunk_windows", oracle=_CHUNK_ORACLE, bench=True)
def q_chunk_windows(spark, sf_dir):
    """64-token chunks with 16-token overlap per document; md5 of each
    chunk's text proves byte-identical windowing cross-engine."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_windows(docs).orderBy("doc_id", "chunk_idx")


_REPEATED_CHUNKS_ORACLE = f"""
WITH {_CORPUS_SQL},
w AS (SELECT doc_id, {_WS} AS ws FROM corpus),
st AS (
  SELECT doc_id, ws, g.s AS start
  FROM w, LATERAL (
    SELECT unnest(generate_series(0, len(ws) - 1, {CHUNK_STRIDE})) AS s
  ) g
),
ch AS (
  SELECT doc_id,
         len(list_slice(ws, start + 1, start + {CHUNK_SIZE})) AS n_tokens,
         md5(array_to_string(list_slice(ws, start + 1, start + {CHUNK_SIZE}), ' '))
           AS chunk_md5
  FROM st
)
SELECT chunk_md5,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM ch
WHERE n_tokens = {CHUNK_SIZE}
GROUP BY 1
HAVING count(DISTINCT doc_id) > 1
ORDER BY 1
"""


@register("dedup_repeated_chunks", oracle=_REPEATED_CHUNKS_ORACLE, bench=True)
def q_repeated_chunks(spark, sf_dir):
    """Sub-document span dedup: full-size token windows repeated across
    documents (the scalable stand-in for suffix-array substring dedup —
    fixed-stride windows + hash grouping instead of O(n log n) global
    suffix sorting). Composes chunk_windows with a hash groupBy; the
    shuffle key is the 16-byte chunk hash, never the window text."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    ch = chunk_windows(corpus)
    return (
        ch.filter(F.col("n_tokens") == CHUNK_SIZE)
        .groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("chunk_md5")
    )


def vocabulary(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Global token vocabulary: corpus-wide term frequency + document
    frequency per token. Explode → one ``groupBy(token)`` — map-side
    partial aggregation combines each partition's counts before the
    single token-keyed shuffle, so shuffled bytes scale with the
    *vocabulary* per partition (Heaps' law sublinear), not the corpus.
    ``countDistinct`` adds the standard distinct pre-aggregation on
    (token, doc) — also map-side combined.
    """
    wt = df.select(
        F.col(id_col).alias("__id"), F.explode(words(text_col)).alias("token")
    ).filter(F.col("token") != "")
    return wt.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("__id").alias("df"),
    )


def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` vocabulary by corpus frequency, ranked. The top-k is
    ``orderBy(...).limit(k)`` — Spark plans a per-partition TakeOrdered
    then a k-row merge on the driver, never a global sort. The rank
    window orders only the k surviving rows (tiny by construction)."""
    top = vocabulary(df, text_col, id_col).orderBy(F.desc("tf"), "token").limit(k)
    w = Window.orderBy(F.desc("tf"), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


_VOCAB_ORACLE = f"""
WITH wt AS (
  SELECT doc_id, unnest({_WS}) AS token FROM documents
),
v AS (
  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
  FROM wt WHERE token <> '' GROUP BY 1
)
SELECT token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT) AS rank
FROM v ORDER BY tf DESC, token LIMIT 100
"""


@register("text_vocab_topk", oracle=_VOCAB_ORACLE)
def q_vocab_topk(spark, sf_dir):
    """Top-100 corpus vocabulary with term + document frequency — the
    building block for stopword mining, tokenizer audits, and the
    unigram-LM quality scorer's frequency table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_topk(docs, k=100).orderBy("rank")


def tfidf_topterms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (`tf · ln(N/df)`).

    Shape at scale: per-doc term counts and the document-frequency
    table both come off ONE exploded pass (two token-keyed shuffles
    with map-side partials); the corpus size ``N`` joins in as a
    broadcast 1-row aggregate so the plan stays fully lazy — no
    driver-side ``count()`` action; the final per-doc ranking windows
    on ``id_col``, the natural partitioning the tf table already has.

    Tie-breaking is total (score desc, token asc): equal scores arise
    from identical (tf, df) pairs, which rank identically in any
    engine, so the output is cross-engine deterministic.
    """
    wt = df.select(
        F.col(id_col).alias("__id"), F.explode(words(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = wt.groupBy("__id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # tf rows are distinct (doc, token) pairs => df = row count per token
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("__id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col),
            "token",
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


_TFIDF_ORACLE = f"""
WITH wt AS (
  SELECT doc_id, unnest({_WS}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM wt WHERE token <> '' GROUP BY 1, 2
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
       CAST(tf AS INT) AS tf, CAST(df AS BIGINT) AS df,
       round(tfidf, 6) AS tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
"""


@register("text_tfidf_topterms", oracle=_TFIDF_ORACLE)
def q_tfidf_topterms(spark, sf_dir):
    """Top-3 TF-IDF terms per document — per-doc keyword extraction
    for corpus topical analysis and cluster labeling."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topterms(docs, k=3).orderBy("doc_id", "rank")


# ------------------------------------- CCNet-style perplexity bucketing

def perplexity_buckets(
    docs: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style head/middle/tail quality terciles per language.

    CCNet's published pipeline buckets Common Crawl by LM perplexity
    *within each language* and trains mostly on the head. Here the LM
    is the certified corpus-fit unigram score (``unigram_logprob``);
    ``ntile(3)`` over (language, score desc) assigns the terciles —
    head = highest mean log-prob = lowest perplexity. Ordering ties
    break on ``id_col`` so bucket membership is total-order
    deterministic cross-engine. One extra shuffle over the (id, lang,
    score) table — never over the documents' text."""
    scores = unigram_logprob(docs, text_col=text_col, id_col=id_col)
    slim = docs.select(F.col(id_col), F.col(lang_col)).join(scores, id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("avg_logprob"), F.asc(id_col)
    )
    bucket = F.ntile(3).over(w)
    return slim.withColumn(
        "bucket",
        F.when(bucket == 1, "head").when(bucket == 2, "middle").otherwise("tail"),
    )


_CCNET_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_WS}) AS w FROM documents
),
vocab AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
total AS (SELECT sum(c) AS t FROM vocab),
logp AS (SELECT w, ln(CAST(c AS DOUBLE) / t) AS logp FROM vocab, total),
scored AS (
  SELECT w.doc_id,
         CAST(count(*) AS INT) AS n_words,
         round(avg(logp.logp), 4) AS avg_logprob
  FROM w JOIN logp ON w.w = logp.w
  GROUP BY 1
),
assigned AS (
  SELECT d.lang, s.n_words, s.avg_logprob,
         CASE ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY s.avg_logprob DESC, s.doc_id)
              WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS bucket
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       round(avg(avg_logprob), 4) AS avg_score
FROM assigned
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("text_perplexity_buckets", oracle=_CCNET_ORACLE, bench=True)
def q_perplexity_buckets(spark, sf_dir):
    """Per-language head/middle/tail LM-quality terciles (CCNet shape)
    over documents; certify per-bucket doc/word masses and mean score."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return (
        perplexity_buckets(docs)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("sum_words"),
            F.round(F.avg("avg_logprob"), 4).alias("avg_score"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------------------- corpus datasheet

def corpus_datasheet(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-pass corpus "datasheet": the summary battery a curation run
    publishes next to its output (docs/langs/sources, char and token
    mass, exact-duplicate rate, length percentiles) as a long-format
    (metric, value) table, assembled from TWO aggregate scans joined
    on their single rows (distincts in one, sums + exact percentiles
    in the other — fused, the 3-way count-distinct Expand would buffer
    the percentile value lists per distinct-value group, the
    candidate_keys trap) + a ``stack`` unpivot; the dup-rate reuses
    the 8-byte-hash dedup key, so nothing here shuffles document text.
    Percentiles and distincts are exact here; the 100 TB swap (HLL++ +
    t-digest, no shape change) is itself certified as
    ``text_corpus_datasheet_approx`` below."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import normalize_text

    ws_count = F.size(words(text_col)).cast("double")
    plain = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.length(text_col)).cast("double").alias("total_chars"),
        F.sum(ws_count).alias("total_ws_tokens"),
        F.round(F.percentile(F.length(text_col), F.lit(0.5)), 4).alias(
            "p50_chars"
        ),
        F.round(F.percentile(F.length(text_col), F.lit(0.9)), 4).alias(
            "p90_chars"
        ),
    )
    nd = docs.agg(
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        # NULL text coalesces to '' BEFORE hashing: Spark xxhash64
        # never returns NULL (a NULL input hashes to the seed), so an
        # uncoalesced NULL doc would count as a real fingerprint here
        # while the oracle's count(DISTINCT ...) excluded it
        F.countDistinct(
            F.xxhash64(F.coalesce(normalize_text(text_col), F.lit("")))
        )
        .cast("double")
        .alias("__n_uniq"),
    )
    agg = plain.crossJoin(F.broadcast(nd)).withColumn(
        "exact_dup_rate",
        F.round(F.lit(1.0) - F.col("__n_uniq") / F.col("n_docs"), 6),
    )
    metrics = [
        "n_docs",
        "n_langs",
        "n_sources",
        "total_chars",
        "total_ws_tokens",
        "exact_dup_rate",
        "p50_chars",
        "p90_chars",
    ]
    stack = ", ".join(f"'{m}', {m}" for m in metrics)
    return agg.selectExpr(
        f"stack({len(metrics)}, {stack}) AS (metric, value)"
    )


_DATASHEET_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, lang, source,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents
)
SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM corpus
UNION ALL
SELECT 'n_langs', CAST(count(DISTINCT lang) AS DOUBLE) FROM corpus
UNION ALL
SELECT 'n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM corpus
UNION ALL
SELECT 'total_chars', CAST(sum(length(text)) AS DOUBLE) FROM corpus
UNION ALL
SELECT 'total_ws_tokens', CAST(sum(len({_WS})) AS DOUBLE) FROM documents
UNION ALL
SELECT 'exact_dup_rate',
       round(1.0 - CAST(count(DISTINCT coalesce(norm, '')) AS DOUBLE)
             / count(*), 6)
FROM corpus
UNION ALL
SELECT 'p50_chars', round(quantile_cont(length(text), 0.5), 4) FROM corpus
UNION ALL
SELECT 'p90_chars', round(quantile_cont(length(text), 0.9), 4) FROM corpus
"""


@register("text_corpus_datasheet", oracle=_DATASHEET_ORACLE)
def q_corpus_datasheet(spark, sf_dir):
    """Corpus summary datasheet over documents (long-format metrics)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus_datasheet(docs).orderBy("metric")


_DATASHEET_APPROX_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(0 AS INT) AS v_langs,
       CAST(0 AS INT) AS v_sources,
       CAST(0 AS INT) AS v_uniq,
       CAST(0 AS INT) AS v_p50,
       CAST(0 AS INT) AS v_p90
FROM documents
"""


@register("text_corpus_datasheet_approx", oracle=_DATASHEET_APPROX_ORACLE, bench=True)
def q_corpus_datasheet_approx(spark, sf_dir):
    """The 100 TB datasheet, CERTIFIED (not just documented in
    corpus_datasheet's docstring): every exact-distinct becomes HLL++
    (``approx_count_distinct``, rsd 2%, checked in-row at 5% = 2.5
    sigma against the exact count — the a13 recipe; the exact side
    exists only on this certification surface) and the length
    percentiles become ``percentile_approx`` t-digests with the
    rank-error bound (<= n/accuracy, +1 slack) checked by one counting
    pass. Oracle pins the exact scan metrics (n_docs, total_chars)
    plus the zero-violation contract for all five sketches.

    Scale shape: one mergeable-sketch aggregate + one counting probe —
    no exact-distinct shuffle, no per-corpus sort; production keeps
    the first aggregate alone."""
    from machine_learning_with_spark_streaming_spark.operators.aggregates import (
        APPROX_ACCURACY,
        hll_bound_violation,
        rank_bound_violation,
    )
    from machine_learning_with_spark_streaming_spark.operators.dedup import (
        normalize_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp = F.xxhash64(F.coalesce(normalize_text("text"), F.lit("")))
    # sketch scan and exact-distinct scan kept as separate aggregates
    # (joined on their single rows): fused, the multi-count-distinct
    # Expand buffers the 3 HLL + t-digest states per distinct-value
    # group — the candidate_keys trap, measured 3.5 s vs ~1 s split
    sk = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        # the t-digest only sees non-NULL lengths; its rank bound must
        # be checked against THIS count, not n — with m NULL docs the
        # counting pass can never exceed n - m and n-based bounds would
        # emit false violations
        F.count(F.length("text")).alias("n_len"),
        F.approx_count_distinct("lang", rsd=0.02).alias("a_langs"),
        F.approx_count_distinct("source", rsd=0.02).alias("a_sources"),
        F.approx_count_distinct(fp, rsd=0.02).alias("a_uniq"),
        F.percentile_approx(
            F.length("text"), [0.5, 0.9], APPROX_ACCURACY
        ).alias("ap"),
    )
    nd = docs.agg(
        F.countDistinct("lang").alias("e_langs"),
        F.countDistinct("source").alias("e_sources"),
        F.countDistinct(fp).alias("e_uniq"),
    )
    agg = sk.crossJoin(F.broadcast(nd))
    probe = docs.select(F.length("text").alias("len")).crossJoin(
        F.broadcast(agg)
    )
    counts = probe.groupBy(
        "n", "n_len", "total_chars", "a_langs", "e_langs", "a_sources",
        "e_sources", "a_uniq", "e_uniq",
    ).agg(
        F.sum((F.col("len") < F.col("ap")[0]).cast("long")).alias("lt0"),
        F.sum((F.col("len") <= F.col("ap")[0]).cast("long")).alias("le0"),
        F.sum((F.col("len") < F.col("ap")[1]).cast("long")).alias("lt1"),
        F.sum((F.col("len") <= F.col("ap")[1]).cast("long")).alias("le1"),
    )
    def hll_viol(a: str, e: str):
        return hll_bound_violation(F.col(a), F.col(e))

    def rank_viol(lt: str, le: str, q: float):
        return rank_bound_violation(
            F.col(lt), F.col(le), q, F.col("n_len")
        )

    return counts.select(
        F.col("n").cast("long").alias("n_docs"),
        "total_chars",
        hll_viol("a_langs", "e_langs").alias("v_langs"),
        hll_viol("a_sources", "e_sources").alias("v_sources"),
        hll_viol("a_uniq", "e_uniq").alias("v_uniq"),
        rank_viol("lt0", "le0", 0.5).alias("v_p50"),
        rank_viol("lt1", "le1", 0.9).alias("v_p90"),
    )


# ------------------------------------------------ DSIR importance weights

def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_words: bool = True,
) -> DataFrame:
    """DSIR-style importance weight per document: mean over the doc's
    words of ``ln p_target(w) - ln p_source(w)`` where the target unigram
    model is fit on the rows matching ``target_pred`` and the source
    model on the whole corpus (Data Selection via Importance Resampling,
    Xie et al. 2023 — the public recipe uses hashed n-gram features; the
    unigram form here reuses the same two-pass plumbing as
    ``unigram_logprob`` and upgrades to hashed n-grams by swapping the
    explode expression). High weight = looks like the target domain.

    Both models come out of ONE vocabulary pass: the target membership
    flag rides along with each exploded word, so ``c_target`` is a
    conditional sum in the same groupBy that computes ``c_all`` — no
    second corpus scan. Laplace smoothing ``(c+1)/(t+V)`` over the shared
    full-corpus vocabulary ``V`` keeps target-OOV words finite. Totals
    join back in-plan via a broadcast 1-row cross join (no driver
    collect); per-doc scoring is a word-key join + avg, map-side partials
    throughout. Scales: vocabulary, not corpus, is the shuffle payload.
    """
    from pyspark.storagelevel import StorageLevel

    w = df.select(
        F.col(id_col).alias("id"),
        target_pred.cast("int").alias("is_t"),
        F.explode(words(text_col)).alias("w"),
    )
    if persist_words:
        w = w.persist(StorageLevel.MEMORY_AND_DISK)
    vocab = w.groupBy("w").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("is_t").alias("c_tgt")
    )
    stats = vocab.agg(
        F.sum("c_all").alias("t_all"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    logr = vocab.crossJoin(F.broadcast(stats)).select(
        "w",
        (
            F.log((F.col("c_tgt") + 1) / (F.col("t_tgt") + F.col("v")))
            - F.log((F.col("c_all") + 1) / (F.col("t_all") + F.col("v")))
        ).alias("logr"),
    )
    return (
        w.join(logr, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            # + 0.0 folds IEEE -0.0 to +0.0 so both engines render
            # near-zero averages identically after rounding
            (F.round(F.avg("logr"), 4) + F.lit(0.0)).alias("avg_log_ratio"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_words").cast("int").alias("n_words"),
            "avg_log_ratio",
        )
    )


_DSIR_ORACLE = f"""
WITH w AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
         unnest({_WS}) AS w
  FROM documents
),
vocab AS (
  SELECT w, count(*) AS c_all, sum(is_t) AS c_tgt FROM w GROUP BY 1
),
stats AS (
  SELECT sum(c_all) AS t_all, sum(c_tgt) AS t_tgt, count(*) AS v FROM vocab
),
logr AS (
  SELECT w,
         ln(CAST(c_tgt + 1 AS DOUBLE) / CAST(t_tgt + v AS DOUBLE))
         - ln(CAST(c_all + 1 AS DOUBLE) / CAST(t_all + v AS DOUBLE)) AS logr
  FROM vocab, stats
)
SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS INT) AS n_words,
       round(avg(logr.logr), 4) + 0.0 AS avg_log_ratio
FROM w JOIN logr ON w.w = logr.w
GROUP BY 1
ORDER BY 1
"""


@register("text_dsir_weights", oracle=_DSIR_ORACLE, bench=True)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights with English as the target domain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return dsir_importance(docs, F.col("lang") == "en").orderBy("doc_id")


# -------------------------------------------------- segment-level dedup

SEGMENT_WORDS = 8


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = SEGMENT_WORDS,
) -> DataFrame:
    """CCNet-style sub-document dedup that REWRITES documents: split each
    document into fixed-width word segments (the stand-in for paragraphs
    — this corpus has no newlines), keep exactly the first corpus-wide
    occurrence of every distinct segment (first = min ``(doc, seg_idx)``,
    an order-free rule that does not depend on scan order), drop every
    other occurrence, and reassemble each document from its surviving
    segments in order.

    Unlike ``q_repeated_chunks`` (detection/report), this is the rewrite
    operator: output is ``(id, n_seg, n_kept, n_dropped, clean_text)``.

    Scale shape: one ``posexplode`` pass (linear in corpus tokens), a
    segment-assembly groupBy on ``(id, seg_idx)``, a keeper groupBy on
    the segment hash (min-struct aggregate — map-side partials, 16-byte
    shuffle rows), and the per-doc rebuild groupBy. Segment bodies
    travel the shuffle once (assembly); the keeper election moves only
    ``(hash, id, seg_idx)``. No windows over the whole corpus, no
    driver-side state — every stage is a hash shuffle on bounded keys.

    Reference analog: the dedup family of pipeline/lib.py drop_duplicates
    calls, lifted from whole-row to sub-document granularity (CCNet
    paragraph dedup per PAPERS.md)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words(text_col)).alias("pos", "w"),
    )
    seg = (
        toks.withColumn("seg_idx", (F.col("pos") / seg_words).cast("long"))
        .groupBy("id", "seg_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("seg_text")
        )
        .withColumn("h", F.md5("seg_text"))
    )
    keeper = seg.groupBy("h").agg(
        F.min(F.struct(F.col("id"), F.col("seg_idx"))).alias("k")
    )
    kept = seg.join(keeper, "h").filter(
        (F.col("id") == F.col("k.id")) & (F.col("seg_idx") == F.col("k.seg_idx"))
    )
    # totals from the INPUT ids, not from seg: a NULL-text doc produces
    # zero token rows, and deriving totals from seg would silently drop
    # it from the output instead of surfacing (n_seg=0, clean_text='').
    totals = df.select(F.col(id_col).alias("id")).distinct().join(
        seg.groupBy("id").agg(F.count(F.lit(1)).alias("n_seg")), "id", "left"
    ).select("id", F.coalesce(F.col("n_seg"), F.lit(0)).alias("n_seg"))
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda x: x["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id"),
            F.col("n_seg"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("n_seg") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_dropped"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


_SEGMENT_DEDUP_ORACLE = f"""
WITH {_CORPUS_SQL},
nw AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM corpus),
tok AS (
  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, ws[g.i] AS w
  FROM nw, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
),
seg AS (
  SELECT doc_id, pos // {SEGMENT_WORDS} AS seg_idx,
         string_agg(w, ' ' ORDER BY pos) AS seg_text
  FROM tok GROUP BY doc_id, pos // {SEGMENT_WORDS}
),
ranked AS (
  SELECT doc_id, seg_idx, seg_text,
         row_number() OVER (
           PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx
         ) AS rn
  FROM seg
),
totals AS (
  SELECT c.doc_id, CAST(coalesce(sc.n_seg, 0) AS BIGINT) AS n_seg
  FROM (SELECT DISTINCT doc_id FROM corpus) c
  LEFT JOIN (SELECT doc_id, count(*) AS n_seg FROM seg GROUP BY doc_id) sc
    USING (doc_id)
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(seg_text, ' ' ORDER BY seg_idx)) AS clean_md5
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       t.n_seg,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_seg - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(r.clean_md5, md5('')) AS clean_md5
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY 1
"""


@register("dedup_segments_rewrite", oracle=_SEGMENT_DEDUP_ORACLE, bench=True)
def q_segment_dedup(spark, sf_dir):
    """Segment dedup over the injected-duplicate corpus: exact copies
    lose every segment, near-copies keep only the trailing suffix
    segment; the rebuilt text is hash-compared cross-engine."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    out = segment_dedup(corpus)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_seg",
        "n_kept",
        "n_dropped",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


# ----------------------------------------- hashed linear quality filter

def hashed_quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """fastText-style hashed-unigram linear classifier, serving path.

    The production shape of LLM-corpus quality filters (CCNet/DCLM
    fasttext gates): tokens hash into N_BUCKETS buckets, the frozen
    linear weights (distilled from the engine's rule-based quality gate
    by tools/freeze_text_classifier.py) score each document as the mean
    bucket weight plus bias. Weights are INTEGER micro-units, so the
    per-doc aggregate is a BIGINT sum — order-independent, hence
    bit-identical across partitionings and engines — and the verdict
    ``sum_w + bias*n > 0`` is exact integer arithmetic (no float
    boundary flips). One explode + one groupBy with map-side partials;
    the weight table rides the plan as a 256-int literal array, so
    scoring is map-only until the per-doc combine. Scales like
    token counting.

    Reference analog: the PASS/FAIL verdict pattern of
    pipeline/qualitycheck.py:175-180, upgraded to a learned filter."""
    from machine_learning_with_spark_streaming_spark.functions.textclf_artifacts import (
        BIAS_MICRO,
        N_BUCKETS,
        WEIGHTS_MICRO,
    )
    from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60

    arr = F.array(*[F.lit(w) for w in WEIGHTS_MICRO])
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w")
    )
    wm = F.element_at(
        arr, (md5_hash60(F.col("w")) % N_BUCKETS + 1).cast("int")
    )
    agg = toks.groupBy("id").agg(
        F.sum(wm).alias("sum_w_micro"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    # score in INTEGER micro-units: half-away-from-zero rounding of
    # sum/n done in exact integer arithmetic. The float form
    # round(sum/(n*1e6) + bias/1e6, 6) lands on decimal ties whenever
    # n | 2*sum, and Spark's BigDecimal rounding vs DuckDB's
    # scaled-multiply rounding disagree on tie-adjacent doubles (found
    # by the sf0.1 sweep) — integers cannot disagree.
    mean_micro = (
        F.when(F.col("sum_w_micro") >= 0, F.lit(1)).otherwise(F.lit(-1))
        * F.expr(
            "(2 * abs(sum_w_micro) + n_tokens) div (2 * n_tokens)"
        )
    )
    return agg.select(
        "id",
        "n_tokens",
        "sum_w_micro",
        (mean_micro + F.lit(BIAS_MICRO)).cast("long").alias("score_micro"),
        (
            (F.col("sum_w_micro") + F.lit(BIAS_MICRO) * F.col("n_tokens")) > 0
        ).cast("int").alias("pred_good"),
    )


def _textclf_oracle() -> str:
    from machine_learning_with_spark_streaming_spark.functions.textclf_artifacts import (
        BIAS_MICRO,
        N_BUCKETS,
        WEIGHTS_MICRO,
    )

    weights = "[" + ", ".join(str(w) for w in WEIGHTS_MICRO) + "]"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_WS}) AS w FROM documents
),
scored AS (
  SELECT doc_id,
         {weights}[CAST(('0x' || substr(md5(w), 1, 15))::BIGINT
                        % {N_BUCKETS} + 1 AS INT)] AS wm
  FROM tok
),
agg AS (
  SELECT doc_id, CAST(sum(wm) AS BIGINT) AS sum_w_micro,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM scored GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, sum_w_micro,
       CAST(CASE WHEN sum_w_micro >= 0 THEN 1 ELSE -1 END
            * ((2 * abs(sum_w_micro) + n_tokens) // (2 * n_tokens))
            + {BIAS_MICRO} AS BIGINT) AS score_micro,
       CAST(sum_w_micro + {BIAS_MICRO} * n_tokens > 0 AS INT) AS pred_good
FROM agg
ORDER BY 1
"""


@register("text_quality_classifier", oracle=_textclf_oracle(), bench=True)
def q_hashed_quality_classifier(spark, sf_dir):
    """Frozen hashed-linear quality filter over documents; the verdict
    and the micro-unit score are both exact integers, hash-compared."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        hashed_quality_score(docs)
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "sum_w_micro",
            "score_micro",
            "pred_good",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------- tokenizer induction (BPE)

BPE_TOP_PAIRS = 50


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide adjacent-character-pair statistics — the counting
    step of a BPE tokenizer-training iteration (the merge choice is
    ``argmax`` over exactly this table).

    Scale shape: aggregate the corpus to a WORD-FREQUENCY table first
    (the classic BPE trick — pair counting then runs over distinct
    words x frequency, not over every token occurrence; web corpora
    have ~1e6 distinct words vs ~1e12 tokens), then explode each
    distinct word's adjacent pairs and sum frequencies. Two shuffles,
    both on small keys (word, pair); everything JVM-side.

    Returns (pair, n) — callers rank/limit; at scale the next merge
    iteration rewrites the word table and re-runs."""
    wf = (
        df.select(F.explode(words(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # sequence(1, 0) counts DOWN in Spark (DuckDB's generate_series is
    # empty) — clamp the stop and drop the 1-char "pair" a single-char
    # word produces instead
    pairs = wf.select(
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length("w") - 1, F.lit(1))
                    ),
                    lambda i: F.substring(F.col("w"), i, F.lit(2)),
                ),
                lambda p: F.length(p) == 2,
            )
        ).alias("pair"),
        "freq",
    )
    return pairs.groupBy("pair").agg(F.sum("freq").alias("n"))


_BPE_ORACLE = f"""
WITH wf AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({_WS}) AS w FROM documents)
  GROUP BY 1
),
pairs AS (
  SELECT substr(w, g.i, 2) AS pair, freq
  FROM wf, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) g
),
counts AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank,
       pair, n
FROM counts
ORDER BY 1
LIMIT {BPE_TOP_PAIRS}
"""


@register("text_bpe_pair_counts", oracle=_BPE_ORACLE, bench=True)
def q_bpe_pair_counts(spark, sf_dir):
    """Top-{BPE_TOP_PAIRS} adjacent character pairs (first BPE merge
    iteration statistics) with deterministic (count desc, pair asc)
    ranking."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from pyspark.sql import Window as W

    ranked = bpe_pair_counts(docs).withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("n").desc(), F.col("pair"))),
    )
    return (
        ranked.filter(F.col("rank") <= BPE_TOP_PAIRS)
        .select("rank", "pair", "n")
        .orderBy("rank")
    )


# ------------------------------------------------------- bigram LM score

def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_bigrams: bool = True,
) -> DataFrame:
    """Corpus-derived bigram LM score per document: mean ln P(w2 | w1)
    with P = c(w1 w2) / c(w1 ·) — the n-gram upgrade of
    :func:`unigram_logprob` on the exact two-pass plumbing its docstring
    promises (KenLM-style gates are this with a bigger table and
    backoff; an external LM plugs in as a (bigram, logp) table).

    Self-derived conditional probabilities need no OOV smoothing; the
    shuffles move the bigram VOCABULARY (groupBy with map-side partials)
    and (id, 8-byte-ish keys) — never document bodies. Documents with
    fewer than 2 words have no bigrams and are absent from the output.
    """
    from pyspark.storagelevel import StorageLevel

    bg = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), " ").alias("__ws"),
    ).select(
        "id",
        F.explode(_grams_from_words(F.col("__ws"), 2, distinct=False)).alias("bg"),
    )
    if persist_bigrams:
        bg = bg.persist(StorageLevel.MEMORY_AND_DISK)
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        bg.select(F.substring_index("bg", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    logp = (
        c2.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(c1, "w1")
        .select("bg", F.log(F.col("c2") / F.col("c1")).alias("logp"))
    )
    return (
        bg.join(logp, "bg")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logprob"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_bigrams").cast("int").alias("n_bigrams"),
            "avg_logprob",
        )
    )


_BIGRAM_ORACLE = f"""
WITH wr AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
),
bg AS (
  SELECT doc_id, ws[g.i] || ' ' || ws[g.i+1] AS bg
  FROM wr, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
),
c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
logp AS (
  SELECT c2.bg, ln(CAST(c2.c2 AS DOUBLE) / c1.c1) AS logp
  FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1
)
SELECT CAST(bg.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS INT) AS n_bigrams,
       round(avg(logp.logp), 4) AS avg_logprob
FROM bg JOIN logp ON bg.bg = logp.bg
GROUP BY 1
ORDER BY 1
"""


@register("text_bigram_logprob", oracle=_BIGRAM_ORACLE)
def q_bigram_logprob(spark, sf_dir):
    """Bigram conditional-LM quality score over documents."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs).orderBy("doc_id")


# ------------------------------- mergeable (incremental) datasheet

HIST_BIN_WIDTH = 512
HIST_N_BINS = 8


def datasheet_sketch(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mergeable datasheet partial for one corpus part, as a long
    ``(kind, key, value)`` table:

    - ``count`` rows: n_docs / total_chars / total_ws_tokens partials;
    - ``lang`` / ``source`` rows: distinct values seen (presence sets);
    - ``hash`` rows: the 8-byte normalized-text fingerprints with
      multiplicity — the same artifact the incremental-dedup base
      maintains, reused here for the dup-rate;
    - ``hist`` rows: fixed-width char-length bin counts (the mergeable
      replacement for :func:`corpus_datasheet`'s exact percentiles —
      quantiles don't merge, histograms do).

    Two sketches merge with ``groupBy(kind, key).sum(value)``; a merged
    sketch finalizes to the identical datasheet a full recompute gives
    (the a16 rollup-maintenance contract, applied to corpus stats).
    Sketch size is O(unique docs) from the hash rows — exactly the
    fingerprint table a 100 TB incremental-dedup deployment already
    stores; everything else is O(bins + langs + sources)."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import normalize_text

    ws_count = F.size(words(text_col)).cast("long")
    n_chars = F.length(text_col).cast("long")
    counts = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_chars).alias("total_chars"),
        F.sum(ws_count).alias("total_ws_tokens"),
    ).selectExpr(
        "stack(3, 'n_docs', n_docs, 'total_chars', total_chars,"
        " 'total_ws_tokens', total_ws_tokens) AS (key, value)"
    ).select(F.lit("count").alias("kind"), "key", "value")
    langs = (
        docs.groupBy(F.col("lang").alias("key"))
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("lang").alias("kind"), "key", "value")
    )
    sources = (
        docs.groupBy(F.col("source").alias("key"))
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("source").alias("kind"), "key", "value")
    )
    hashes = (
        # coalesce NULL text to '' so both engines count NULL-text docs
        # identically (xxhash64(NULL) is the seed, a real fingerprint)
        docs.groupBy(
            F.conv(
                F.xxhash64(
                    F.coalesce(normalize_text(text_col), F.lit(""))
                ).cast("string"),
                10,
                16,
            ).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("hash").alias("kind"), "key", "value")
    )
    bins = (
        docs.groupBy(
            F.least(
                F.floor(n_chars / HIST_BIN_WIDTH), F.lit(HIST_N_BINS - 1)
            ).cast("string").alias("key")
        )
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("hist").alias("kind"), "key", "value")
    )
    return counts.unionByName(langs).unionByName(sources).unionByName(
        hashes
    ).unionByName(bins)


def merge_sketches(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two datasheet sketches — additive on every kind (presence
    sets just accumulate multiplicity; only row EXISTENCE matters for
    them)."""
    return (
        a.unionByName(b)
        .groupBy("kind", "key")
        .agg(F.sum("value").alias("value"))
    )


def finalize_datasheet(sketch: DataFrame) -> DataFrame:
    """Sketch -> the (metric, value) datasheet. One aggregate over the
    sketch (which is tiny except for hash rows, and those reduce to two
    conditional counts)."""
    agg = sketch.agg(
        F.sum(F.when((F.col("kind") == "count") & (F.col("key") == "n_docs"),
                     F.col("value"))).alias("n_docs"),
        F.sum(F.when((F.col("kind") == "count") & (F.col("key") == "total_chars"),
                     F.col("value"))).alias("total_chars"),
        F.sum(F.when((F.col("kind") == "count") & (F.col("key") == "total_ws_tokens"),
                     F.col("value"))).alias("total_ws_tokens"),
        # NULL keys stay in the sketch (their doc counts matter for
        # n_docs partials elsewhere) but must not count as a distinct
        # value — count(DISTINCT lang) semantics exclude NULL
        F.count(
            F.when((F.col("kind") == "lang") & F.col("key").isNotNull(), 1)
        ).alias("n_langs"),
        F.count(
            F.when((F.col("kind") == "source") & F.col("key").isNotNull(), 1)
        ).alias("n_sources"),
        F.count(F.when(F.col("kind") == "hash", 1)).alias("n_uniq"),
        *[
            F.sum(
                F.when((F.col("kind") == "hist") & (F.col("key") == str(i)),
                       F.col("value"))
            ).alias(f"hist_{i}")
            for i in range(HIST_N_BINS)
        ],
    ).withColumn(
        "exact_dup_rate",
        F.round(1.0 - F.col("n_uniq") / F.col("n_docs"), 6),
    )
    metrics = ["n_docs", "n_langs", "n_sources", "total_chars",
               "total_ws_tokens", "exact_dup_rate"] + [
        f"hist_{i}" for i in range(HIST_N_BINS)
    ]
    stack = ", ".join(
        f"'{m}', CAST(coalesce({m}, 0) AS DOUBLE)" for m in metrics
    )
    return agg.selectExpr(
        f"stack({len(metrics)}, {stack}) AS (metric, value)"
    )


_INCR_DATASHEET_ORACLE = f"""
WITH lens AS (
  SELECT doc_id, lang, source, length(text) AS n_chars,
         len(string_split({_NORM}, ' ')) AS n_ws,
         {_NORM} AS nrm,
         least(CAST(floor(length(text) / {HIST_BIN_WIDTH}) AS BIGINT),
               {HIST_N_BINS - 1}) AS bin
  FROM documents
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
         CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
         CAST(sum(n_chars) AS DOUBLE) AS total_chars,
         CAST(sum(n_ws) AS DOUBLE) AS total_ws_tokens,
         round(1.0 - CAST(count(DISTINCT coalesce(nrm, '')) AS DOUBLE)
               / count(*), 6)
           AS exact_dup_rate,
         {", ".join(
             f"CAST(sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS DOUBLE)"
             f" AS hist_{i}" for i in range(HIST_N_BINS))}
  FROM lens
)
SELECT metric, value FROM (
  {" UNION ALL ".join(
      f"SELECT 'ds_metric' AS _k, '{m}' AS metric, {m} AS value FROM m"
      for m in ["n_docs", "n_langs", "n_sources", "total_chars",
                "total_ws_tokens", "exact_dup_rate"]
      + [f"hist_{i}" for i in range(HIST_N_BINS)])}
)
ORDER BY metric
"""


@register("v11_incremental_datasheet", oracle=_INCR_DATASHEET_ORACLE, bench=True)
def q_incremental_datasheet(spark, sf_dir):
    """Incremental datasheet maintenance: the corpus split into two
    parts, each sketched independently, sketches merged, datasheet
    finalized — and the result must equal a from-scratch computation
    over the whole corpus (the oracle). The dup-rate works across the
    split because the hash fingerprints merge; the histogram replaces
    percentiles because quantiles don't merge and bin counts do."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    part_b = docs.filter(F.col("doc_id") % 2 == 1)
    merged = merge_sketches(datasheet_sketch(part_a), datasheet_sketch(part_b))
    return finalize_datasheet(merged).orderBy("metric")


@register("s11_datasheet_stream", oracle=_INCR_DATASHEET_ORACLE)
def q_datasheet_stream(spark, sf_dir):
    """The mergeable datasheet maintained BY INGEST: a REAL 4-micro-batch
    document stream where each batch sketches itself and merges into the
    accumulated sketch table (foreachBatch, groupBy-sum merge), and the
    final sketch finalizes to exactly the whole-corpus datasheet — the
    v11 contract upgraded from two-part batch to live stream. Sketch
    merging is associative+commutative, so batch boundaries cannot
    matter; that is precisely what the oracle checks."""
    import os
    import shutil
    import tempfile
    import uuid

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    work = tempfile.mkdtemp(prefix="mlwss_dsstream_")
    from machine_learning_with_spark_streaming_spark.streaming.examples import stage_ordered_files

    step = hi // 4 + 1
    stage = stage_ordered_files(
        [
            docs.filter(
                (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            )
            for i in range(4)
        ],
        f"{work}/stage",
    )
    sketch_dir = f"{work}/sketch"
    spark.createDataFrame(
        [], "kind string, key string, value bigint"
    ).write.parquet(sketch_dir)

    def sink(batch_df, _batch_id):
        ss = batch_df.sparkSession
        base = ss.read.parquet(sketch_dir)
        merged = merge_sketches(base, datasheet_sketch(batch_df)).localCheckpoint(
            eager=True
        )
        merged.write.mode("overwrite").parquet(f"{sketch_dir}_next")
        # swap: the sketch table is tiny (O(unique docs) hash rows)
        shutil.rmtree(sketch_dir)
        os.rename(f"{sketch_dir}_next", sketch_dir)

    stream = (
        spark.readStream.schema(
            "doc_id bigint, lang string, source string, text string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{work}/ckpt_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    final = finalize_datasheet(
        spark.read.parquet(sketch_dir)
    ).orderBy("metric").localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return final


def histogram_drift(
    old: DataFrame, new: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Length-distribution drift between two corpus snapshots: per
    fixed-width char-length bin, document counts then vs now, the
    per-bin share delta in exact integer ppm, plus a TOTAL row carrying
    the L1 distance between the two normalized histograms (0 =
    identical distribution, ~2_000_000 ppm = disjoint).
    ``share_delta_ppm = abs(n_new*1e6 div t_new - n_old*1e6 div
    t_old)`` in pure BIGINT arithmetic — no doubles in the output, so
    the value hashes identically on any engine/version (the r3 driver
    divergence on the earlier ``round(.., 6)`` double form was Spark
    HALF_UP vs DuckDB scaled-multiply tie rounding).
    The distribution-shift alarm a recurring crawl runs
    before training on a new snapshot — mergeable-bin counts make it
    incremental for free (the v11 sketch already maintains them)."""
    def hist(df, name):
        n_chars = F.length(text_col).cast("long")
        return (
            df.groupBy(
                F.least(
                    F.floor(n_chars / HIST_BIN_WIDTH), F.lit(HIST_N_BINS - 1)
                ).cast("int").alias("bin")
            )
            .agg(F.count(F.lit(1)).alias(name))
        )

    a, b = hist(old, "n_old"), hist(new, "n_new")
    j = (
        a.join(b, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    tot = j.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    per_bin = (
        j.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_old",
            "n_new",
            F.abs(
                F.expr(
                    "CASE WHEN t_new > 0"
                    " THEN n_new * 1000000L div t_new ELSE 0L END"
                )
                - F.expr(
                    "CASE WHEN t_old > 0"
                    " THEN n_old * 1000000L div t_old ELSE 0L END"
                )
            ).cast("long").alias("share_delta_ppm"),
        )
    )
    total_row = (
        per_bin.agg(
            F.sum("n_old").alias("n_old"),
            F.sum("n_new").alias("n_new"),
            F.sum("share_delta_ppm").cast("long").alias("share_delta_ppm"),
        )
        .select(
            F.lit(-1).cast("int").alias("bin"),
            "n_old",
            "n_new",
            "share_delta_ppm",
        )
    )
    return per_bin.unionByName(total_row)


_HIST_DRIFT_ORACLE = f"""
WITH lens AS (
  SELECT doc_id % 2 AS half,
         least(CAST(floor(length(text) / {HIST_BIN_WIDTH}) AS BIGINT),
               {HIST_N_BINS - 1}) AS bin
  FROM documents
),
h AS (
  SELECT bin,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_old,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_new
  FROM lens GROUP BY bin
),
tot AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM h),
per_bin AS (
  SELECT CAST(bin AS INT) AS bin,
         CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
         CAST(abs((n_new * 1000000) // t_new
                  - (n_old * 1000000) // t_old) AS BIGINT) AS share_delta_ppm
  FROM h, tot
)
SELECT * FROM per_bin
UNION ALL
SELECT -1, CAST(sum(n_old) AS BIGINT), CAST(sum(n_new) AS BIGINT),
       CAST(sum(share_delta_ppm) AS BIGINT)
FROM per_bin
ORDER BY bin
"""


@register("v14_histogram_drift", oracle=_HIST_DRIFT_ORACLE, bench=True)
def q_histogram_drift(spark, sf_dir):
    """Length-histogram drift between the even/odd document halves as
    two snapshots; the TOTAL (-1) row is the L1 distribution distance."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return histogram_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ).orderBy("bin")


# ------------- content-defined segment dedup (rolling-hash boundaries)

CDC_GRAM = 4  # rolling window width (words)
CDC_MOD = 16  # cut probability 1/MOD -> expected segment ~MOD words


def cdc_segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = CDC_GRAM,
    mod: int = CDC_MOD,
) -> DataFrame:
    """Content-defined chunking segment dedup: cut a segment boundary
    wherever the ``gram``-word rolling hash ≡ 0 (mod ``mod``) — the
    rsync/LBFS cut rule — so boundaries track CONTENT, not positions.
    A one-word insertion perturbs only the segments touching the edit;
    fixed-width segmentation (:func:`segment_dedup`) shifts every
    downstream segment and loses all dedup against the unedited twin
    (pinned in tests). Same keeper/rewrite contract as
    ``segment_dedup``: keep the corpus-wide first occurrence (min
    ``(doc, seg_idx)``) of every distinct segment, rebuild documents
    from survivors.

    Plan shape: one ``posexplode`` (linear in corpus tokens); the
    rolling gram and the cumulative boundary count share a single
    per-document ``(id, pos)`` sort (two Window nodes, one exchange,
    partitioned by id — nothing corpus-global); then the identical
    hash-keyed keeper election and per-doc rebuild groupBys."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words(text_col)).alias("pos", "w"),
    )
    wspec = Window.partitionBy("id").orderBy("pos")
    gram_expr = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", j).over(wspec) for j in range(1, gram)]
    )
    complete = F.lead("w", gram - 1).over(wspec).isNotNull()
    # md5-derived 60-bit cut hash (not xxhash64) so the DuckDB oracle
    # computes the identical boundaries — the md5-gate discipline of
    # every cross-engine-hashed operator here (operators/dedup.py:315).
    flagged = toks.withColumn(
        "boundary",
        F.when(
            (F.pmod(md5_hash60(gram_expr), F.lit(mod)) == 0)
            & complete
            & (F.col("pos") != 0),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    cum = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = (
        flagged.withColumn("seg_idx", F.sum("boundary").over(cum))
        .groupBy("id", "seg_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("seg_text")
        )
        .withColumn("h", F.md5("seg_text"))
    )
    keeper = seg.groupBy("h").agg(
        F.min(F.struct(F.col("id"), F.col("seg_idx"))).alias("k")
    )
    kept = seg.join(keeper, "h").filter(
        (F.col("id") == F.col("k.id")) & (F.col("seg_idx") == F.col("k.seg_idx"))
    )
    # same input-derived totals rule as segment_dedup: a NULL-text doc
    # has zero token rows and must still surface as (n_seg=0, '').
    totals = df.select(F.col(id_col).alias("id")).distinct().join(
        seg.groupBy("id").agg(F.count(F.lit(1)).alias("n_seg")), "id", "left"
    ).select("id", F.coalesce(F.col("n_seg"), F.lit(0)).alias("n_seg"))
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda x: x["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id"),
            F.col("n_seg"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("n_seg") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_dropped"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


#: shared CDC chunking CTEs (corpus -> boundary-cut segments -> keeper
#: ranking); consumed by the dedup oracle and the v3 pipeline oracle.
_CDC_CORE_CTES = f"""{_CORPUS_SQL},
nw AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM corpus),
tok AS (
  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, ws[g.i] AS w
  FROM nw, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
),
grams AS (
  SELECT doc_id, pos, w,
         CASE WHEN pos <> 0
               AND lead(w, {CDC_GRAM - 1}) OVER win IS NOT NULL
               AND ('0x' || substr(md5(
                     w || ' ' || lead(w, 1) OVER win
                       || ' ' || lead(w, 2) OVER win
                       || ' ' || lead(w, 3) OVER win), 1, 15))::BIGINT
                   % {CDC_MOD} = 0
              THEN 1 ELSE 0 END AS boundary
  FROM tok
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
seg AS (
  SELECT doc_id, seg_idx, string_agg(w, ' ' ORDER BY pos) AS seg_text
  FROM (
    SELECT doc_id, pos, w,
           sum(boundary) OVER (
             PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
           ) AS seg_idx
    FROM grams
  ) GROUP BY doc_id, seg_idx
),
ranked AS (
  SELECT doc_id, seg_idx, seg_text,
         row_number() OVER (
           PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx
         ) AS rn
  FROM seg
)"""


_CDC_SEGMENT_DEDUP_ORACLE = f"""
WITH {_CDC_CORE_CTES},
totals AS (
  SELECT c.doc_id, CAST(coalesce(sc.n_seg, 0) AS BIGINT) AS n_seg
  FROM (SELECT DISTINCT doc_id FROM corpus) c
  LEFT JOIN (SELECT doc_id, count(*) AS n_seg FROM seg GROUP BY doc_id) sc
    USING (doc_id)
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(seg_text, ' ' ORDER BY seg_idx)) AS clean_md5
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       t.n_seg,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_seg - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(r.clean_md5, md5('')) AS clean_md5
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY 1
"""


@register("dedup_segments_cdc", oracle=_CDC_SEGMENT_DEDUP_ORACLE, bench=True)
def q_cdc_segment_dedup(spark, sf_dir):
    """CDC segment dedup over the injected-duplicate corpus: the
    ' zzz extra' suffix edit on the near-copies perturbs only the final
    segment — rolling-hash boundaries re-align over the shared prefix,
    so near-copies lose everything but their tail (fixed-width
    :func:`q_segment_dedup` already dedups prefix-aligned edits; CDC is
    the shift-resistant completion pinned in tests with a PREFIX
    insertion). Rebuilt text is md5-compared cross-engine."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    out = cdc_segment_dedup(corpus)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_seg",
        "n_kept",
        "n_dropped",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


# ------------------------- composed v3 prep: CDC dedup -> epoch layout

PREP_V3_SHARDS = 8


_PREP_V3_ORACLE = f"""
WITH {_CDC_CORE_CTES},
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         sum(len(string_split(seg_text, ' '))) AS toks
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
survivors AS (
  SELECT doc_id, toks,
         'src' || CAST(doc_id % 20 AS VARCHAR) AS source
  FROM rebuilt WHERE n_kept > 0
),
shuf AS (
  SELECT doc_id, source, toks,
         CAST(h % {PREP_V3_SHARDS} AS INT) AS shard,
         row_number() OVER (
           PARTITION BY h % {PREP_V3_SHARDS} ORDER BY h, doc_id
         ) - 1 AS pos
  FROM (
    SELECT *,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ep0'), 1, 15))
             ::BIGINT AS h
    FROM survivors
  )
)
SELECT source, shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS sum_tokens,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM shuf
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("pipeline_llm_data_prep_v3", oracle=_PREP_V3_ORACLE, bench=True)
def q_llm_data_prep_v3(spark, sf_dir):
    """Composed v3 corpus prep — the round-5 chain end to end:
    content-defined segment dedup REWRITES the duplicate-injected
    corpus (shift-resistant: the near-copies collapse onto their
    originals' segments), fully-deduplicated docs drop out, and the
    survivors get the deterministic epoch-0 training layout
    (md5 shard + within-shard rank). Output is the per-(source, shard)
    manifest a training reader would consume: doc count, token mass,
    and the shard position where the source first appears."""
    from machine_learning_with_spark_streaming_spark.operators.sampling import epoch_shuffle

    corpus = corpus_with_duplicates(spark, sf_dir)
    cdc = cdc_segment_dedup(corpus)
    survivors = (
        cdc.filter(F.col("n_kept") > 0)
        .select(
            F.col("id").alias("doc_id"),
            F.size(F.split("clean_text", " ")).cast("long").alias("toks"),
            F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
                "source"
            ),
        )
    )
    # r11 (guide §2.4): joining the epoch-order table back onto
    # ``survivors`` re-evaluated the CDC segment-dedup plan a second
    # time (both join inputs embedded it). ``keep_cols`` rides
    # (toks, source) through the shard window instead — shard/pos are a
    # pure function of doc_id, so values are identical — and the join
    # (plus the duplicate CDC pass) disappears from the plan.
    shuf = epoch_shuffle(
        survivors, epoch=0, n_shards=PREP_V3_SHARDS,
        keep_cols=("toks", "source"),
    )
    return (
        shuf.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("sum_tokens"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .orderBy("source", "shard")
    )


# -------------------------------------------------- BM25 lexical retrieval

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["hash", "join", "vector", "quantize"]
BM25_TOP_K = 10


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = BM25_TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 lexical retrieval (Robertson/Lucene idf form:
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``) — the sparse leg of the RAG
    family next to dense cosine (`sim_rag_retrieve`), IVF/PQ, and the
    PCA cut; hybrid retrieval is this score fused with the dense one.

    Shape at scale: one exploded pass feeds per-doc term counts; the
    per-TERM df table for the handful of query terms and the 1-row
    (N, avgdl) aggregate both broadcast — the per-doc work is a few
    arithmetic ops on (tf, dl), then TakeOrdered(k). Nothing
    corpus-global but the two tiny broadcast aggregates. Same
    float discipline as tf-idf/unigram scoring: identical expression
    trees on identical inputs, score rounded to 6 dp on output."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(words(text_col)).alias("w")
    ).filter(F.col("w") != "")
    dl = toks.groupBy("__id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        toks.filter(F.array_contains(terms, F.col("w")))
        .groupBy("__id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "__id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scored = contrib.groupBy("__id").agg(
        F.round(F.sum("part"), 6).alias("bm25")
    )
    # the top-k cut keys on the 6-dp ROUNDED score (like the dense
    # leg's dcos cut): both engines then select the pool on the same
    # key, so a boundary pair whose unrounded scores differ only past
    # 6 dp can never flip pool membership cross-engine
    return (
        scored.orderBy(F.desc("bm25"), "__id")
        .limit(k)
        .select(F.col("__id").alias(id_col), "bm25")
    )


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_WS}) AS w FROM documents
),
tk AS (SELECT doc_id, w FROM toks WHERE w <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tk
  WHERE w IN ({terms}) GROUP BY 1, 2
),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1))
         / (tf.tf + {BM25_K1}
            * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl)) AS part
  FROM tf
  JOIN dfreq USING (w)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
scored AS (SELECT doc_id, round(sum(part), 6) AS bm25 FROM contrib GROUP BY 1)
SELECT CAST(doc_id AS BIGINT) AS doc_id, bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K}
"""


@register("text_bm25_topk", oracle=_bm25_oracle())
def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 documents for a fixed 4-term query over the corpus
    — the sparse-retrieval leg beside the dense/quantized ANN family."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, BM25_QUERY_TERMS).orderBy(
        F.desc("bm25"), "doc_id"
    )


# --------------------------------------- word-distribution entropy

def word_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the word distribution plus the
    distinct-word ratio — the curation signal that separates natural
    prose (high entropy) from template/spam/keyword-stuffed text (low
    entropy, low distinct ratio); the information-theoretic complement
    to the surface `text_repetition` ratios.

    Scale shape: explode -> (doc, word) count -> per-doc agg. Two
    shuffles on the same doc-keyed layout, partial aggregation
    everywhere, no windows, no Python. Entropy is
    ``-sum((c/n) * ln(c/n))`` over the per-word counts ``c`` of an
    ``n``-word doc; docs with no words drop out (no distribution to
    score) in both engines identically."""
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(words(text_col)).alias("w")
    ).filter(F.col("w") != "")
    wc = toks.groupBy("__id", "w").agg(F.count(F.lit(1)).alias("c"))
    p = F.col("c") / F.col("n")
    return (
        wc.withColumn("n", F.sum("c").over(Window.partitionBy("__id")))
        .groupBy("__id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("entropy"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("n").alias("n_words"),
            "n_distinct",
            "entropy",
            (F.round(F.col("n_distinct") / F.col("n"), 6) + F.lit(0.0)).alias(
                "distinct_ratio"
            ),
        )
    )


_ENTROPY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_WS}) AS w FROM documents
),
tk AS (SELECT doc_id, w FROM toks WHERE w <> ''),
wc AS (SELECT doc_id, w, count(*) AS c FROM tk GROUP BY 1, 2),
wn AS (
  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM wc
),
agg AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) + 0.0 AS entropy
  FROM wn GROUP BY doc_id, n
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_words, n_distinct, entropy,
       round(n_distinct * 1.0 / n_words, 6) + 0.0 AS distinct_ratio
FROM agg ORDER BY 1
"""


@register("text_word_entropy", oracle=_ENTROPY_ORACLE, bench=True)
def q_word_entropy(spark, sf_dir):
    """Per-doc word-distribution entropy + distinct ratio over the
    corpus — low-entropy documents are the template/spam tail a
    training-data filter cuts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return word_entropy(docs).orderBy("doc_id")


# -------------------------- classifier eval: lang-id confusion matrix

_CONFUSION_ORACLE = f"""
WITH scored AS ({_LANG_INNER}),
preds AS (
  SELECT doc_id, lang, {_LANG_CASE} AS pred_lang FROM scored
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM preds)
SELECT lang AS true_lang, pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(count(*) * 1.0 / max(n_total), 6) + 0.0 AS share
FROM preds CROSS JOIN tot
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("text_langid_confusion", oracle=_CONFUSION_ORACLE, bench=True)
def q_langid_confusion(spark, sf_dir):
    """Classifier EVAL over the certified lang-id: the (true, predicted)
    confusion matrix with per-cell corpus share — the quality report a
    curation run publishes before trusting a filter model's routing
    decisions (which languages leak into which bucket, and how much of
    the corpus rides each cell). Composes the certified predictor with
    one groupBy; the total for the share column is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    preds = lang_id_table(docs)
    joined = docs.join(preds, docs.doc_id == preds.id).select(
        "lang", "pred_lang"
    )
    tot = joined.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        joined.groupBy(
            F.col("lang").alias("true_lang"), F.col("pred_lang")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("lang") == F.col("pred_lang"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "true_lang",
            "pred_lang",
            "n_docs",
            "n_correct",
            (F.round(F.col("n_docs") / F.col("n_total"), 6) + F.lit(0.0)).alias(
                "share"
            ),
        )
        .orderBy("true_lang", "pred_lang")
    )


# ------------------- shingle novelty (first-occurrence content ratio)

def shingle_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's DISTINCT shingles
    whose corpus-wide first occurrence (min id) is this doc — the
    curation signal behind "how much genuinely new content does this
    document add", used for curriculum ordering and incremental-crawl
    value scoring (near-1 docs are fresh content; near-0 docs are
    recombinations of already-seen text). Deduplication's complement:
    dedup asks "is the whole doc a copy", novelty measures copied
    CONTENT mass at shingle granularity.

    Scale shape: distinct (id, 60-bit shingle key) index (16-byte
    shuffle rows, the dedup-family layout), min(id) per shingle (one
    partial-agg shuffle on the key), equi-join back on the key, per-doc
    count rollup. Everything integer except the final rounded ratio;
    first-occurrence ties cannot happen (min over ids within one
    shingle group is unique per group).

    At 100 TB: both shuffles key on the shingle hash — AQE-balanced;
    the join is index-sized, never text-sized. For incremental crawls
    the min(id) table IS the persistent state: new batches probe it
    (the dedup_incremental pattern) instead of recomputing the corpus."""
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.split(normalize_text(text_col), " ").alias("__ws"),
        )
        .select("id", F.explode(_grams_from_words(F.col("__ws"), n)).alias("s"))
        .select("id", md5_hash60(F.col("s")).alias("h"))
        .distinct()
    )
    firsts = sh.groupBy("h").agg(F.min("id").alias("first_id"))
    per_doc = (
        sh.join(firsts, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_shingles",
        "n_novel",
        (
            F.round(F.col("n_novel") / F.col("n_shingles"), 6) + F.lit(0.0)
        ).alias("novelty"),
    )


_NOVELTY_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_WS} AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2]),
                         1, 15))::BIGINT AS h
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
),
firsts AS (SELECT h, min(doc_id) AS first_id FROM sh GROUP BY 1)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END)
             / (1.0 * count(*)), 6) + 0.0 AS novelty
FROM sh JOIN firsts f USING (h)
GROUP BY 1 ORDER BY 1
"""


@register("text_shingle_novelty", oracle=_NOVELTY_ORACLE, bench=True)
def q_shingle_novelty(spark, sf_dir):
    """Per-document novel-shingle fraction over the documents corpus
    (first-occurrence by min doc_id)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return shingle_novelty(docs).orderBy("doc_id")
