"""Deterministic hash-based sampling for training-data curation —
BASELINE.json north-star territory (reproducible corpus sampling and
mixing at 100 TB).

``df.sample()`` draws from a per-partition RNG stream: results change
with partitioning, task retries, and engine version — unacceptable for
reproducible training mixes. Hash-gate sampling decides per KEY
(``hash(key, seed) mod M < rate*M``), so membership is a pure function
of the row key and seed:

- identical across runs, partitionings, engines, and cluster sizes;
- a superset/subset relation holds between rates (rate 0.2 ⊂ rate 0.5)
  — growing a sample never resamples what a smaller rate kept;
- embarrassingly parallel: a filter expression, no shuffle, no state.

Uses the cross-engine md5-derived 60-bit hash (operators/dedup.py:
md5_hash60) so the DuckDB oracle computes the identical sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

_BUCKETS = 10_000  # rate resolution 0.01%


def _bucket(key: Column, seed: int) -> Column:
    return md5_hash60(F.concat(key.cast("string"), F.lit(f"#{seed}"))) % _BUCKETS


def hash_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Keep rows whose key hashes into the first ``rate`` fraction of
    buckets. Deterministic; rate resolution 1/10000."""
    return df.filter(_bucket(F.col(key_col), seed) < int(rate * _BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum hash sampling (the deterministic ``sampleBy``):
    each stratum value gets its own keep-rate — the building block for
    weighted training-data mixes (e.g. upsample low-resource languages,
    downsample boilerplate-heavy strata)."""
    threshold = F.lit(int(default_rate * _BUCKETS))
    for value, rate in rates.items():
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(rate * _BUCKETS))
        ).otherwise(threshold)
    return df.filter(_bucket(F.col(key_col), seed) < threshold)


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted training-data mix: deterministically downsample each
    source to its rate, tag provenance, union. Because membership is a
    pure key-hash function, re-running with adjusted rates yields nested
    samples per source — mixes can be re-weighted without churning the
    unchanged sources."""
    parts = [
        hash_sample(df, rate, key_col, seed).withColumn("source", F.lit(name))
        for name, (df, rate) in sources.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_HASH60_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#{seed}'), 1, 15))::BIGINT % {buckets}"

_STRATIFIED_ORACLE = f"""
WITH bucketed AS (
  SELECT doc_id, lang,
         {_HASH60_SQL.format(seed=0, buckets=_BUCKETS)} AS bucket
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM bucketed
WHERE bucket < CASE lang
    WHEN 'en' THEN 2500
    WHEN 'de' THEN 7500
    WHEN 'fr' THEN 7500
    WHEN 'es' THEN 7500
    WHEN 'zh' THEN 10000
    ELSE 0 END
ORDER BY doc_id
"""

MIX_RATES = {"en": 0.25, "de": 0.75, "fr": 0.75, "es": 0.75, "zh": 1.0}


_MIX_ORACLE = f"""
WITH bucketed AS (
  SELECT doc_id,
         {_HASH60_SQL.format(seed=0, buckets=_BUCKETS)} AS bucket
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM (
  SELECT doc_id, 'web' AS source FROM bucketed
  WHERE doc_id % 2 = 0 AND bucket < 3000
  UNION ALL
  SELECT doc_id, 'books' AS source FROM bucketed
  WHERE doc_id % 2 = 1 AND bucket < 9000
)
ORDER BY source, doc_id
"""


@register("sample_weighted_mix", oracle=_MIX_ORACLE)
def q_weighted_mix(spark, sf_dir):
    """Weighted two-corpus training mix (downsample 'web' to 30%, keep
    90% of 'books') with provenance tags — DuckDB reproduces the exact
    membership from the same md5 hash gate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mixed = mix_corpora(
        {
            "web": (docs.filter(F.col("doc_id") % 2 == 0), 0.30),
            "books": (docs.filter(F.col("doc_id") % 2 == 1), 0.90),
        }
    )
    return mixed.select("doc_id", "source").orderBy("source", "doc_id")


@register("sample_stratified_hash", oracle=_STRATIFIED_ORACLE)
def q_stratified_sample(spark, sf_dir):
    """Reproducible language-stratified corpus sample (downsample the
    dominant language, keep all low-resource docs) — DuckDB computes
    the byte-identical sample from the same md5 hash gate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_hash_sample(docs, MIX_RATES, strata_col="lang")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ------------------------------------------------- per-domain caps / packing

def cap_per_group(
    df: DataFrame, keys: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """Keep at most ``k`` rows per group under a deterministic priority —
    the per-domain document cap of web-corpus pipelines (C4/Dolma-style
    host caps; public-pipeline practice). One shuffle on the group key;
    ties must be broken by a unique trailing order column for
    reproducibility."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def pack_token_budget(
    df: DataFrame,
    budget: int,
    tokens_col: str,
    part_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed token-budget chunks per stream
    (sequence packing for training): chunk = floor(exclusive-cumsum /
    budget) over a deterministic per-partition order. This is the
    streaming-chunk form — a document may straddle a chunk boundary by
    less than one document; byte-exact greedy packing (reset at the
    boundary) is inherently sequential and belongs in a per-group
    ``applyInPandas`` if required. One shuffle on ``part_col``; window
    frame is a running sum (no whole-partition buffering)."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return df.withColumn("chunk_id", F.floor(cum / budget).cast("int"))


_CAP_ORACLE = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn <= 15
ORDER BY doc_id
"""


@register("sample_cap_per_source", oracle=_CAP_ORACLE)
def q_cap_per_source(spark, sf_dir):
    """Per-source document cap: keep the 15 largest docs per source
    (deterministic doc_id tiebreak)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return cap_per_group(
        docs, ["source"], [F.col("n_chars").desc(), F.col("doc_id")], 15
    ).orderBy("doc_id")


_PACK_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
           AS ws_tokens
  FROM documents
),
packed AS (
  SELECT source, ws_tokens,
         CAST(floor(coalesce(sum(ws_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / 512) AS INT) AS chunk_id
  FROM toks
)
SELECT source, chunk_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS sum_tokens
FROM packed
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("pack_token_budget", oracle=_PACK_ORACLE)
def q_pack_token_budget(spark, sf_dir):
    """Sequence packing: 512-token chunks per source stream; output
    chunk occupancy (docs + token sums per chunk)."""
    from machine_learning_with_spark_streaming_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(words("text")).alias("ws_tokens")
    )
    packed = pack_token_budget(docs, 512, "ws_tokens")
    return (
        packed.groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("source", "chunk_id")
    )


def pack_token_budget_exact(
    df: DataFrame,
    budget: int,
    tokens_col: str,
    part_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Byte-exact greedy sequence packing: walk each stream in id order,
    filling a chunk until the next document would exceed ``budget``, then
    reset (an over-budget document gets a chunk to itself).

    The reset makes the recurrence inherently sequential, so this is the
    engine's one legitimate Arrow-batched Python stage for packing:
    ``applyInPandas`` per stream — each stream walks in one task, Arrow
    transfers columnar batches, and parallelism comes from the number of
    streams (at 100 TB: thousands of sources / shard keys; a single
    giant stream should be pre-split by a coarse chunk of the
    approximate :func:`pack_token_budget` first). Despite the Python
    stage the result is deterministic, and the DuckDB oracle replays the
    identical walk as a linear recursive CTE — the driver still
    hash-certifies it.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("chunk_id", T.IntegerType())]
    )

    def pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        chunk, used, out = 0, 0, []
        for t in pdf[tokens_col]:
            if used > 0 and used + t > budget:
                chunk, used = chunk + 1, 0
            out.append(chunk)
            used += t
        return pdf.assign(chunk_id=out)

    return df.groupBy(part_col).applyInPandas(pack, schema)


_PACK_EXACT_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, source,
         len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
           AS ws_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
walk AS (
  SELECT source, rn, ws_tokens, 0 AS chunk_id, ws_tokens AS used
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.ws_tokens,
         CASE WHEN w.used + t.ws_tokens > 512 THEN w.chunk_id + 1 ELSE w.chunk_id END,
         CASE WHEN w.used + t.ws_tokens > 512 THEN t.ws_tokens ELSE w.used + t.ws_tokens END
  FROM walk w JOIN toks t ON t.source = w.source AND t.rn = w.rn + 1
)
SELECT source, CAST(chunk_id AS INT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS sum_tokens
FROM walk
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("pack_token_budget_exact", oracle=_PACK_EXACT_ORACLE, bench=True)
def q_pack_token_budget_exact(spark, sf_dir):
    """Exact greedy 512-token packing per source stream (Arrow-batched
    sequential walk), chunk occupancy output; the oracle replays the
    walk as a recursive CTE."""
    from machine_learning_with_spark_streaming_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(words("text")).cast("long").alias("ws_tokens")
    )
    packed = pack_token_budget_exact(docs, 512, "ws_tokens")
    return (
        packed.groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("source", "chunk_id")
    )


# ------------------------------------------------- deterministic shard writer

N_SHARDS = 16


def shard_assignment(
    df: DataFrame, n_shards: int, key_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Assign each row a deterministic shard id — the write layout for
    training corpora ("emit N balanced shards whose membership never
    moves between runs").

    ``shard = md5(key#seed) % n`` is a pure function of the row key: a
    shard can be re-materialized independently, resumable writers can
    skip completed shards, and downstream per-shard readers (data
    loaders) see stable membership across engine versions and cluster
    sizes. md5-gate, like the samplers, so the DuckDB oracle computes
    identical assignments. At 100 TB: assignment is a map-only
    expression; the write itself is ``repartition(n, shard)`` +
    ``partitionBy(shard)`` — one shuffle, each task owns whole shards.

    A NULL key yields a NULL shard (surfacing as the default partition
    directory under ``partitionBy``) — dedupe/validate keys upstream.
    """
    return df.withColumn(
        "shard",
        (
            md5_hash60(
                F.concat(F.col(key_col).cast("string"), F.lit(f"#shard{seed}"))
            )
            % n_shards
        ).cast("int"),
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int = N_SHARDS,
    key_col: str = "doc_id",
    seed: int = 0,
) -> None:
    """Materialize ``df`` as ``path/shard=K/`` parquet directories with
    deterministic membership (see ``shard_assignment``)."""
    out = shard_assignment(df, n_shards, key_col, seed)
    out.repartition(n_shards, F.col("shard")).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(path)


_SHARD_HASH_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard0'), 1, 15))"
    f"::BIGINT % {N_SHARDS}"
)

_SHARD_ORACLE = f"""
SELECT CAST({_SHARD_HASH_SQL} AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents
GROUP BY 1
ORDER BY 1
"""


@register("sample_shard_assignment", oracle=_SHARD_ORACLE, bench=True)
def q_shard_assignment(spark, sf_dir):
    """Deterministic 16-way shard assignment over documents; certify
    per-shard membership (count, char mass, key range) against the
    oracle computing the identical md5 gate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        shard_assignment(docs, N_SHARDS)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


# -------------------------------------------- leakage-safe train/val/test

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def assign_split(
    df: DataFrame,
    weights: dict[str, float] = SPLIT_WEIGHTS,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic train/val/test assignment by hashing ``key_col``.

    The leakage guard is in the KEY CHOICE: hash a *group* key — the
    dedup cluster id from ``operators.graph.connected_components``, or
    the domain/source — and every member of the group lands in the same
    split, so near-duplicates can never straddle train and test (the
    classic eval-contamination failure of row-wise random splits).
    Weights are consumed in insertion order over the md5 bucket space;
    same gate as the samplers, so membership is stable across runs,
    partitionings, and engines, and re-weighting moves only boundary
    groups.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = _bucket(F.col(key_col), seed=seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < int(acc * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


_SPLIT_HASH_SQL = (
    "('0x' || substr(md5(source || '#0'), 1, 15))::BIGINT % " f"{_BUCKETS}"
)

_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT source, n_chars,
         CASE WHEN {_SPLIT_HASH_SQL} < 8000 THEN 'train'
              WHEN {_SPLIT_HASH_SQL} < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_groups,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM assigned
GROUP BY split
ORDER BY split
"""


@register("sample_group_split", oracle=_SPLIT_ORACLE)
def q_group_split(spark, sf_dir):
    """Group-atomic 80/10/10 split keyed on ``source`` (domain-level —
    at scale the key is the dedup component id, same mechanics): every
    doc of a group shares its split, so near-dups never straddle
    train/test. Certifies per-split doc/group/char masses against the
    identical md5 gate in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_split(docs, key_col="source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_groups"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------- temperature rebalancing (alpha mix)

def rebalance_sqrt_temperature(
    df: DataFrame,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-based stratum rebalancing at alpha = 0.5 — the
    standard multilingual upsampling curve (sample stratum s with
    probability proportional to ``n_s**alpha``), expressed as per-stratum
    keep-rates ``rate_s = sqrt(min_count / n_s)`` so the rarest stratum
    keeps 100% and head strata are damped toward it.

    alpha is fixed at 0.5 deliberately: ``sqrt`` is correctly rounded
    under IEEE-754 in every engine, so the derived integer bucket
    thresholds are bit-identical cross-engine (a general ``pow(x,
    1-alpha)`` is not correctly rounded and could flip a boundary
    bucket). Two jobs: a stratum-count aggregate (map-side partials,
    |strata| rows), then a broadcast threshold join + the md5 gate — no
    second shuffle of the fact table at any scale.

    Rows with a NULL stratum are DROPPED (the threshold equi-join never
    matches NULL, identically in both engines) — run language-ID /
    ``fill_null_sentinels`` upstream if every row must survive. NULL
    rows are also excluded from the count table, so a tiny NULL stratum
    cannot capture ``min(count)`` and silently under-sample every real
    stratum (the "rarest keeps 100%" guarantee holds over surviving
    strata).
    """
    df = df.filter(F.col(strata_col).isNotNull())
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    min_n = counts.agg(F.min("__n").alias("m"))
    thr = (
        counts.crossJoin(F.broadcast(min_n))
        .select(
            strata_col,
            F.floor(
                F.sqrt(F.col("m").cast("double") / F.col("__n"))
                * F.lit(_BUCKETS)
            )
            .cast("long")
            .alias("__thr"),
        )
    )
    return (
        df.join(F.broadcast(thr), strata_col)
        .filter(_bucket(F.col(key_col), seed) < F.col("__thr"))
        .drop("__thr")
    )


_TEMP_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
m AS (SELECT min(n) AS mn FROM c),
t AS (
  SELECT lang,
         CAST(floor(sqrt(CAST(mn AS DOUBLE) / n) * {_BUCKETS}) AS BIGINT)
           AS thr
  FROM c, m
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents d
JOIN t ON d.lang = t.lang
WHERE {_HASH60_SQL.format(seed=0, buckets=_BUCKETS)} < t.thr
GROUP BY d.lang
ORDER BY d.lang
"""


@register("sample_rebalance_temperature", oracle=_TEMP_ORACLE)
def q_rebalance_temperature(spark, sf_dir):
    """sqrt-temperature language rebalance over documents: head
    languages damped toward the rarest; certify kept doc/char mass per
    language against the identical threshold math + md5 gate in
    DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        rebalance_sqrt_temperature(docs, strata_col="lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# ----------------------------------- composed training-mix materialization

def training_mix(
    docs: DataFrame,
    n_shards: int = 8,
    group_col: str = "source",
    strata_col: str = "lang",
) -> DataFrame:
    """The end-to-end mix-materialization chain a training run consumes:
    exact dedup → group-atomic train split → sqrt-temperature language
    rebalance → deterministic shard assignment. Every stage is an
    md5-gate/pure-expression transform certified standalone, so the
    whole composition stays engine-reproducible: re-running on any
    cluster yields byte-identical shard membership. The only wide ops
    are the dedup hash groupBy and the stratum count aggregate
    (|strata| rows).

    The deduped train frame is persisted: it feeds BOTH the
    stratum-count aggregate and the gated output, and Catalyst does not
    share common subtrees across consumers — unpersisted, the source
    scan AND the dedup groupBy re-run once per consumer (a 12-scan plan,
    measured; fatal at 100 TB). The cluster-scale analog is a
    temp-table write of the deduped train split."""
    from pyspark.storagelevel import StorageLevel

    from machine_learning_with_spark_streaming_spark.operators.dedup import exact_dedup

    survivors = exact_dedup(docs, by_hash=True).select("doc_id")
    base = docs.join(survivors, "doc_id", "left_semi")
    train = (
        assign_split(base, key_col=group_col)
        .filter(F.col("split") == "train")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    kept = rebalance_sqrt_temperature(train, strata_col=strata_col)
    return shard_assignment(kept, n_shards)


_TRAIN_MIX_ORACLE = f"""
WITH surv AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
),
base AS (
  SELECT d.* FROM documents d JOIN surv ON d.doc_id = surv.doc_id
),
train AS (
  SELECT * FROM base
  WHERE ('0x' || substr(md5(source || '#0'), 1, 15))::BIGINT % {_BUCKETS}
        < 8000
),
c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM train
  WHERE lang IS NOT NULL GROUP BY lang
),
m AS (SELECT min(n) AS mn FROM c),
t AS (
  SELECT lang,
         CAST(floor(sqrt(CAST(mn AS DOUBLE) / n) * {_BUCKETS}) AS BIGINT)
           AS thr
  FROM c, m
),
kept AS (
  SELECT tr.* FROM train tr JOIN t ON tr.lang = t.lang
  WHERE ('0x' || substr(md5(CAST(tr.doc_id AS VARCHAR) || '#0'), 1, 15))::BIGINT
        % {_BUCKETS} < t.thr
)
SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard0'), 1, 15))::BIGINT
            % 8 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM kept
GROUP BY 1 ORDER BY 1
"""


@register("pipeline_training_mix", oracle=_TRAIN_MIX_ORACLE, bench=True)
def q_training_mix(spark, sf_dir):
    """Composed mix materialization over documents; certify per-shard
    doc/lang/char masses against the oracle replaying every md5 gate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        training_mix(docs)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("shard")
    )


# ------------------------------------------- range-sorted corpus layout

RANGE_SHARDS = 8


def range_shard_assignment(
    df: DataFrame, key_col: str, n_shards: int = RANGE_SHARDS
) -> DataFrame:
    """Equal-frequency range sharding with DETERMINISTIC boundaries —
    the certified twin of ``repartitionByRange`` (whose boundaries come
    from reservoir sampling and vary run to run).

    Boundaries are the exact ``i/n`` percentiles of ``key_col``
    (PERCENTILE_CONT; one aggregate — distributed, map-side partials),
    rounded to 6 dp and broadcast as a single-row array; assignment is
    ``shard = #(boundaries < key)`` — a map-only array expression. Two
    jobs total, no global sort, no single-partition window. Rows on a
    boundary go to the lower shard (strict ``>`` comparison),
    deterministically.

    This layout is what time/key-ordered corpus stores want at 100 TB:
    non-overlapping key ranges per shard enable shard-pruned scans (read
    only the shards whose [min,max] intersects the predicate) and
    ordered streaming merges. The production write path is
    ``write_range_sorted`` (repartitionByRange — sampled boundaries,
    same contract minus cross-run determinism); this exact-percentile
    form is the engine-checkable serving path."""
    ps = [i / n_shards for i in range(1, n_shards)]
    bnd = df.agg(
        F.transform(
            F.percentile(F.col(key_col), F.array(*[F.lit(p) for p in ps])),
            lambda x: F.round(x, 6),
        ).alias("__bnd")
    )
    return df.crossJoin(F.broadcast(bnd)).withColumn(
        "shard",
        F.size(F.filter("__bnd", lambda b: F.col(key_col) > b)).cast("int"),
    ).drop("__bnd")


def write_range_sorted(
    df: DataFrame, path: str, key_col: str, n_shards: int = RANGE_SHARDS
) -> None:
    """Materialize ``df`` as range-partitioned, within-file-sorted
    parquet — the ordered-corpus layout (``repartitionByRange`` gives
    the one-shuffle equal-frequency split via sampled boundaries;
    ``sortWithinPartitions`` makes every file internally ordered so
    parquet min/max page stats prune at the finest grain)."""
    (
        df.repartitionByRange(n_shards, F.col(key_col))
        .sortWithinPartitions(key_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def _range_layout_oracle() -> str:
    ps = ", ".join(str(i / RANGE_SHARDS) for i in range(1, RANGE_SHARDS))
    return f"""
WITH bnd AS (
  SELECT list_transform(quantile_cont(o_totalprice, [{ps}]),
                        x -> round(x, 6)) AS b
  FROM orders
),
assigned AS (
  SELECT CAST(len(list_filter(bnd.b, x -> o.o_totalprice > x)) AS INT)
           AS shard,
         o.o_totalprice
  FROM orders o CROSS JOIN bnd
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(min(o_totalprice), 2) + 0.0 AS min_price,
       round(max(o_totalprice), 2) + 0.0 AS max_price
FROM assigned
GROUP BY 1
ORDER BY 1
"""


@register("sample_range_layout", oracle=_range_layout_oracle(), bench=True)
def q_range_layout(spark, sf_dir):
    """Deterministic equal-frequency range layout of orders by price:
    per-shard (count, min, max) certify both the boundary computation
    and the assignment rule; ranges are non-overlapping by
    construction."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    return (
        range_shard_assignment(orders, "o_totalprice")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.min("o_totalprice"), 2) + 0.0).alias("min_price"),
            (F.round(F.max("o_totalprice"), 2) + 0.0).alias("max_price"),
        )
        .orderBy("shard")
    )


# ----------------------------------------------------- Z-order layout

ZORDER_BITS = 16


def zorder_value(
    a: "F.Column", b: "F.Column", a_min, a_max, b_min, b_max,
    bits: int = ZORDER_BITS,
) -> "F.Column":
    """Morton (Z-order) interleave of two integer columns, each first
    rank-scaled to ``[0, 2^bits)`` with EXACT integer arithmetic
    (``(v - min) * (2^bits - 1) // (max - min)``) — deterministic and
    engine-portable (the DuckDB oracle runs the same shifts).

    Sorting by this value clusters rows that are close in BOTH
    dimensions, so parquet min/max stats prune scans filtered on either
    column — the lakehouse OPTIMIZE ZORDER layout, as a plain column
    expression. Bounds arrive as literals/columns (compute once via an
    aggregate and broadcast, like range_shard_assignment)."""
    span_a = F.greatest(a_max - a_min, F.lit(1))
    span_b = F.greatest(b_max - b_min, F.lit(1))
    sa = ((a - a_min) * ((1 << bits) - 1) / span_a).cast("long")
    sb = ((b - b_min) * ((1 << bits) - 1) / span_b).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        # Column | Column is boolean OR; bitwiseOR is the integer one
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(sa, i) % 2, 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftrightunsigned(sb, i) % 2, 2 * i))
    return z


def zorder_frame(
    df: DataFrame, col_a: str, col_b: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """``df`` plus a ``zval`` column; bounds computed in-plan (one
    aggregate, broadcast cross join — no driver collect)."""
    bounds = df.agg(
        F.min(col_a).alias("__amin"),
        F.max(col_a).alias("__amax"),
        F.min(col_b).alias("__bmin"),
        F.max(col_b).alias("__bmax"),
    )
    j = df.crossJoin(F.broadcast(bounds))
    return j.withColumn(
        "zval",
        zorder_value(
            F.col(col_a), F.col(col_b),
            F.col("__amin"), F.col("__amax"),
            F.col("__bmin"), F.col("__bmax"),
            bits,
        ),
    ).drop("__amin", "__amax", "__bmin", "__bmax")


_Z_BUCKET_SHIFT = 2 * ZORDER_BITS - 6  # top 6 bits -> 64 buckets

_ZORDER_ORACLE = f"""
WITH bounds AS (
  SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
         min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
  FROM lineitem
),
scaled AS (
  SELECT ((l_partkey - amin) * {(1 << ZORDER_BITS) - 1})
           // greatest(amax - amin, 1) AS sa,
         ((l_suppkey - bmin) * {(1 << ZORDER_BITS) - 1})
           // greatest(bmax - bmin, 1) AS sb,
         l_partkey, l_suppkey
  FROM lineitem, bounds
),
z AS (
  SELECT l_partkey, l_suppkey,
         {" | ".join(
             f"((sa >> {i}) % 2 << {2 * i + 1}) | ((sb >> {i}) % 2 << {2 * i})"
             for i in range(ZORDER_BITS)
         )} AS zval
  FROM scaled
)
SELECT CAST(zval >> {_Z_BUCKET_SHIFT} AS INT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(l_partkey) AS BIGINT) AS min_part,
       CAST(max(l_partkey) AS BIGINT) AS max_part,
       CAST(min(l_suppkey) AS BIGINT) AS min_supp,
       CAST(max(l_suppkey) AS BIGINT) AS max_supp
FROM z
GROUP BY 1
ORDER BY 1
"""


@register("sample_zorder_layout", oracle=_ZORDER_ORACLE)
def q_zorder_layout(spark, sf_dir):
    """Z-order interleave of (l_partkey, l_suppkey): per-top-6-bit
    bucket counts and per-dimension ranges certify the full Morton
    arithmetic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = zorder_frame(li, "l_partkey", "l_suppkey")
    return (
        z.groupBy(
            F.shiftrightunsigned("zval", _Z_BUCKET_SHIFT)
            .cast("int")
            .alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("zbucket")
    )


# ----------------------------------- weighted sampling w/o replacement

def weighted_sample_without_replacement(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Efraimidis–Spirakis A-ES weighted sampling WITHOUT replacement:
    each row draws a key ``u^(1/w)`` (equivalently ``ln(u)/w``, used
    here for numeric stability) and the global top-k keys win — the
    distributed one-pass algorithm for "pick k docs biased by length /
    quality score, never twice".

    ``u`` derives from the md5 hash gate (``(h60+1)/(2^60+1)`` ∈ (0,1]),
    NOT a PRNG — so membership is a pure function of ``(key, seed)``:
    reproducible across runs, partitionings, and engines, like every
    sampler in this module. Selection is ``orderBy(desc).limit(k)`` —
    Spark plans TakeOrdered (per-partition top-k + driver merge of k
    per partition, no global sort). Zero/negative weights are clamped
    to a tiny epsilon (they effectively never win)."""
    h = md5_hash60(
        F.concat(F.col(key_col).cast("string"), F.lit(f"#wsamp{seed}"))
    )
    u = (h + F.lit(1)).cast("double") / F.lit(float((1 << 60) + 1))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1e-12))
    key = F.log(u) / w
    return (
        df.withColumn("__k", key)
        .orderBy(F.col("__k").desc())
        .limit(k)
        .drop("__k")
    )


_WSAMP_K = 50

_WSAMP_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wsamp0'),
              1, 15))::BIGINT + 1) / {float((1 << 60) + 1)!r})
           / greatest(CAST(n_chars AS DOUBLE), 1e-12) AS k
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM keyed
ORDER BY k DESC
LIMIT {_WSAMP_K}
"""


@register("sample_weighted_no_replacement", oracle=_WSAMP_ORACLE)
def q_weighted_sample_without_replacement(spark, sf_dir):
    """Top-50 A-ES weighted sample of documents, weight = n_chars; the
    selected id set is compared cross-engine (order-insensitive)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = weighted_sample_without_replacement(docs, _WSAMP_K, "n_chars")
    return out.orderBy("doc_id")


# --------------------- deterministic negative sampling (contrastive)

NEG_BUCKETS = 8
NEG_K = 4


def sample_negatives(
    anchors: DataFrame,
    candidates: DataFrame,
    k: int = NEG_K,
    n_buckets: int = NEG_BUCKETS,
    id_col: str = "vec_id",
    label_col: str = "label",
    seed: int = 0,
) -> DataFrame:
    """Deterministic negatives for contrastive training: each anchor
    gets ``k`` different-label candidates, chosen by pure hash
    arithmetic — reproducible across runs, partitionings, and engines
    (the md5-gate discipline of every sampler here).

    Scale shape: candidates are hashed into ``n_buckets`` buckets and
    each anchor probes ONE pseudo-random bucket, so the join touches
    |anchors| x |corpus|/n_buckets rows — never the n² pair space.
    Within the probed bucket candidates are ranked by
    ``md5(anchor#cand)``, i.e. an anchor-specific shuffle, so negatives
    differ per anchor without any RNG state. An anchor whose probed
    bucket holds fewer than ``k`` different-label rows yields fewer
    negatives (the honest outcome; raise n_buckets' probe count to
    trade cost for fill)."""
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("a_label"),
        (
            md5_hash60(F.concat(F.col(id_col).cast("string"), F.lit(f"#p{seed}")))
            % n_buckets
        ).alias("bucket"),
    )
    c = candidates.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("c_label"),
        (
            md5_hash60(F.concat(F.col(id_col).cast("string"), F.lit(f"#b{seed}")))
            % n_buckets
        ).alias("bucket"),
    )
    pair_rank = md5_hash60(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit("#"),
            F.col("neg_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(pair_rank.asc(), F.col("neg_id"))
    return (
        c.join(F.broadcast(a), "bucket")
        .filter(
            (F.col("c_label") != F.col("a_label"))
            & (F.col("neg_id") != F.col("anchor_id"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", F.col("rank").cast("int").alias("rank"), "neg_id")
    )


_NEG_H60 = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"

_NEGATIVES_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, label AS a_label,
         {_NEG_H60.format(expr="CAST(vec_id AS VARCHAR) || '#p0'")}
           % {NEG_BUCKETS} AS bucket
  FROM embeddings WHERE vec_id < 8
), c AS (
  SELECT vec_id AS neg_id, label AS c_label,
         {_NEG_H60.format(expr="CAST(vec_id AS VARCHAR) || '#b0'")}
           % {NEG_BUCKETS} AS bucket
  FROM embeddings
), ranked AS (
  SELECT anchor_id, neg_id,
         row_number() OVER (
           PARTITION BY anchor_id
           ORDER BY {_NEG_H60.format(
               expr="CAST(anchor_id AS VARCHAR) || '#' || CAST(neg_id AS VARCHAR)")}
             ASC, neg_id
         ) AS rank
  FROM c JOIN a USING (bucket)
  WHERE c_label <> a_label AND neg_id <> anchor_id
)
SELECT CAST(anchor_id AS BIGINT) AS anchor_id, CAST(rank AS INT) AS rank,
       CAST(neg_id AS BIGINT) AS neg_id
FROM ranked WHERE rank <= {NEG_K}
ORDER BY anchor_id, rank
"""


@register("sample_negatives", oracle=_NEGATIVES_ORACLE, bench=True)
def q_sample_negatives(spark, sf_dir):
    """4 deterministic different-label negatives per anchor (first 8
    vectors), via one bucket probe — the contrastive-pair generator
    whose sample is a pure function of ids."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return sample_negatives(
        emb.filter(F.col("vec_id") < 8), emb
    ).orderBy("anchor_id", "rank")


# ----------------------- length-bucketed batching (padding efficiency)

LB_BUCKETS = 4
LB_BATCH = 32
LB_SUBS = 8  # sub-partitions per bucket — sizes the widest window partition


def length_bucketed_batches(
    df: DataFrame,
    tokens_col: str,
    n_buckets: int = LB_BUCKETS,
    batch_size: int = LB_BATCH,
    id_col: str = "doc_id",
    subs_per_bucket: int = LB_SUBS,
) -> DataFrame:
    """Length-bucketed batch construction (sorted batching): documents
    are quantile-bucketed by token count, batches formed within a
    bucket, and the padded cost of each batch is ``batch_max x n_docs``
    — the standard trainer trick that cuts padding waste versus mixing
    short and long sequences in one batch. Returns per (bucket, batch):
    occupancy, actual and padded token counts.

    Semantics: ``bucket = #(percentile boundaries < tokens)`` (exact
    ``i/n_buckets`` PERCENTILE_CONT boundaries, rounded 6 dp, strict
    ``>`` so boundary ties go low — the ``range_shard_assignment``
    rule), ``batch = (row_number() over (partition by bucket order by
    tokens, id) - 1) div batch_size``. Both engines reproduce the exact
    assignment.

    Scale shape (the r3 ntile form put the whole corpus through ONE
    ``Exchange SinglePartition`` window): boundaries are one distributed
    aggregate broadcast back as a single-row array, and the per-bucket
    row_number is decomposed so no window partition exceeds ~corpus /
    (n_buckets * subs_per_bucket): a finer percentile grid assigns each
    row a sub-partition (a pure function of tokens, so ordering by
    (tokens, id) within a sub refines the bucket order), row_number runs
    per sub, and the rank offset of each sub within its bucket comes
    from a bounded (n_buckets*subs_per_bucket)-row count table whose
    prefix sums are computed as array folds — no corpus-sized
    single-partition exchange anywhere. Raise ``subs_per_bucket`` with
    corpus size to keep window partitions executor-sized.

    Cost note: the corpus is scanned twice (once for the sub counts,
    once for the ranked output) — both scans are map-only against
    broadcast boundaries with partial aggregation, so at scale this is
    two cheap passes instead of one serialized global sort; persist the
    assigned frame between passes if the scan itself dominates."""
    n_fine = n_buckets * subs_per_bucket
    ps = [j / n_fine for j in range(1, n_fine)]
    bnd = df.agg(
        F.transform(
            F.percentile(F.col(tokens_col), F.array(*[F.lit(p) for p in ps])),
            lambda x: F.round(x, 6),
        ).alias("__fine")
    ).select(
        "__fine",
        # coarse bucket boundaries are the fine grid at multiples of
        # subs_per_bucket (identical doubles — same percentile call)
        F.array(
            *[
                F.element_at("__fine", i * subs_per_bucket)
                for i in range(1, n_buckets)
            ]
        ).alias("__coarse"),
    )
    t = F.col(tokens_col)
    assigned = (
        df.crossJoin(F.broadcast(bnd))
        .select(
            df["*"],
            F.size(F.filter("__coarse", lambda b: t > b)).cast("int").alias(
                "bucket"
            ),
            F.size(F.filter("__fine", lambda b: t > b)).cast("int").alias(
                "__sub"
            ),
        )
    )
    # bounded: one row per non-empty sub-partition; prefix sums via an
    # array fold over the per-bucket sub list (no window, no collect)
    counts = assigned.groupBy("bucket", "__sub").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    offsets = (
        counts.groupBy("bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__sub", "__cnt"))
            ).alias("__arr")
        )
        .select(
            "bucket",
            F.explode(
                F.expr(
                    "transform(__arr, x -> struct(x.__sub as __sub,"
                    " aggregate(filter(__arr, y -> y.__sub < x.__sub),"
                    " 0L, (a, y) -> a + y.__cnt) as __off))"
                )
            ).alias("__o"),
        )
        .select("bucket", F.col("__o.__sub").alias("__sub"), F.col("__o.__off").alias("__off"))
    )
    batched = (
        assigned.join(F.broadcast(offsets), ["bucket", "__sub"])
        .withColumn(
            "batch",
            F.expr(
                f"cast((__off + row_number() over (partition by __sub"
                f" order by {tokens_col}, {id_col}) - 1)"
                f" div {batch_size} as int)"
            ),
        )
    )
    return (
        batched.groupBy("bucket", "batch")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.max(tokens_col).cast("bigint").alias("max_tokens"),
            F.sum(tokens_col).cast("bigint").alias("actual_tokens"),
        )
        .withColumn(
            "padded_tokens", (F.col("max_tokens") * F.col("n_docs")).cast("bigint")
        )
    )


_LENGTH_BATCH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
           AS n FROM documents
),
bnd AS (
  SELECT list_transform(
           quantile_cont(n, [{", ".join(str(i / LB_BUCKETS) for i in range(1, LB_BUCKETS))}]),
           x -> round(x, 6)) AS b
  FROM toks
),
bucketed AS (
  SELECT doc_id, n,
         CAST(len(list_filter(bnd.b, x -> toks.n > x)) AS INT) AS bucket
  FROM toks CROSS JOIN bnd
),
batched AS (
  SELECT bucket, n,
         CAST((row_number() OVER (PARTITION BY bucket ORDER BY n, doc_id) - 1)
              // {LB_BATCH} AS INT) AS batch
  FROM bucketed
)
SELECT CAST(bucket AS INT) AS bucket, batch,
       CAST(count(*) AS INT) AS n_docs,
       CAST(max(n) AS BIGINT) AS max_tokens,
       CAST(sum(n) AS BIGINT) AS actual_tokens,
       CAST(max(n) * count(*) AS BIGINT) AS padded_tokens
FROM batched GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("sample_length_batches", oracle=_LENGTH_BATCH_ORACLE, bench=True)
def q_length_batches(spark, sf_dir):
    """Length-bucketed 32-doc batches over the corpus with per-batch
    padded-vs-actual token cost — the padding-efficiency layout report."""
    from machine_learning_with_spark_streaming_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(words("text")).cast("long").alias("n")
    )
    return length_bucketed_batches(docs, "n").orderBy("bucket", "batch")


# ------------------------------------------------ deterministic epoch shuffle

EPOCH_SHARDS = 8


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = EPOCH_SHARDS,
    key_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic per-epoch global shuffle order for training readers:
    every epoch is a different reproducible permutation of the corpus,
    with NO global sort. ``shard = md5(key#epN) % n_shards`` places each
    row (map-only); ``pos`` ranks rows WITHIN a shard by the same hash —
    readers stream shards in index order, so the concatenation
    (shard, pos) is a total order that reshuffles completely when
    ``epoch`` changes and is byte-stable across runs, engines, cluster
    sizes, and partition counts (the md5-gate discipline of every
    sampler here; a random()-based shuffle is none of those things).

    At 100 TB pick ``n_shards`` ∝ corpus/executor-memory (e.g. one
    shard ≈ 1M docs): the only non-map stage is a per-shard sort, each
    bounded by shard size — corpus-size-independent per-task memory.

    ``keep_cols`` rides extra per-row columns through the shard window
    (shard/pos values are a pure function of ``key_col`` and unchanged)
    so a consumer that needs both the order AND row attributes avoids
    re-joining the order table back onto an expensive upstream —
    r11, guide §2.4: the join was a second full evaluation of the
    producer's plan.
    """
    internal = {key_col, "h", "shard", "pos", "epoch"}
    clash = internal.intersection(keep_cols)
    if clash:
        # a colliding keep_col would silently shadow the shard/pos
        # machinery (or raise an ambiguous-column error downstream)
        raise ValueError(f"keep_cols collide with internal columns: {sorted(clash)}")
    h = md5_hash60(
        F.concat(F.col(key_col).cast("string"), F.lit(f"#ep{epoch}"))
    )
    w = Window.partitionBy("shard").orderBy("h", key_col)
    return (
        df.select(F.col(key_col), *[F.col(c) for c in keep_cols], h.alias("h"))
        .withColumn("shard", (F.col("h") % n_shards).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select(
            F.lit(epoch).cast("int").alias("epoch"),
            F.col(key_col),
            "shard",
            "pos",
            *[F.col(c) for c in keep_cols],
        )
    )


def _epoch_hash_sql(epoch: int) -> str:
    return (
        f"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ep{epoch}'), 1, 15))"
        "::BIGINT"
    )


_EPOCH_SHUFFLE_ORACLE = f"""
WITH both_epochs AS (
  SELECT 0 AS epoch, doc_id, {_epoch_hash_sql(0)} AS h FROM documents
  UNION ALL
  SELECT 1 AS epoch, doc_id, {_epoch_hash_sql(1)} AS h FROM documents
)
SELECT CAST(epoch AS INT) AS epoch,
       doc_id,
       CAST(h % {EPOCH_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY epoch, h % {EPOCH_SHARDS} ORDER BY h, doc_id
       ) - 1 AS BIGINT) AS pos
FROM both_epochs
ORDER BY epoch, shard, pos
"""


@register("sample_epoch_shuffle", oracle=_EPOCH_SHUFFLE_ORACLE, bench=True)
def q_epoch_shuffle(spark, sf_dir):
    """Two epochs of the deterministic training shuffle over documents:
    the full (epoch, doc, shard, pos) order table. Epoch 0 and epoch 1
    assign every doc independently, so matching BOTH permutations
    certifies the order is a pure function of (key, epoch) — not of
    scan order, partitioning, or engine."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        epoch_shuffle(docs, epoch=0)
        .unionByName(epoch_shuffle(docs, epoch=1))
        .orderBy("epoch", "shard", "pos")
    )


# --------------------- deterministic Poisson(1) bootstrap replicates

BOOT_REPLICATES = 4
#: Poisson(1) CDF in integer millionths: u-grid thresholds for k=0..7;
#: u >= the last entry draws k=8. Deterministic-exact given the hash.
_POISSON1_CDF_PPM = [
    367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990,
]


def poisson_bootstrap_weights(
    df: DataFrame,
    id_col: str = "doc_id",
    n_replicates: int = BOOT_REPLICATES,
) -> DataFrame:
    """Per-row Poisson(1) bootstrap weights for ``n_replicates``
    resamples — the out-of-core bootstrap: instead of materializing B
    copies of the corpus, each row gets a deterministic integer weight
    per replicate (md5-gate uniform through the Poisson(1) inverse
    CDF), and any downstream metric computed with the weights yields
    its bootstrap distribution. Map-only (explode by a 4-literal
    array); weights are a pure function of (row key, replicate), so
    replicas shard/reshuffle freely and both engines derive the
    identical resample."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60

    rep = F.explode(
        F.array(*[F.lit(i) for i in range(n_replicates)])
    ).alias("replicate")
    u = md5_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit("#boot"), F.col("replicate"))
    ) % 1000000
    k = F.lit(len(_POISSON1_CDF_PPM))
    for j in range(len(_POISSON1_CDF_PPM) - 1, -1, -1):
        k = F.when(u < _POISSON1_CDF_PPM[j], j).otherwise(k)
    # carry the row's columns through: downstream metrics need no
    # re-join — the whole expansion stays map-only
    return df.select("*", rep).withColumn("weight", k.cast("int"))


def _boot_case_sql(u_sql: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {u_sql} < {t} THEN {j}"
            for j, t in enumerate(_POISSON1_CDF_PPM)
        )
        + f" ELSE {len(_POISSON1_CDF_PPM)} END"
    )


_BOOT_U_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#boot' ||"
    " CAST(r AS VARCHAR)), 1, 15))::BIGINT % 1000000"
)

_BOOT_ORACLE = f"""
WITH w AS (
  SELECT d.doc_id, d.n_chars, g.r,
         {_boot_case_sql(_BOOT_U_SQL)} AS weight
  FROM documents d,
       LATERAL (SELECT unnest(range({BOOT_REPLICATES})) AS r) g
)
SELECT CAST(r AS INT) AS replicate,
       CAST(sum(weight) AS BIGINT) AS total_weight,
       CAST(count(*) FILTER (WHERE weight > 0) AS BIGINT) AS n_rows_kept,
       CAST(sum(weight * n_chars) AS BIGINT) AS weighted_chars
FROM w GROUP BY 1 ORDER BY 1
"""


@register("sample_poisson_bootstrap", oracle=_BOOT_ORACLE, bench=True)
def q_poisson_bootstrap(spark, sf_dir):
    """Four bootstrap resamples of the corpus as per-replicate weight
    summaries (total weight, surviving rows, weighted char mass) —
    integer-exact, the uncertainty-estimation companion to the
    deterministic samplers."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = poisson_bootstrap_weights(docs)
    return (
        w.groupBy(F.col("replicate").cast("int").alias("replicate"))
        .agg(
            F.sum("weight").cast("long").alias("total_weight"),
            F.count(F.when(F.col("weight") > 0, 1)).alias("n_rows_kept"),
            F.sum(F.col("weight") * F.col("n_chars"))
            .cast("long")
            .alias("weighted_chars"),
        )
        .orderBy("replicate")
    )


# --------------------- leakage-safe train/eval release (capstone)

_EVAL_MOD = 97
_HOLDOUT_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_HOLDOUT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, source, n_chars FROM documents
  WHERE doc_id % {_EVAL_MOD} <> 0
),
bench AS (
  SELECT doc_id, text, source, n_chars FROM documents
  WHERE doc_id % {_EVAL_MOD} = 0
),
cw AS (SELECT doc_id, string_split({_HOLDOUT_NORM}, ' ') AS ws FROM corpus),
bw AS (SELECT doc_id, string_split({_HOLDOUT_NORM}, ' ') AS ws FROM bench),
csh AS (
  SELECT DISTINCT doc_id,
         ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2] AS shingle
  FROM cw, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
),
bsh AS (
  SELECT DISTINCT ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2] AS shingle
  FROM bw, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
),
bh AS (SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM bsh),
ch AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM csh),
cont AS (SELECT DISTINCT ch.doc_id FROM ch JOIN bh USING (h)),
clean AS (
  SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM cont)
),
assigned AS (
  SELECT source, n_chars,
         CASE WHEN {_SPLIT_HASH_SQL} < 8000 THEN 'train'
              WHEN {_SPLIT_HASH_SQL} < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM clean
),
summary AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_groups,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM assigned GROUP BY 1
  UNION ALL
  SELECT 'contaminated', CAST(count(*) AS BIGINT),
         CAST(count(DISTINCT c.source) AS BIGINT),
         CAST(coalesce(sum(c.n_chars), 0) AS BIGINT)
  FROM corpus c JOIN cont USING (doc_id)
  UNION ALL
  SELECT 'eval', CAST(count(*) AS BIGINT),
         CAST(count(DISTINCT source) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT)
  FROM bench
)
SELECT * FROM summary ORDER BY split
"""


@register("pipeline_eval_holdout", oracle=_HOLDOUT_ORACLE, bench=True)
def q_eval_holdout(spark, sf_dir):
    """The training-data RELEASE capstone: every ~97th document plays
    the held-out eval set; corpus docs sharing any 3-gram with it are
    dropped (decontamination), the survivors get the group-atomic
    80/10/10 split (domain-keyed — near-dups never straddle splits),
    and the release manifest reports all five populations. The two
    leakage guarantees composed here are each individually certified
    (`decontaminate_benchmark`, `sample_group_split`); this query
    certifies their COMPOSITION — the clean-set boundary feeding the
    split gate."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import (
        contamination_report,
    )
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    corpus = docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
    bench = docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
    # r11 (guide §1.2/§2.4): the old form derived ``contaminated`` by
    # anti-joining corpus against ``clean`` — whose plan EMBEDS the whole
    # decontamination, so the dominant cost (normalize + split + 3-gram
    # + md5 over every corpus doc) executed twice, once per population.
    # Compute the tiny contaminated-id set ONCE, cut the lineage so both
    # populations reuse the same materialized set, and derive clean/
    # contaminated as cheap anti/semi joins of the parquet scan against
    # it. Populations are byte-identical: decontaminate() was exactly
    # "corpus anti-join hits" already.
    # explicit broadcast: a checkpointed RDD scan reports the default
    # (pessimistic) size estimate, which would demote these tiny-right-
    # side joins to sort-merge and shuffle the corpus text
    hits = F.broadcast(
        contamination_report(corpus, bench)
        .select(F.col("id").alias("__cid"))
        .localCheckpoint(eager=False)
    )
    clean = corpus.join(hits, F.col("doc_id") == F.col("__cid"), "left_anti")
    contaminated = corpus.join(
        hits, F.col("doc_id") == F.col("__cid"), "left_semi"
    )

    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_groups"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("sum_chars"),
    ]

    def summarize(df, name=None):
        if name is None:
            return df.groupBy("split").agg(*aggs)
        # named populations use a GLOBAL agg: the oracle's global
        # aggregates always emit the 'contaminated'/'eval' rows (with
        # zeros), and groupBy(lit(name)) would emit ZERO rows on an
        # empty population — a spurious cert divergence at any SF where
        # decontamination finds nothing (r6 ADVICE item 1)
        return df.agg(*aggs).select(
            F.lit(name).alias("split"), "n_docs", "n_groups", "sum_chars"
        )

    assigned = assign_split(clean, key_col="source")
    return (
        summarize(assigned)
        .unionByName(summarize(contaminated, "contaminated"))
        .unionByName(summarize(bench, "eval"))
        .orderBy("split")
    )


# ------------- exact class rebalancing (downsample to minority count)

def balanced_downsample(
    df: DataFrame, label_col: str, id_col: str = "vec_id", seed: int = 0
) -> DataFrame:
    """Deterministic per-class downsampling to the MINORITY class count —
    the classifier-training rebalance (imbalanced labels make accuracy a
    lie; exact balancing is the blunt, reproducible fix, and the
    deterministic md5 rank makes the kept set a pure function of
    (id, seed): re-runs, retries, and the DuckDB oracle all select the
    byte-identical sample — the property `F.sampleBy` cannot give).

    Scale shape: one count-per-label aggregate (broadcast, |labels|
    rows), then a rank window PARTITIONED BY LABEL over md5(id#seed) —
    per-label sorts, never a global one; a hot label is one partition's
    sort, the map-side md5 is the only per-row work. Returns the kept
    rows as (label, id, rk) — downstream joins fetch payloads by id, so
    the shuffle moves 16-byte rows."""
    keyed = df.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("id"),
        md5_hash60(
            F.concat(F.col(id_col).cast("string"), F.lit(f"#bal{seed}"))
        ).alias("__h"),
    )
    n_min = F.broadcast(
        keyed.groupBy("label")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.min("__n").alias("__n_min"))
    )
    w = Window.partitionBy("label").orderBy("__h", "id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .crossJoin(n_min)
        .filter(F.col("rk") <= F.col("__n_min"))
        .select("label", "id", F.col("rk").cast("long").alias("rk"))
    )


_BALANCED_ORACLE = """
WITH keyed AS (
  SELECT label, vec_id AS id,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#bal0'), 1, 15))::BIGINT
           AS h
  FROM embeddings
),
n_min AS (
  SELECT min(n) AS n_min FROM (
    SELECT count(*) AS n FROM keyed GROUP BY label
  )
),
ranked AS (
  SELECT label, id,
         row_number() OVER (PARTITION BY label ORDER BY h, id) AS rk
  FROM keyed
)
SELECT CAST(label AS INT) AS label, CAST(id AS BIGINT) AS id,
       CAST(rk AS BIGINT) AS rk
FROM ranked, n_min WHERE rk <= n_min
ORDER BY 1, 3
"""


@register("sample_balanced_classes", oracle=_BALANCED_ORACLE, bench=True)
def q_balanced_downsample(spark, sf_dir):
    """Exact per-label downsample of the embeddings corpus to the
    minority class count (md5-ranked, byte-identical cross-engine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return balanced_downsample(emb, "label").orderBy("label", "rk")
