"""Similarity search over embedding columns (``array<float>``) —
BASELINE.json north-star ops beyond the reference surface.

Two strategies:

- **Brute-force cosine top-k** (the exactness baseline): broadcast the
  small query set against the corpus, JVM-side cosine
  (``zip_with`` + ``aggregate``), rank per query. At 100 TB the corpus
  side stays partitioned and is scanned once; the ranking shuffle moves
  only ``n_queries x corpus`` scored *rows* (id + double), never the
  vectors themselves.
- **Sign-LSH bucketed ANN** (the scale path): a random-hyperplane
  bucket id (signs of projections onto frozen seeded unit planes —
  ``functions.artifacts.HYPERPLANES``) turns the cross product into an
  equi-join on ``bucket`` — candidates shrink ~2^bits-fold even on
  correlated embeddings, and the join is a plain hash join Catalyst can
  shuffle-partition. Recall<1 by construction; the oracle embeds the
  same literal planes so the contract is exact.

Cosine is computed in double with sequential element order in both
engines — results are bit-identical to the DuckDB oracle (verified), so
rank tie-breaking on the raw double is stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.artifacts import HYPERPLANES
from machine_learning_with_spark_streaming_spark.functions.vectors import (
    as_double_array,
    cosine_similarity,
    hyperplane_bucket,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

TOP_K = 5
N_QUERIES = 8
LSH_BITS = 4


#: testdata embedding width; generic callers pass their own ``dim``
EMB_DIM = 64


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query vector (excluding self-matches).

    Returns (query_id, rank, neighbor_id, cos). ``queries`` must be
    small (it is broadcast); the corpus is streamed partition-parallel.

    With ``dim`` given, the pair scoring runs through the Arrow/numpy
    ``exact_rescore`` stage (operators/ivf.py) instead of the JVM
    ``zip_with``+``aggregate`` fold — the fold evaluates INTERPRETED
    per pair over a |queries|x|corpus| volume (the r9-documented
    anti-pattern; this was the engine's last interpreted-HOF hot loop,
    measured 10.8x at 64x facts through sim_matryoshka_recall's four
    arms). Cosines are IEEE-bit-identical either way (dimension-order
    accumulation), so the two forms share oracles.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("__cv")
    )
    if dim is not None:
        from machine_learning_with_spark_streaming_spark.operators.ivf import score_all_queries

        # probe queries collect at plan time (the frozen-artifact /
        # probe-cell precedent) so the corpus streams through ONE
        # Arrow stage scoring all queries per batch
        q_rows = [
            (r["query_id"], list(r["__qv"]) if r["__qv"] is not None else None)
            for r in q.collect()
        ]
        scored = score_all_queries(
            corpus.select(
                F.col(id_col), as_double_array(vec_col).alias("__v")
            ),
            q_rows,
            dim=dim,
            id_col=id_col,
            vec_col="__v",
        ).filter(F.col("neighbor_id") != F.col("query_id"))
    else:
        pairs = c.crossJoin(F.broadcast(q)).filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        scored = pairs.select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos"),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def topk_cosine_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = LSH_BITS,
) -> DataFrame:
    """ANN top-k: score only candidates sharing the sign-LSH bucket with
    the query (equi-join on bucket, not a cross product)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
        hyperplane_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("__cv"),
        hyperplane_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


# ------------------------------------------------------------------ oracles

_DOT = (
    "list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    " list_transform({b}, x -> CAST(x AS DOUBLE)))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


_TOPK_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

def _plane_lit(i: int) -> str:
    return "[" + ", ".join(repr(x) for x in HYPERPLANES[i]) + "]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(list_transform({{v}}, x -> CAST(x AS DOUBLE)),"
    f" {_plane_lit(i)}) >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(LSH_BITS)
)

_TOPK_BUCKETED_ORACLE = f"""
WITH q AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM q JOIN c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register("sim_topk_cosine", oracle=_TOPK_ORACLE)
def q_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-5 for the first 8 vectors vs the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = topk_cosine(emb, emb.filter(F.col("vec_id") < N_QUERIES), dim=EMB_DIM)
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy(
        "query_id", "rank"
    )


@register("sim_topk_bucketed", oracle=_TOPK_BUCKETED_ORACLE)
def q_topk_bucketed(spark, sf_dir):
    """Sign-LSH bucketed ANN top-5 (equi-join candidates, same ranking)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = topk_cosine_bucketed(emb, emb.filter(F.col("vec_id") < N_QUERIES))
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy(
        "query_id", "rank"
    )


# -------------------------------------------------- embedding near-dup pairs

COSINE_DUP_THRESHOLD = 0.999


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = LSH_BITS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-by-embedding
    strategy): sign-LSH bucket equi-join bounds candidates, exact cosine
    verifies. At threshold ~1 every true pair shares all leading-dim
    signs, so bucket recall is exact for duplicates; the cross product
    never materializes."""
    v = corpus.select(
        F.col(id_col).alias("id"),
        as_double_array(vec_col).alias("__v"),
        hyperplane_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, ["bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_similarity(F.col("a.__v"), F.col("b.__v")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def embeddings_with_duplicates(spark, sf_dir: str) -> DataFrame:
    """embeddings ∪ exact copies of vec_id < 20 at id+100000 —
    deterministic and reproducible in SQL."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(dup)


_DUP_CORPUS_SQL = """
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding
  FROM embeddings WHERE vec_id < 20
)
"""

_COS_DUP_ORACLE = f"""
WITH {_DUP_CORPUS_SQL},
v AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM corpus
)
SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
       round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos
FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {COSINE_DUP_THRESHOLD}
ORDER BY 1, 2
"""


@register("dedup_embedding_cosine", oracle=_COS_DUP_ORACLE)
def q_cosine_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs over a corpus with injected
    duplicate vectors (bucketed candidates, exact-cosine verify)."""
    corpus = embeddings_with_duplicates(spark, sf_dir)
    return cosine_dup_pairs(corpus).orderBy("id_a", "id_b")


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization for embedding storage.

    ``scale = max(|v|)/127``; ``code_i = floor(v_i/scale + 0.5)`` (the
    explicit floor form, because round-half casts differ across
    engines). Cuts ANN index storage 4x (float32 -> int8) — at 100 TB
    the vector table is usually the dominant byte cost, and IVF/LSH
    candidate scoring on int8 codes keeps full recall after an exact
    re-rank on the surviving pairs. Pure array expressions: no UDF, no
    shuffle — a map-only rewrite of the vector column.

    Returns (id, scale, codes) plus ``recon_mse``, the per-vector mean
    squared reconstruction error (codes*scale vs original) that a
    curation pipeline thresholds to catch outlier vectors whose range
    breaks symmetric quantization.
    """
    base = df.select(F.col(id_col), as_double_array(vec_col).alias("__v"))
    scaled = base.withColumn(
        "scale",
        F.greatest(
            F.array_max(F.transform(F.col("__v"), lambda x: F.abs(x))),
            F.lit(1e-30),
        )
        / F.lit(127.0),
    )
    coded = scaled.withColumn(
        "codes",
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        ),
    )
    sq_err = F.zip_with(
        F.col("codes"),
        F.col("__v"),
        lambda c, x: (c * F.col("scale") - x) ** F.lit(2.0),
    )
    return coded.withColumn(
        "recon_mse",
        F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(F.col("codes")),
    ).drop("__v")


_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT)) AS codes
  FROM s
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(scale, 9) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_min(codes) AS INT) AS code_min,
       CAST(list_max(codes) AS INT) AS code_max,
       list_dot_product(list_transform(codes, c -> CAST(c AS DOUBLE)),
                        list_transform(generate_series(1, len(codes)),
                                       i -> CAST(i AS DOUBLE))) AS code_wsum
FROM q
ORDER BY vec_id
"""


@register("sim_quantize_int8", oracle=_QUANT_ORACLE, bench=True)
def q_quantize_int8(spark, sf_dir):
    """Int8-quantize every corpus embedding; certify scale + four
    position/value-sensitive integer checksums of the code vectors.
    (The checksums are exact integer arithmetic in double on both
    engines — no float-rounding ambiguity in the contract; recon_mse
    is exercised separately in tests where tolerance is controllable.)
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb)
    wsum = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(1), F.size(F.col("codes"))),
            lambda c, i: (c * i).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return q.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("scale", 9).alias("scale"),
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("code_sum"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        wsum.alias("code_wsum"),
    ).orderBy("vec_id")


# ------------------------------------------- normalization & centroids

def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit"
) -> DataFrame:
    """Unit-normalize an embedding column (map-only array expressions;
    zero vectors normalize to NULL via the null-safe norm). The standard
    pre-step for cosine ANN: after normalization, cosine = dot, so
    downstream scoring drops two norms per pair."""
    dv = as_double_array(vec_col)
    n = F.nullif(
        F.sqrt(
            F.aggregate(
                F.transform(dv, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ),
        F.lit(0.0),
    )
    return df.withColumn(
        out_col, F.transform(dv, lambda x: x / n)
    ).withColumn(f"{out_col}_norm", n)


def group_centroids(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-group mean vector as a long (group, pos, centroid) table —
    class centroids / cluster means / mean-pooled doc vectors.

    Shape: one ``posexplode`` (rows x dims) then a (group, pos) groupBy
    with map-side partial sums — the distributed dense-vector aggregate
    that never materializes per-group arrays on one executor. At 100 TB
    this is the same plan MLlib's Summarizer lowers to; emitting the
    long form keeps the shuffle rows 24 bytes and lets consumers
    pivot-or-collect only the groups they need."""
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(as_double_array(vec_col)).alias("pos", "x"),
    )
    return ex.groupBy("grp", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x"), 6).alias("centroid"),
    )


_CENTROID_ORACLE = """
WITH ex AS (
  SELECT label AS grp, CAST(g.i - 1 AS INT) AS pos,
         CAST(embedding[g.i] AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
)
SELECT CAST(grp AS INT) AS grp, pos,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(x), 6) + 0.0 AS centroid
FROM ex GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("emb_label_centroids", oracle=_CENTROID_ORACLE)
def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (10 labels x 64 dims), the
    distributed dense mean-vector aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        group_centroids(emb, "label")
        .select(F.col("grp").cast("int").alias("grp"), "pos", "n", "centroid")
        .orderBy("grp", "pos")
    )


_L2_ORACLE = """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(sqrt(list_dot_product(
         list_transform(embedding, x -> CAST(x AS DOUBLE)),
         list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) + 0.0
         AS l2_norm,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             / sqrt(list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6)
         + 0.0 AS unit_checksum
FROM embeddings
ORDER BY 1
"""


@register("emb_l2_normalize", oracle=_L2_ORACLE)
def q_l2_normalize(spark, sf_dir):
    """L2 normalization serving check: per-vector norm and the checksum
    of the unit vector (sum of elements / norm), rounded 6 dp."""
    emb = load_table(spark, sf_dir, "embeddings")
    dv = as_double_array("embedding")
    s = F.aggregate(dv, F.lit(0.0), lambda a, x: a + x)
    out = l2_normalize(emb)
    return out.select(
        "vec_id",
        (F.round(F.col("unit_norm"), 6) + 0.0).alias("l2_norm"),
        (F.round(s / F.col("unit_norm"), 6) + 0.0).alias("unit_checksum"),
    ).orderBy("vec_id")


# ------------------------------------------------- RAG retrieval serving

def retrieve_documents(
    corpus_emb: DataFrame,
    queries: DataFrame,
    docs: DataFrame,
    k: int = TOP_K,
    snippet_chars: int = 80,
) -> DataFrame:
    """End-to-end retrieval: ANN top-k over the embedding corpus, then
    join the winning ids back to the document store for the text
    payload — the serving path a RAG stack runs per query batch.

    Order of operations is the scale-critical part: ranking happens on
    ``(query_id, neighbor_id, cos)`` ROWS ONLY; document text joins
    AFTER the top-k cut, so the text shuffle is k-per-query, not
    corpus-sized. The doc join keys on the corpus id (broadcast the
    ranked side when the query batch is small — it's k*|queries| rows).

    Returns (query_id, rank, doc_id, cos, snippet) — snippet is the
    first ``snippet_chars`` of normalized text."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import normalize_text

    ranked = topk_cosine(corpus_emb, queries, k=k, dim=EMB_DIM)
    snip = docs.select(
        F.col("doc_id"),
        F.substring(normalize_text("text"), 1, snippet_chars).alias("snippet"),
    )
    return (
        F.broadcast(ranked)
        .join(snip, ranked["neighbor_id"] == snip["doc_id"])
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.round("cos", 6).alias("cos"),
            "snippet",
        )
    )


_RAG_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(r.query_id AS BIGINT) AS query_id, CAST(r.rank AS INT) AS rank,
       CAST(d.doc_id AS BIGINT) AS doc_id, round(r.cos, 6) AS cos,
       substr(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))), 1, 80)
         AS snippet
FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
WHERE r.rank <= {TOP_K}
ORDER BY 1, 2
"""


@register("sim_rag_retrieve", oracle=_RAG_ORACLE)
def q_rag_retrieve(spark, sf_dir):
    """Retrieval serving path: cosine top-5 for 8 query vectors, joined
    to document snippets after the rank cut."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    out = retrieve_documents(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), docs
    )
    return out.orderBy("query_id", "rank")


# ----------------------- hashed-projection RAG indexing (text -> top-k)


RAG_DIM = 64
RAG_QUERY = "spark join shuffle partition"
RAG_TOP_K = 10


def _hash_bucket_sign(word):
    """(bucket, sign) for one word under the hashing trick: bucket =
    md5-60bit % RAG_DIM, sign = independent md5 bit — both derivable
    identically in DuckDB, so the whole embedding is cross-engine."""
    from machine_learning_with_spark_streaming_spark.operators.dedup import md5_hash60

    b = F.pmod(md5_hash60(word), F.lit(RAG_DIM))
    s = F.pmod(md5_hash60(F.concat(word, F.lit("#s"))), F.lit(2)) * 2 - 1
    return b, s


def hashed_chunk_embeddings(chunks: DataFrame) -> DataFrame:
    """Sparse hashed bag-of-words embedding per chunk, in long form
    ``(doc_id, chunk_idx, b, val)`` — the hashing-trick featurization
    (signed buckets, a.k.a. the feature-hashing/SimHash family). All
    values are ±1 sums, i.e. INTEGERS: every downstream dot product and
    norm is exact until one final IEEE sqrt/divide, which is what makes
    a full text->embed->retrieve pipeline hash-certifiable with no
    model dependency.

    Long (COO) form deliberately: at 100 TB the index is a table
    partitioned by bucket, dot products are joins + aggregations with
    map-side partials, and no row ever holds a dense vector."""
    cw = chunks.select("doc_id", "chunk_idx", F.explode("toks").alias("w"))
    b, s = _hash_bucket_sign(F.col("w"))
    return (
        cw.select("doc_id", "chunk_idx", b.alias("b"), s.alias("s"))
        .groupBy("doc_id", "chunk_idx", "b")
        .agg(F.sum("s").alias("val"))
    )


def _rag_chunk_scored(docs: DataFrame, query: str):
    """Shared chunk-scoring front of the RAG index: returns
    ``(scored, cemb)`` where ``scored`` is (doc_id, chunk_idx, cos) for
    EVERY chunk and ``cemb`` is the persisted chunk index the caller
    must unpersist."""
    from machine_learning_with_spark_streaming_spark.operators.text import chunk_token_table

    spark = docs.sparkSession
    cemb = hashed_chunk_embeddings(chunk_token_table(docs)).persist()
    qw = spark.createDataFrame([(w,) for w in query.split()], "w string")
    b, s = _hash_bucket_sign(F.col("w"))
    qemb = (
        qw.select(b.alias("b"), s.alias("s"))
        .groupBy("b")
        .agg(F.sum("s").alias("qval"))
    )
    dot = (
        cemb.join(F.broadcast(qemb), "b")
        .groupBy("doc_id", "chunk_idx")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    norm = cemb.groupBy("doc_id", "chunk_idx").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("cn")
    )
    qn = qemb.agg(F.sqrt(F.sum(F.col("qval") * F.col("qval"))).alias("qn"))
    # norm LEFT JOIN dot: chunks sharing no bucket with the query rank
    # at cosine 0 instead of vanishing, so top-k returns k rows whenever
    # k chunks exist (the retrieval contract) — deterministic tie-break
    # on (doc_id, chunk_idx) orders the zero-score tail
    scored = (
        norm.join(dot, ["doc_id", "chunk_idx"], "left")
        .crossJoin(F.broadcast(qn))
        .filter(F.col("cn") > 0)
        .select(
            "doc_id",
            "chunk_idx",
            (F.coalesce(F.col("dot"), F.lit(0)) / (F.col("cn") * F.col("qn")))
            .alias("cos"),
        )
    )
    return scored, cemb


def rag_index_topk(
    docs: DataFrame, query: str = RAG_QUERY, k: int = RAG_TOP_K
) -> DataFrame:
    """End-to-end RAG indexing + retrieval with zero model dependency:
    chunk documents (certified windowing), embed each chunk with the
    hashing trick, embed the query text the same way, rank by cosine.

    Scale shape: the chunk index (one groupBy) is the only corpus-sized
    shuffle; the query embedding is broadcast, the dot product touches
    only chunks sharing a bucket with the query, and the final top-k is
    a TakeOrdered, never a global sort."""
    scored, cemb = _rag_chunk_scored(docs, query)
    top = scored.orderBy(F.desc("cos"), "doc_id", "chunk_idx").limit(k)
    # benign global window: ranks only the k post-limit survivors (the
    # no-partition WindowExec warning refers to this k-row relation)
    w = Window.orderBy(F.desc("cos"), "doc_id", "chunk_idx")
    out = top.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        "chunk_idx",
        F.round("cos", 6).alias("cosine"),
    ).localCheckpoint(eager=True)  # k rows; lets the chunk index cache go
    cemb.unpersist()
    return out


from machine_learning_with_spark_streaming_spark.operators.text import (  # noqa: E402
    CHUNK_SIZE as _CHUNK_SIZE,
    CHUNK_STRIDE as _CHUNK_STRIDE,
)
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await

_H60 = "('0x' || substr(md5({w}), 1, 15))::BIGINT"
_RAG_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

#: chunk-scoring CTEs shared by the index oracle and the hybrid-fusion
#: oracle; ends at ``scored`` = (doc_id, chunk_idx, cos).
_RAG_SCORE_CTES = f"""w AS (SELECT doc_id, string_split({_RAG_NORM}, ' ') AS ws FROM documents),
st AS (
  SELECT doc_id, ws, g.s AS start
  FROM w, LATERAL (
    SELECT unnest(generate_series(0, len(ws) - 1, {_CHUNK_STRIDE})) AS s
  ) g
),
cw AS (
  SELECT doc_id, CAST(start / {_CHUNK_STRIDE} AS INT) AS chunk_idx, u.word
  FROM st, LATERAL (
    SELECT unnest(list_slice(ws, start + 1, start + {_CHUNK_SIZE})) AS word
  ) u
),
ce AS (
  SELECT doc_id, chunk_idx,
         {_H60.format(w='word')} % {RAG_DIM} AS b,
         ({_H60.format(w="word || '#s'")} % 2) * 2 - 1 AS s
  FROM cw
),
cemb AS (
  SELECT doc_id, chunk_idx, b, sum(s) AS val FROM ce GROUP BY 1, 2, 3
),
qw AS (SELECT unnest(string_split('{RAG_QUERY}', ' ')) AS word),
qe AS (
  SELECT {_H60.format(w='word')} % {RAG_DIM} AS b,
         ({_H60.format(w="word || '#s'")} % 2) * 2 - 1 AS s
  FROM qw
),
qemb AS (SELECT b, sum(s) AS qval FROM qe GROUP BY 1),
dotp AS (
  SELECT doc_id, chunk_idx, sum(val * qval) AS dot
  FROM cemb JOIN qemb USING (b) GROUP BY 1, 2
),
cn AS (
  SELECT doc_id, chunk_idx, sqrt(CAST(sum(val * val) AS DOUBLE)) AS cn
  FROM cemb GROUP BY 1, 2
),
qn AS (SELECT sqrt(CAST(sum(qval * qval) AS DOUBLE)) AS qn FROM qemb),
scored AS (
  SELECT c.doc_id, c.chunk_idx,
         CAST(coalesce(d.dot, 0) AS DOUBLE) / (c.cn * q.qn) AS cos
  FROM cn c LEFT JOIN dotp d USING (doc_id, chunk_idx), qn q
  WHERE c.cn > 0
)"""


_RAG_INDEX_ORACLE = f"""
WITH {_RAG_SCORE_CTES},
top AS (
  SELECT * FROM scored ORDER BY cos DESC, doc_id, chunk_idx LIMIT {RAG_TOP_K}
)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, doc_id, chunk_idx) AS INT)
         AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, chunk_idx, round(cos, 6) AS cosine
FROM top ORDER BY rank
"""


@register("pipeline_rag_index", oracle=_RAG_INDEX_ORACLE, bench=True)
def q_rag_index(spark, sf_dir):
    """Text->chunk->hashed-embedding->cosine-top-k — the INDEXING bookend
    to sim_rag_retrieve's serving path; every arithmetic step is integer
    until one sqrt/divide, so the oracle reproduces the ranking
    bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return rag_index_topk(docs)


# -------------------------- embedding drift monitor (snapshot compare)


def centroid_drift(
    old: DataFrame, new: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-group embedding drift between two corpus snapshots: cosine
    and L2 shift between each group's centroid then vs now — the
    model-vs-data drift monitor an embedding pipeline runs on every
    re-crawl/re-embed ("did the meaning of label 7 move?").

    Built on the certified :func:`group_centroids` long form; the drift
    math consumes the ROUNDED centroid components, so the float-sum
    order noise is already absorbed before any cross-engine comparison.
    One (group, pos) join between two |groups|x|dims| tables — drift
    cost is independent of corpus size once the centroids exist."""
    a = group_centroids(old, group_col, vec_col).select(
        "grp", "pos", F.col("centroid").alias("ca")
    )
    b = group_centroids(new, group_col, vec_col).select(
        "grp", "pos", F.col("centroid").alias("cb")
    )
    j = a.join(b, ["grp", "pos"])
    return (
        j.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_dims"),
            F.sum(F.col("ca") * F.col("cb")).alias("__dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("__na"),
            F.sum(F.col("cb") * F.col("cb")).alias("__nb"),
            F.sum(
                (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
            ).alias("__d2"),
        )
        .select(
            "grp",
            "n_dims",
            F.round(
                F.col("__dot") / (F.sqrt("__na") * F.sqrt("__nb")), 6
            ).alias("cos_drift"),
            F.round(F.sqrt("__d2"), 6).alias("l2_shift"),
        )
    )


_DRIFT_ORACLE = """
WITH ex AS (
  SELECT vec_id % 2 AS half, label AS grp, CAST(g.i - 1 AS INT) AS pos,
         CAST(embedding[g.i] AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
cent AS (
  SELECT half, grp, pos, round(avg(x), 6) AS c
  FROM ex GROUP BY 1, 2, 3
),
j AS (
  SELECT a.grp, a.pos, a.c AS ca, b.c AS cb
  FROM cent a JOIN cent b ON a.grp = b.grp AND a.pos = b.pos
  WHERE a.half = 0 AND b.half = 1
)
SELECT CAST(grp AS INT) AS grp,
       CAST(count(*) AS INT) AS n_dims,
       round(sum(ca * cb) / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 6)
         AS cos_drift,
       round(sqrt(sum((ca - cb) * (ca - cb))), 6) AS l2_shift
FROM j GROUP BY grp ORDER BY grp
"""


@register("emb_centroid_drift", oracle=_DRIFT_ORACLE, bench=True)
def q_centroid_drift(spark, sf_dir):
    """Drift between the even-id and odd-id halves of the embeddings
    table treated as two snapshots: same-distribution halves must show
    near-1 cosine and small L2 shift per label — and the numbers are
    hash-compared, not eyeballed."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    return (
        centroid_drift(old, new, "label")
        .select(F.col("grp").cast("int").alias("grp"), "n_dims",
                "cos_drift", "l2_shift")
        .orderBy("grp")
    )


# ------------------------------------------------ multi-probe sign-LSH


def topk_cosine_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = LSH_BITS,
) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB'07 idea applied to sign-LSH):
    each query probes its own bucket PLUS every Hamming-1 neighbor
    (flip one hyperplane sign — the perturbations most likely to hold a
    near neighbor that fell just on the other side of one plane).

    Recall improves from single-bucket for the cost of (n_bits+1)x more
    candidate rows per QUERY — the corpus side is untouched (still one
    bucket per vector, no index inflation), which is the multi-probe
    trade: probe more instead of storing more tables. The corpus scan
    and index stay identical to :func:`topk_cosine_bucketed`."""
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
        hyperplane_bucket(F.col(vec_col), n_bits).alias("__b"),
    )
    probes = F.array(
        F.col("__b"),
        *[F.col("__b").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
    )
    q = q0.select(
        "query_id", "__qv", F.explode(probes).alias("__p")
    ).select("query_id", "__qv", F.col("__p").cast("int").alias("bucket"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("__cv"),
        hyperplane_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


_TOPK_MULTIPROBE_ORACLE = f"""
WITH q0 AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS b
  FROM embeddings WHERE vec_id < {N_QUERIES}
), q AS (
  SELECT vec_id, embedding, u.bucket
  FROM q0, LATERAL (
    SELECT unnest([b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)]) AS bucket
  ) u
), c AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM q JOIN c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register("sim_topk_multiprobe", oracle=_TOPK_MULTIPROBE_ORACLE, bench=True)
def q_topk_multiprobe(spark, sf_dir):
    """Multi-probe sign-LSH ANN top-5: each query probes its bucket and
    all 4 Hamming-1 neighbors. The oracle enumerates the same probe set
    as XOR literals (n_bits = 4), so candidate generation AND ranking
    are hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = topk_cosine_multiprobe(emb, emb.filter(F.col("vec_id") < N_QUERIES))
    return out.orderBy("query_id", "rank")


_ANN_SERVING_ORACLE = f"""
WITH q AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings WHERE vec_id < 32
), c AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM q JOIN c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register("s11_ann_serving_stream", oracle=_ANN_SERVING_ORACLE)
def q_ann_serving_stream(spark, sf_dir):
    """Online ANN retrieval serving: a REAL 4-micro-batch stream of
    query vectors scored per batch against the STATIC corpus index
    (sign-LSH bucket equi-join; the index broadcasts into every batch —
    no state store, each query answered within its arrival batch, the
    production online-retrieval shape). foreachBatch appends results;
    the union over batches must equal the batch top-k for all 32
    queries at once."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 32).select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="mlwss_annserve_")
    stage = f"{work}/stage"
    os.makedirs(stage)
    # 4 files of 8 queries each (id-range split; order is irrelevant —
    # serving is stateless per batch)
    for i in range(4):
        part = queries.filter(
            (F.col("vec_id") >= i * 8) & (F.col("vec_id") < (i + 1) * 8)
        )
        tmp = f"{work}/tmp_{i}"
        part.coalesce(1).write.parquet(tmp)
        shutil.copyfile(
            glob.glob(f"{tmp}/part-*.parquet")[0], f"{stage}/{i:02d}.parquet"
        )
    out_dir = f"{work}/results"
    spark.createDataFrame(
        [], "query_id long, rank int, neighbor_id long, cos double"
    ).write.parquet(out_dir)

    def sink(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        topk = topk_cosine_bucketed(emb, batch_df, id_col="vec_id")
        topk.select(
            "query_id", F.col("rank").cast("int").alias("rank"),
            "neighbor_id", "cos",
        ).write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{work}/ckpt_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    res = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return res.orderBy("query_id", "rank")


# --------------------------- PCA projection (frozen principal axes)

def pca_project_nano(vec_col: str = "embedding"):
    """Column list projecting an embedding onto the frozen principal
    axes (functions/pca_artifacts.py), one BIGINT nano-unit column per
    component. Mean-center then dot each axis as an explicitly ordered
    64-term sum of exactly-widened doubles — the PQ-LUT determinism
    recipe — and floor to integer nano BEFORE anything downstream, so
    the output hashes identically on any engine. Map-only: the
    dimensionality-reduction front of an ANN/clustering pipeline (64 ->
    4 dims ahead of index build) with zero shuffle."""
    from machine_learning_with_spark_streaming_spark.functions.pca_artifacts import (
        PCA_COMPONENTS,
        PCA_MEAN,
    )

    cols = []
    for j, comp in enumerate(PCA_COMPONENTS):
        term = None
        for i, (m, c) in enumerate(zip(PCA_MEAN, comp)):
            t = (
                F.element_at(as_double_array(vec_col), i + 1) - F.lit(m)
            ) * F.lit(c)
            term = t if term is None else term + t
        cols.append(
            F.floor(term * 1_000_000_000).cast("long").alias(f"pc{j}_nano")
        )
    return cols


def _pca_proj_sql() -> str:
    from machine_learning_with_spark_streaming_spark.functions.pca_artifacts import (
        PCA_COMPONENTS,
        PCA_MEAN,
    )

    outs = []
    for j, comp in enumerate(PCA_COMPONENTS):
        terms = " + ".join(
            f"(emb[{i + 1}] - {m!r}) * {c!r}"
            for i, (m, c) in enumerate(zip(PCA_MEAN, comp))
        )
        outs.append(
            f"CAST(floor(({terms}) * 1000000000) AS BIGINT) AS pc{j}_nano"
        )
    return ",\n       ".join(outs)


_PCA_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       {_pca_proj_sql()}
FROM v ORDER BY vec_id
"""


@register("emb_pca_project", oracle=_PCA_ORACLE)
def q_pca_project(spark, sf_dir):
    """Every embedding projected onto the frozen top-4 principal axes
    in exact integer nano-units — the 16x dimensionality cut that rides
    in front of index builds, certified value-exact cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), *pca_project_nano()
    ).orderBy("vec_id")


_PCA_TOPK_K = 10
_PCA_QUERY_ID = 0


_PCA_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
p AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         {_pca_proj_sql()}
  FROM v
),
q AS (SELECT * FROM p WHERE vec_id = {_PCA_QUERY_ID}),
scored AS (
  -- each difference is cast to HUGEINT BEFORE squaring: DuckDB does
  -- not auto-promote BIGINT arithmetic (it errors on overflow), and
  -- four squared nano terms can exceed 2^63 — this genuinely matches
  -- the decimal(38,0) carry on the Spark side
  SELECT p.vec_id,
         CAST(p.pc0_nano - q.pc0_nano AS HUGEINT) * CAST(p.pc0_nano - q.pc0_nano AS HUGEINT)
         + CAST(p.pc1_nano - q.pc1_nano AS HUGEINT) * CAST(p.pc1_nano - q.pc1_nano AS HUGEINT)
         + CAST(p.pc2_nano - q.pc2_nano AS HUGEINT) * CAST(p.pc2_nano - q.pc2_nano AS HUGEINT)
         + CAST(p.pc3_nano - q.pc3_nano AS HUGEINT) * CAST(p.pc3_nano - q.pc3_nano AS HUGEINT) AS d2
  FROM p, q WHERE p.vec_id <> {_PCA_QUERY_ID}
)
SELECT CAST(row_number() OVER (ORDER BY d2, vec_id) AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS neighbor_id,
       CAST(d2 AS VARCHAR) AS d2_nano2
FROM scored ORDER BY d2, vec_id LIMIT {_PCA_TOPK_K}
"""


@register("sim_pca_topk", oracle=_PCA_TOPK_ORACLE)
def q_pca_topk(spark, sf_dir):
    """Reduced-space ANN serving: top-10 neighbors of vec_id 0 by L2
    distance in the frozen 4-dim PCA space — candidate generation that
    scans 4 BIGINTs per vector instead of 64 floats (the 16x cheaper
    first stage ahead of an exact re-rank). Distances are sums of
    squared integer nanos (can exceed BIGINT at extreme coordinates, so
    both engines carry them exact and emit as string — decimal(38,0) /
    HUGEINT)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    p = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), *pca_project_nano()
    )
    q = p.filter(F.col("vec_id") == _PCA_QUERY_ID).select(
        *[F.col(f"pc{j}_nano").alias(f"q{j}") for j in range(4)]
    )
    d2 = None
    for j in range(4):
        t = (F.col(f"pc{j}_nano") - F.col(f"q{j}")).cast("decimal(38,0)")
        sq = t * t
        d2 = sq if d2 is None else d2 + sq
    scored = (
        p.filter(F.col("vec_id") != _PCA_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", d2.cast("decimal(38,0)").alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(_PCA_TOPK_K)
    )
    w = Window.orderBy("d2", "vec_id")
    return scored.select(
        F.row_number().over(w).cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("d2").cast("string").alias("d2_nano2"),
    )


# --------------------- hybrid retrieval: dense + BM25, RRF fusion

HYBRID_POOL = 20
HYBRID_RRF_C = 60
HYBRID_TOP_K = 10


def _hybrid_bm25_ctes() -> str:
    terms = ", ".join(f"'{t}'" for t in RAG_QUERY.split())
    return f"""
tk AS (
  SELECT doc_id, u.w FROM (
    SELECT doc_id, string_split({_RAG_NORM}, ' ') AS ws FROM documents
  ), LATERAL (SELECT unnest(ws) AS w) u
  WHERE u.w <> ''
),
dlen AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
bstats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlen),
btf AS (
  SELECT doc_id, w, count(*) AS tf FROM tk
  WHERE w IN ({terms}) GROUP BY 1, 2
),
bdf AS (SELECT w, count(*) AS df FROM btf GROUP BY 1),
bcontrib AS (
  SELECT btf.doc_id,
         ln(1.0 + (bstats.n_docs - bdf.df + 0.5) / (bdf.df + 0.5))
         * (btf.tf * (1.2 + 1))
         / (btf.tf + 1.2 * (1 - 0.75 + 0.75 * dlen.dl / bstats.avgdl)) AS part
  FROM btf JOIN bdf USING (w) JOIN dlen USING (doc_id) CROSS JOIN bstats
),
bscored AS (SELECT doc_id, round(sum(part), 6) AS bm25 FROM bcontrib GROUP BY 1),
srank AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS sr
  FROM bscored QUALIFY sr <= {HYBRID_POOL}
)"""


_HYBRID_ORACLE = f"""
WITH {_RAG_SCORE_CTES},
ddoc AS (SELECT doc_id, round(max(cos), 6) AS dcos FROM scored GROUP BY 1),
drank AS (
  SELECT doc_id, row_number() OVER (ORDER BY dcos DESC, doc_id) AS dr
  FROM ddoc QUALIFY dr <= {HYBRID_POOL}
),
{_hybrid_bm25_ctes().lstrip()},
fused AS (
  SELECT coalesce(d.doc_id, s.doc_id) AS doc_id, d.dr, s.sr,
         coalesce(1.0 / ({HYBRID_RRF_C} + d.dr), 0)
         + coalesce(1.0 / ({HYBRID_RRF_C} + s.sr), 0) AS rrf
  FROM drank d FULL JOIN srank s ON d.doc_id = s.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(dr AS INT) AS dense_rank,
       CAST(sr AS INT) AS sparse_rank,
       round(rrf, 6) AS rrf
FROM fused
ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOP_K}
"""


@register("pipeline_hybrid_retrieve", oracle=_HYBRID_ORACLE)
def q_hybrid_retrieve(spark, sf_dir):
    """Hybrid retrieval for the RAG query: dense leg = best-chunk
    hashed-embedding cosine per doc, sparse leg = BM25 over the same
    normalized tokens, fused by reciprocal-rank fusion
    (``1/(60+rank)``, the parameter-free standard). Each leg
    contributes its top-20 pool; a doc missing from one pool simply
    lacks that term (NULL rank). RRF is the production answer to
    "neither embeddings nor keywords win everywhere" — and it composes
    two already-certified rankings, so the fusion itself is the only
    new surface."""
    from machine_learning_with_spark_streaming_spark.operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored, cemb = _rag_chunk_scored(docs, RAG_QUERY)
    ddoc = scored.groupBy("doc_id").agg(
        F.round(F.max("cos"), 6).alias("dcos")
    )
    # TakeOrdered cut FIRST (distributed top-k), then the benign global
    # window ranks only the 20 survivors — ranking the corpus-sized
    # ddoc through a single-partition window is exactly the shape the
    # registry plan audit rejects (and it caught this one in review)
    dtop = ddoc.orderBy(F.desc("dcos"), "doc_id").limit(HYBRID_POOL)
    wd = Window.orderBy(F.desc("dcos"), "doc_id")
    drank = (
        dtop.withColumn("dr", F.row_number().over(wd))
        .select("doc_id", "dr")
        .localCheckpoint(eager=True)  # 20 rows; frees the chunk index
    )
    cemb.unpersist()
    sparse = bm25_topk(docs, RAG_QUERY.split(), k=HYBRID_POOL)
    ws = Window.orderBy(F.desc("bm25"), "doc_id")
    srank = sparse.withColumn("sr", F.row_number().over(ws)).select(
        "doc_id", "sr"
    )
    fused = (
        drank.join(srank, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(1.0 / (HYBRID_RRF_C + F.col("dr")), F.lit(0.0))
            + F.coalesce(1.0 / (HYBRID_RRF_C + F.col("sr")), F.lit(0.0)),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(HYBRID_TOP_K)
        .select(
            "doc_id",
            F.col("dr").cast("int").alias("dense_rank"),
            F.col("sr").cast("int").alias("sparse_rank"),
            F.round("rrf", 6).alias("rrf"),
        )
    )


# ------------------------- matryoshka truncation + renormalization

MRL_DIMS = 16


def truncate_renormalize(
    df: DataFrame, dims: int = MRL_DIMS, vec_col: str = "embedding"
) -> DataFrame:
    """Matryoshka-style dimensionality cut: keep the first ``dims``
    coordinates of each embedding and L2-renormalize the prefix — the
    standard cheap-retrieval trick for MRL-trained encoders (a 4x
    shorter vector whose cosine approximates the full one). Emits the
    prefix norm, the retained-energy ratio ``||prefix||^2/||full||^2``
    (the quality dial: how much of the vector's mass the cut keeps),
    and the renormalized-prefix checksum ``sum(prefix)/||prefix||``.

    Map-only: per-row array arithmetic inside codegen, no shuffle, no
    Python — the 100 TB shape is "read, slice, write"."""
    dv = as_double_array(vec_col)
    pre = F.slice(dv, 1, dims)
    ss = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda a, x: a + x * x
    )
    pn = F.sqrt(ss(pre))
    return df.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        (F.round(pn, 6) + F.lit(0.0)).alias("prefix_norm"),
        (F.round(ss(pre) / ss(dv), 6) + F.lit(0.0)).alias("energy_ratio"),
        (
            F.round(
                F.when(
                    pn > 0,
                    F.aggregate(pre, F.lit(0.0), lambda a, x: a + x) / pn,
                ).otherwise(F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("renorm_checksum"),
    )


_MRL_ORACLE = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         list_transform(embedding[1:{MRL_DIMS}],
                        x -> CAST(x AS DOUBLE)) AS pre
  FROM embeddings
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(sqrt(list_dot_product(pre, pre)), 6) + 0.0 AS prefix_norm,
       round(list_dot_product(pre, pre) / list_dot_product(emb, emb), 6)
         + 0.0 AS energy_ratio,
       round(CASE WHEN sqrt(list_dot_product(pre, pre)) > 0
                  THEN list_sum(pre) / sqrt(list_dot_product(pre, pre))
                  ELSE 0.0 END, 6) + 0.0 AS renorm_checksum
FROM v ORDER BY 1
"""


@register("emb_truncate_renorm", oracle=_MRL_ORACLE, bench=True)
def q_truncate_renorm(spark, sf_dir):
    """Matryoshka 64->16 truncate + renormalize over the embeddings
    table: prefix norm, retained-energy ratio, renormalized checksum."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return truncate_renormalize(emb).orderBy("vec_id")


# -------------------------- 1-bit (sign) binarization + Hamming top-k

BIN_N_QUERIES = 4
BIN_TOP_K = 10


def sign_binarize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-bit quantization: the sign bit of each of the 64 coordinates,
    packed into two 32-bit halves carried as BIGINTs (no 1<<63 sign
    games in either engine). The extreme end of the quantization ladder
    (float -> int8 -> PQ -> 1 bit): 16 bytes of vector become 8, and
    similarity becomes two XOR+popcount ops — the cheapest possible
    candidate generator in front of an exact re-rank.

    Map-only; the packed signature is what shuffles, never the floats."""

    def pack(offset: int) -> F.Column:
        # SQL lambda: the Python F.shiftleft signature only takes a
        # literal bit count, but the SQL function accepts the lambda's
        # index variable
        return F.expr(
            f"aggregate(transform(slice({vec_col}, {offset + 1}, 32),"
            " (x, i) -> IF(CAST(x AS DOUBLE) >= 0.0D,"
            " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
            " CAST(0 AS BIGINT), (a, b) -> a + b)"
        )

    return df.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        pack(0).alias("sig_lo"),
        pack(32).alias("sig_hi"),
    )


def hamming_topk(
    corpus_sig: DataFrame, query_sig: DataFrame, k: int = BIN_TOP_K
) -> DataFrame:
    """Top-k by Hamming distance over packed sign signatures: broadcast
    the (small) query set, two xor+bit_count per candidate, per-query
    rank. Integer-only output — nothing to round."""
    q = query_sig.select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    scored = (
        corpus_sig.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("q_hi")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.col("hamming").cast("int").alias("hamming"),
        )
    )


_BINARY_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, g.i AS i, embedding[g.i] AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN i <= 32 AND x >= 0
                       THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN i > 32 AND x >= 0
                       THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END) AS BIGINT) AS hi
  FROM ex GROUP BY 1
),
q AS (SELECT * FROM sig WHERE vec_id < {BIN_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS ham
  FROM q, sig c WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, ham,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ham, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, CAST(ham AS INT) AS hamming
FROM ranked WHERE rank <= {BIN_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_binary_hamming_topk", oracle=_BINARY_ORACLE, bench=True)
def q_binary_hamming_topk(spark, sf_dir):
    """Hamming top-10 for the first 4 vectors over sign-binarized
    embeddings — the 1-bit end of the quantization ladder, certified
    bit-exact (integer-only output)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sig = sign_binarize(emb)
    return hamming_topk(sig, sig.filter(F.col("vec_id") < BIN_N_QUERIES)).orderBy(
        "query_id", "rank"
    )


# ------------------- per-dimension embedding health stats (exact nano)

def embedding_dim_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension mean/std of an embedding column — the feature-health
    report behind whitening decisions, dead-dimension detection (std≈0),
    and PCA/PQ preprocessing sanity ("is dimension 7 carrying 100x the
    variance"). Pairs with emb_centroid_drift: that tracks the corpus
    centroid over time, this profiles the geometry within one snapshot.

    Exactness: components are FLOORED to integer nano-units before any
    sum (the pq.py ADC discipline), so Σx and Σx² are exact integers
    (decimal(38) / HUGEINT — squares of nano-units overflow BIGINT) and
    mean/std are one deterministic double expression over identical
    operands in both engines. Engine-native stddev is a streaming
    co-moment — order-dependent — and would not certify.

    Scale shape: posexplode + one groupBy(dim) with map-side partials;
    output is exactly DIM rows at any corpus size."""
    e = df.select(F.posexplode(as_double_array(vec_col)).alias("dim", "__x"))
    nano = F.floor(F.col("__x") * F.lit(1e9)).cast("decimal(18,0)")
    agg = e.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(nano).alias("s"),
        F.sum(nano * nano).alias("ss"),
    )
    nD = F.col("n").cast("double")
    sD = F.col("s").cast("double")
    ssD = F.col("ss").cast("double")
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("long").alias("n"),
        (F.round(sD / nD / F.lit(1e9), 6) + F.lit(0.0)).alias("mean"),
        (
            F.round(F.sqrt(nD * ssD - sD * sD) / nD / F.lit(1e9), 6)
            + F.lit(0.0)
        ).alias("std"),
    )


_DIM_STATS_ORACLE = """
WITH e AS (
  SELECT g.i - 1 AS dim,
         CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1e9) AS HUGEINT) AS nano
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
agg AS (
  SELECT dim, count(*) AS n, sum(nano) AS s, sum(nano * nano) AS ss
  FROM e GROUP BY 1
)
SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
       round(s::DOUBLE / n::DOUBLE / 1e9, 6) + 0.0 AS mean,
       round(sqrt(n::DOUBLE * ss::DOUBLE - s::DOUBLE * s::DOUBLE)
             / n::DOUBLE / 1e9, 6) + 0.0 AS std
FROM agg ORDER BY 1
"""


@register("emb_dim_stats", oracle=_DIM_STATS_ORACLE, bench=True)
def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension mean/std profile of the embeddings table (exact
    integer-nano sufficient statistics, 64 output rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb).orderBy("dim")


# ------------------- frozen whitening (standardize on committed stats)

def whiten_frozen(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension standardization ``(x - mean) / std`` against the
    FROZEN corpus statistics (tools/freeze_whiten.py — computed with the
    certified ``emb_dim_stats`` integer-nano sums, committed as
    literals). Whitening is the preprocessing step that makes euclidean
    ANN and PCA behave when dimensions carry wildly different variance;
    freezing the stats is the production contract — the serving path
    must standardize with the TRAINING-time statistics, not the current
    batch's (train/serve skew otherwise). Completes the embedding
    preprocessing ladder: l2-normalize, PCA, int8, PQ, matryoshka,
    1-bit — and now whiten.

    Map-only (two zip_with against literal arrays); the certified
    outputs are each vector's whitened component-sum and norm via the
    same sequential fold the cosine family certifies (list_dot_product
    mirror)."""
    from machine_learning_with_spark_streaming_spark.functions.vectors import dot
    from machine_learning_with_spark_streaming_spark.functions.whiten_artifacts import (
        WHITEN_MEAN,
        WHITEN_STD,
    )

    m = F.array(*[F.lit(float(v)) for v in WHITEN_MEAN])
    s = F.array(*[F.lit(float(v)) for v in WHITEN_STD])
    w = F.zip_with(
        F.zip_with(as_double_array(vec_col), m, lambda x, mu: x - mu),
        s,
        lambda v, sd: v / sd,
    )
    ones = F.array(*[F.lit(1.0) for _ in WHITEN_MEAN])
    return df.select(
        "vec_id",
        (F.round(dot(w, ones), 6) + F.lit(0.0)).alias("w_sum"),
        (F.round(F.sqrt(dot(w, w)), 6) + F.lit(0.0)).alias("w_norm"),
    )


def _whiten_oracle() -> str:
    from machine_learning_with_spark_streaming_spark.functions.whiten_artifacts import (
        WHITEN_MEAN,
        WHITEN_STD,
    )

    dim = len(WHITEN_MEAN)
    m = "[" + ", ".join(repr(x) for x in WHITEN_MEAN) + "]"
    s = "[" + ", ".join(repr(x) for x in WHITEN_STD) + "]"
    ones = "[" + ", ".join("1.0" for _ in WHITEN_MEAN) + "]"
    return f"""
WITH consts AS (
  SELECT CAST({m} AS DOUBLE[]) AS m, CAST({s} AS DOUBLE[]) AS s
),
w AS (
  SELECT vec_id,
         list_transform(range(1, {dim + 1}),
           i -> (CAST(embedding[i] AS DOUBLE) - m[i]) / s[i]) AS wv
  FROM embeddings, consts
)
SELECT vec_id,
       round(list_dot_product(wv, CAST({ones} AS DOUBLE[])), 6) + 0.0 AS w_sum,
       round(sqrt(list_dot_product(wv, wv)), 6) + 0.0 AS w_norm
FROM w ORDER BY 1
"""


@register("emb_whiten_frozen", oracle=_whiten_oracle(), bench=True)
def q_whiten_frozen(spark, sf_dir):
    """Whitened-embedding summary per vector against the frozen
    training-time statistics (map-only; fold-certified sums)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return whiten_frozen(emb).orderBy("vec_id")
