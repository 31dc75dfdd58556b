"""Product-quantization ANN (PQ with asymmetric distance computation).

Jégou/Douze/Schmid 2011 ("Product Quantization for Nearest Neighbor
Search"): split each D-dim embedding into M contiguous subvectors,
vector-quantize every subspace against a K-entry codebook, and store
only the M small integer codes per vector. Serving computes the
query's M×K lookup table (exact distance from each query subvector to
every codebook cell) once, then scores any stored vector by summing M
table lookups — never touching the original floats.

This is the third leg of the engine's ANN scale story, next to the
sign-LSH bucket cut (`similarity.py`) and the IVF cell probe
(`ivf.py`), and the one that changes the STORAGE equation: at 100 TB
the float embeddings (64 dims × 4 B) compress to M = 8 one-byte codes
— a 32× smaller artifact that fits executor memory where the raw
vectors cannot, which is why every billion-scale ANN system (FAISS
IVFPQ et al.) serves from PQ codes.

Engine shape:

- ``pq_encode``: explode M subspaces (map-only ×M fanout), broadcast
  join the 128-row codebook, per-(vector, subspace) argmin via a
  keyed window — one shuffle of (id, m) rows, no corpus pairwise work.
  The codes table is the stored artifact, appended per ingest batch.
- ``pq_adc_topk``: the M×K LUT is computed from the query row and
  broadcast; scoring joins codes to the LUT on (m, code) and sums —
  map-side-combinable aggregation, then ``orderBy().limit(k)`` plans
  as TakeOrderedAndProject. Nothing corpus-sized is ever globally
  sorted or crossed.

Cross-engine determinism (the house recipe): the frozen codebook
(functions/pq_artifacts.py, 6 dp literals) makes every distance a pure
function of committed constants and exactly-widened floats, computed
as an explicitly ordered 8-term sum on both engines; LUT entries are
then floored to integer NANO-units **before** the cross-row ADC sum,
so the final score is an order-independent BIGINT sum — no float
accumulation across shuffle boundaries anywhere, no doubles in the
hashed output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.pq_artifacts import (
    PQ_CODEBOOK,
    PQ_K,
    PQ_M,
    PQ_SUBDIM,
)
from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

PQ_TOP_K = 10
PQ_QUERY_ID = 0
NANO = 1_000_000_000


def pq_codebook_df(spark: SparkSession) -> DataFrame:
    """The frozen codebook as a (m, code, centroid) relation — 128 rows,
    always broadcast."""
    rows = [
        (m, k, PQ_CODEBOOK[m][k]) for m in range(PQ_M) for k in range(PQ_K)
    ]
    return spark.createDataFrame(rows, "m int, code int, centroid array<double>")


def _sq_dist(sub: str, cent: str) -> Column:
    """Explicitly ordered squared L2 distance between two SUBDIM-element
    double arrays: term-by-term left-associated sum, mirrored verbatim
    in the oracle SQL so both engines produce bit-identical doubles."""
    def term(j: int) -> Column:
        d = F.element_at(F.col(sub), j) - F.element_at(F.col(cent), j)
        return d * d

    e = term(1)
    for j in range(2, PQ_SUBDIM + 1):
        e = e + term(j)
    return e


def pq_encode(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, m, code): the stored PQ code table. Ties in the argmin go to
    the lower code id — deterministic on any engine."""
    spark = vectors.sparkSession
    dim = PQ_M * PQ_SUBDIM
    # a NULL or wrong-dimension embedding would otherwise silently
    # encode to fabricated codes (NULL distances all tie -> code 0);
    # fail the job loudly instead — malformed vectors are an upstream
    # bug, not data to quantize. The assertion is threaded THROUGH the
    # kept column (assert_true returns NULL on success) so column
    # pruning cannot optimize it away.
    guard = F.assert_true(
        F.col("__raw").isNotNull() & (F.size("__raw") == dim),
        F.concat(
            F.lit(
                f"pq_encode: embedding must be a non-null {dim}-dim"
                " array; got size "
            ),
            F.coalesce(F.size("__raw").cast("string"), F.lit("NULL")),
            F.lit(" for id "),
            F.col("id").cast("string"),
        ),
    )
    v = vectors.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("__raw")
    ).select("id", F.when(guard.isNull(), F.col("__raw")).alias("__v"))
    sub = v.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        F.expr(f"slice(__v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("__s"),
    )
    dists = sub.join(F.broadcast(pq_codebook_df(spark)), "m").select(
        "id", "m", "code", _sq_dist("__s", "centroid").alias("__d")
    )
    w = Window.partitionBy("id", "m").orderBy("__d", "code")
    return (
        dists.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "m", "code")
    )


def pq_adc_topk(
    vectors: DataFrame,
    query_id: int = PQ_QUERY_ID,
    k: int = PQ_TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: query LUT in exact integer nano-units,
    ADC score = BIGINT sum of M lookups. Returns
    (rank, neighbor_id, adc_nano) ascending by approximate distance."""
    spark = vectors.sparkSession
    codes = pq_encode(vectors, id_col, vec_col)
    q = vectors.filter(F.col(id_col) == query_id).select(
        as_double_array(vec_col).alias("__q")
    )
    lut = (
        pq_codebook_df(spark)
        .crossJoin(F.broadcast(q))
        .select(
            "m",
            "code",
            F.expr(f"slice(__q, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("__qs"),
            "centroid",
        )
        .select(
            "m",
            "code",
            # floor to integer nano-units BEFORE the cross-row sum: the
            # ADC total becomes an order-independent exact BIGINT
            F.floor(_sq_dist("__qs", "centroid") * NANO)
            .cast("long")
            .alias("qd_nano"),
        )
    )
    scored = (
        codes.filter(F.col("id") != query_id)
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("id")
        .agg(F.sum("qd_nano").cast("long").alias("adc_nano"))
        .orderBy("adc_nano", "id")
        .limit(k)
    )
    # benign global window: ranks only the k post-limit survivors
    w = Window.orderBy("adc_nano", "id")
    return scored.select(
        F.row_number().over(w).cast("int").alias("rank"),
        F.col("id").alias("neighbor_id"),
        "adc_nano",
    )


def _codebook_values() -> str:
    rows = []
    for m in range(PQ_M):
        for kk in range(PQ_K):
            lit = "[" + ", ".join(repr(x) for x in PQ_CODEBOOK[m][kk]) + "]"
            rows.append(f"({m}, {kk}, CAST({lit} AS DOUBLE[]))")
    return ",\n  ".join(rows)


def _sq_dist_sql(sub: str, cent: str) -> str:
    terms = [
        f"({sub}[{j}] - {cent}[{j}]) * ({sub}[{j}] - {cent}[{j}])"
        for j in range(1, PQ_SUBDIM + 1)
    ]
    return " + ".join(terms)


_PQ_COMMON = f"""
cb(m, code, centroid) AS (VALUES
  {_codebook_values()}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
sub AS (
  SELECT v.vec_id, g.m,
         v.emb[g.m * {PQ_SUBDIM} + 1 : g.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS s
  FROM v, (SELECT unnest(range({PQ_M})) AS m) g
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT sub.vec_id, sub.m, cb.code,
           row_number() OVER (
             PARTITION BY sub.vec_id, sub.m
             ORDER BY {_sq_dist_sql('sub.s', 'cb.centroid')}, cb.code
           ) AS rn
    FROM sub JOIN cb ON cb.m = sub.m
  ) WHERE rn = 1
)"""


_PQ_CODES_ORACLE = f"""
WITH {_PQ_COMMON}
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(m AS INT) AS m,
       CAST(code AS INT) AS code
FROM codes ORDER BY vec_id, m
"""


_PQ_ADC_ORACLE = f"""
WITH {_PQ_COMMON},
q AS (SELECT emb AS qemb FROM v WHERE vec_id = {PQ_QUERY_ID}),
qsub AS (
  SELECT g.m, q.qemb[g.m * {PQ_SUBDIM} + 1 : g.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS qs
  FROM q, (SELECT unnest(range({PQ_M})) AS m) g
),
lut AS (
  SELECT cb.m, cb.code,
         CAST(floor(({_sq_dist_sql('qsub.qs', 'cb.centroid')}) * {NANO})
              AS BIGINT) AS qd_nano
  FROM cb JOIN qsub ON qsub.m = cb.m
),
scored AS (
  SELECT c.vec_id, SUM(l.qd_nano) AS adc_nano
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.vec_id <> {PQ_QUERY_ID}
  GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY adc_nano, vec_id) AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS neighbor_id,
       CAST(adc_nano AS BIGINT) AS adc_nano
FROM scored ORDER BY adc_nano, vec_id LIMIT {PQ_TOP_K}
"""


@register("sim_pq_codes", oracle=_PQ_CODES_ORACLE, bench=True)
def q_pq_codes(spark, sf_dir):
    """The full PQ code table — every (vector, subspace) argmin against
    the frozen codebook, certifying the encoder itself (not a summary:
    a swapped code anywhere changes a row)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        pq_encode(emb)
        .select(
            F.col("id").cast("long").alias("vec_id"),
            F.col("m").cast("int").alias("m"),
            F.col("code").cast("int").alias("code"),
        )
        .orderBy("vec_id", "m")
    )


@register("sim_pq_adc_topk", oracle=_PQ_ADC_ORACLE, bench=True)
def q_pq_adc_topk(spark, sf_dir):
    """PQ-ADC serving: top-10 approximate neighbors of vec_id 0 by
    summed integer-nano LUT distances — the 32×-compressed ANN path."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return pq_adc_topk(emb).orderBy("rank")


def ivfpq_topk(
    vectors: DataFrame,
    query_id: int = PQ_QUERY_ID,
    k: int = PQ_TOP_K,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the FAISS IVFPQ serving composition — IVF cell pruning
    *then* PQ-ADC scoring, the shape a billion-vector deployment
    actually runs. The inverted index bounds how many code rows the
    query touches (read only ``nprobe`` cells' postings); PQ bounds the
    bytes per touched row (M codes, not D floats). Both component
    artifacts are the engine's certified frozen quantizers (IVF
    centroids in ``functions/artifacts.py``, the PQ codebook in
    ``functions/pq_artifacts.py``).

    Plan shape: the cell assignment and the code table are both
    write-time artifacts at scale (corpus stored partitioned by cell,
    codes alongside); serving is a broadcast of the probed cell ids +
    the M×K integer-nano LUT, a semi-join-shaped cell filter, and the
    map-side-combinable BIGINT ADC sum from :func:`pq_adc_topk`.

    Returns (rank, neighbor_id, adc_nano) like ``pq_adc_topk`` —
    identical up to candidates lost to cell pruning (recall follows
    nprobe/k_cells; measure with the same two-arm report as
    ``sim_ann_recall``)."""
    from machine_learning_with_spark_streaming_spark.functions.vectors import (
        cosine_similarity as _cos,
    )
    from machine_learning_with_spark_streaming_spark.operators.ivf import (
        assign_cells,
        pretrained_centroids,
    )

    spark = vectors.sparkSession
    assigned = assign_cells(vectors, id_col, vec_col).select("id", "cell")
    # probe the query's nprobe nearest IVF cells (same rule as
    # ivf_topk_pretrained, reusing its frozen centroids)
    q = vectors.filter(F.col(id_col) == query_id).select(
        as_double_array(vec_col).alias("__q")
    )
    probed = (
        pretrained_centroids(spark)
        .crossJoin(F.broadcast(q))
        .withColumn("sim", _cos(F.col("__q"), F.col("centroid")))
        .orderBy(F.desc("sim"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    candidates = assigned.join(F.broadcast(probed), "cell").select("id")
    pruned = vectors.join(
        F.broadcast(candidates.withColumnRenamed("id", id_col)), id_col
    )
    return pq_adc_topk(pruned, query_id, k, id_col, vec_col)


def pq_adc_topk_many(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = PQ_TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-query ADC serving: one LUT per query (|queries|·M·K rows,
    broadcast — queries arrive in request-sized batches), one join
    against the stored code table, per-query BIGINT top-k. This is the
    per-micro-batch body of online PQ retrieval: the code table is the
    static index, every query is answered within its batch, no state.

    Returns (query_id, rank, neighbor_id, adc_nano); self-matches are
    excluded."""
    spark = vectors.sparkSession
    codes = pq_encode(vectors, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("__q")
    )
    lut = (
        pq_codebook_df(spark)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "m",
            "code",
            F.expr(f"slice(__q, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias(
                "__qs"
            ),
            "centroid",
        )
        .select(
            "query_id",
            "m",
            "code",
            F.floor(_sq_dist("__qs", "centroid") * NANO)
            .cast("long")
            .alias("qd_nano"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.sum("qd_nano").cast("long").alias("adc_nano"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_nano", "id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("id").alias("neighbor_id"),
            "adc_nano",
        )
    )


PQ_MANY_N_QUERIES = 4


_PQ_ADC_MANY_ORACLE = f"""
WITH {_PQ_COMMON},
q AS (
  SELECT vec_id AS query_id, emb AS qemb FROM v
  WHERE vec_id < {PQ_MANY_N_QUERIES}
),
qsub AS (
  SELECT q.query_id, g.m,
         q.qemb[g.m * {PQ_SUBDIM} + 1 : g.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS qs
  FROM q, (SELECT unnest(range({PQ_M})) AS m) g
),
lut AS (
  SELECT qsub.query_id, cb.m, cb.code,
         CAST(floor(({_sq_dist_sql('qsub.qs', 'cb.centroid')}) * {NANO})
              AS BIGINT) AS qd_nano
  FROM cb JOIN qsub ON qsub.m = cb.m
),
scored AS (
  SELECT l.query_id, c.vec_id, SUM(l.qd_nano) AS adc_nano
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, vec_id, adc_nano,
         row_number() OVER (
           PARTITION BY query_id ORDER BY adc_nano, vec_id
         ) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS neighbor_id, CAST(adc_nano AS BIGINT) AS adc_nano
FROM ranked WHERE rank <= {PQ_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_pq_adc_topk_many", oracle=_PQ_ADC_MANY_ORACLE, bench=True)
def q_pq_adc_topk_many(spark, sf_dir):
    """Batched PQ-ADC serving: vec_ids 0..3 as one request batch, each
    answered top-10 from the shared code table — the per-micro-batch
    body of online PQ retrieval (one broadcast LUT per batch, single
    code-table join, per-query BIGINT top-k). Oracle replays the
    certified single-query ADC math per query."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = emb.filter(F.col("vec_id") < PQ_MANY_N_QUERIES)
    return (
        pq_adc_topk_many(emb, qs)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "rank",
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            "adc_nano",
        )
        .orderBy("query_id", "rank")
    )


def _ivf_centroid_values() -> str:
    from machine_learning_with_spark_streaming_spark.functions.artifacts import IVF_CENTROIDS

    rows = []
    for i, c in enumerate(IVF_CENTROIDS):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        rows.append(f"({i}, CAST({lit} AS DOUBLE[]))")
    return ",\n  ".join(rows)


_DOT64 = " + ".join(f"({{a}}[{j}] * {{b}}[{j}])" for j in range(1, 65))


def _cos64(a: str, b: str) -> str:
    return (
        f"({_DOT64.format(a=a, b=b)}) / "
        f"(sqrt({_DOT64.format(a=a, b=a)}) * sqrt({_DOT64.format(a=b, b=b)}))"
    )


_IVFPQ_NPROBE = 2

_IVFPQ_ORACLE = f"""
WITH {_PQ_COMMON},
ivf(cell, centroid) AS (VALUES
  {_ivf_centroid_values()}
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, i.cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cos64('v.emb', 'i.centroid')} DESC, i.cell
           ) AS rn
    FROM v CROSS JOIN ivf i
  ) WHERE rn = 1
),
q AS (SELECT emb AS qemb FROM v WHERE vec_id = {PQ_QUERY_ID}),
probed AS (
  SELECT i.cell FROM ivf i CROSS JOIN q
  ORDER BY {_cos64('q.qemb', 'i.centroid')} DESC, i.cell
  LIMIT {_IVFPQ_NPROBE}
),
qsub AS (
  SELECT g.m, q.qemb[g.m * {PQ_SUBDIM} + 1 : g.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS qs
  FROM q, (SELECT unnest(range({PQ_M})) AS m) g
),
lut AS (
  SELECT cb.m, cb.code,
         CAST(floor(({_sq_dist_sql('qsub.qs', 'cb.centroid')}) * {NANO})
              AS BIGINT) AS qd_nano
  FROM cb JOIN qsub ON qsub.m = cb.m
),
cand AS (
  SELECT a.vec_id FROM assigned a JOIN probed p ON p.cell = a.cell
  WHERE a.vec_id <> {PQ_QUERY_ID}
),
scored AS (
  SELECT c.vec_id, SUM(l.qd_nano) AS adc_nano
  FROM codes c
  JOIN cand ON cand.vec_id = c.vec_id
  JOIN lut l ON l.m = c.m AND l.code = c.code
  GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY adc_nano, vec_id) AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS neighbor_id,
       CAST(adc_nano AS BIGINT) AS adc_nano
FROM scored ORDER BY adc_nano, vec_id LIMIT {PQ_TOP_K}
"""


@register("sim_ivfpq_topk", oracle=_IVFPQ_ORACLE, bench=True)
def q_ivfpq_topk(spark, sf_dir):
    """The full IVF-PQ serving composition under the driver's hash
    gate: probe the query's {nprobe} frozen-IVF cells, prune candidates
    to their members, score with the integer-nano PQ LUT — both
    quantizer artifacts replayed verbatim by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ivfpq_topk(emb, nprobe=_IVFPQ_NPROBE).orderBy("rank")
