"""IVF (inverted-file) approximate nearest neighbor over embeddings.

The classic two-level ANN: a coarse quantizer (KMeans centroids)
partitions the corpus into cells; a query probes only its ``nprobe``
nearest cells and ranks candidates exactly. Complements the sign-LSH
variant (operators/similarity.py) — IVF adapts to the data distribution
where LSH is data-independent.

Scale shape: the centroid table is tiny (k rows — broadcast); corpus
cell assignment is executor-parallel arithmetic; the candidate join is
an equi-join on cell id, so a query touches ``nprobe/k`` of the corpus
instead of all of it. At 100 TB the corpus would be *stored* partitioned
by cell id, making the probe a partition-pruned scan.

Two paths:

- ``build_ivf_index``/``ivf_topk`` — the training path: fit the KMeans
  quantizer on the corpus (MLlib), then assign/probe. Recall floors and
  duplicate-recovery are asserted in tests/test_llm_data_ops.py.
- ``ivf_topk_pretrained`` — the serving path and the registered query:
  the quantizer is the frozen artifact ``IVF_CENTROIDS`` (fit once on
  sf0.01, committed — production IVF ships a trained quantizer rather
  than refitting per query). Cell assignment = argmax cosine against the
  literal centroid table, which is plain arithmetic both engines can run:
  the DuckDB oracle embeds the same literals, making the full
  assign→probe→rank pipeline hash-checkable (no longer rows-only).
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.artifacts import IVF_CENTROIDS
from machine_learning_with_spark_streaming_spark.functions.vectors import (
    as_double_array,
    cosine_similarity,
)
from machine_learning_with_spark_streaming_spark.operators.similarity import (
    TOP_K,
    N_QUERIES,
    topk_cosine,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

N_CELLS = 16
N_PROBE = 2


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    seed: int = 42,
):
    """Fit the coarse quantizer and assign every corpus vector a cell.

    Returns (assigned_corpus, centroids_df); centroids_df has
    (cell, centroid: array<double>) — k rows, always broadcastable.
    """
    vec = corpus.withColumn("__v", array_to_vector(as_double_array(vec_col)))
    km = KMeans(k=n_cells, seed=seed, featuresCol="__v", predictionCol="cell")
    model = km.fit(vec)
    assigned = model.transform(vec).select(
        F.col(id_col).alias("id"),
        as_double_array(vec_col).alias("v"),
        F.col("cell").cast("int").alias("cell"),
    )
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """ANN top-k: probe the query's ``nprobe`` nearest cells, rank
    candidates by exact cosine."""
    assigned, centroids = build_ivf_index(corpus, id_col, vec_col, n_cells)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    # nearest nprobe centroids per query: k-row broadcast cross join
    qc = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("sim", cosine_similarity(F.col("qv"), F.col("centroid")))
        .withColumn(
            "cr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
            ),
        )
        .filter(F.col("cr") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        assigned.join(qc, "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cos", 6).alias("cos"),
        )
    )


# ------------------------------------------------- pretrained (serving) path


def pretrained_centroids(spark: SparkSession) -> DataFrame:
    """The frozen quantizer as a k-row DataFrame (cell, centroid)."""
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(IVF_CENTROIDS)],
        "cell int, centroid array<double>",
    )


def argmax_assign(
    corpus: DataFrame,
    centroid_rows: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    sim_col: str | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """Nearest-frozen-centroid assignment by cosine (argmax, ties to the
    lowest index) as a MAP-ONLY Arrow/numpy stage: no join, no window,
    no shuffle. At 100 TB this runs at *write* time and the corpus is
    stored partitioned by cell.

    Why Arrow/numpy and not column expressions — all three JVM-side
    shapes were built and measured on the 64x-facts stress corpus
    (320k vectors):

    - broadcast crossJoin + row_number window: shuffles k·|corpus|
      rows on |corpus| keys to take a per-row argmax — 35.8 s;
    - k sibling cosines + greatest + CASE: projection collapse
      duplicates each cosine tree ~k times — optimizer hang;
    - transform over a literal centroid array: higher-order-function
      lambdas evaluate INTERPRETED per row — 107 s.

    Dense fixed-k linear algebra is exactly the shape Arrow-batched
    numpy exists for (the codecs/packing precedent): vectorized C
    compute, zero shuffle, ~20x the best JVM form here (3.08 s).

    Exactness contract: the accumulation loops run IN DIMENSION ORDER
    (``acc += x_i * c_i`` from i=0), so every dot, norm and cosine is
    IEEE-bit-identical to the engine's sequential zip_with/aggregate
    fold AND the oracles' list_dot_product; ``argmax`` takes the first
    maximum, matching the oracles' row_number ORDER BY cos DESC, cell
    ASC tie rule. A row whose cosines are all undefined (zero vector)
    assigns to cell 0 with a NULL similarity — same as the window
    form's NULL ordering.

    ``sim_col`` additionally emits the winning cosine (unrounded), for
    consumers like SemDeDup that rank on centroid similarity.
    ``norm_col`` emits the row's own L2 norm (the dim-order ``sqrt``
    fold) — at 100 TB the norm is a write-time property stored next to
    the cell id, so the probe's exact rescore never recomputes it
    (see ``exact_rescore``).

    A row containing a NULL/NaN element is treated exactly like the
    zero vector (cell 0, NULL similarity, norm 0): the JVM fold turns
    a NULL element into a NULL dot for every centroid, and the window
    form then assigns NULL-ordered-last — without this mask numpy
    would instead propagate NaN into ``sim_col``, a NaN-vs-NULL
    cross-engine divergence."""
    import numpy as np
    import pandas as pd

    cents = [[float(x) for x in c] for c in centroid_rows]
    dim, k = len(cents[0]), len(cents)
    c_by_dim = [[c[i] for c in cents] for i in range(dim)]  # dim x k
    c_norm = []
    for c in cents:
        s = 0.0
        for x in c:
            s += x * x
        c_norm.append(s**0.5)

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, v array<double>, {cell_col} int"
    if sim_col:
        out_schema += f", {sim_col} double"
    if norm_col:
        out_schema += f", {norm_col} double"

    def _assign(batches):
        cn = np.array(c_norm)
        cd = [np.array(row) for row in c_by_dim]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.array(
                [
                    r if r is not None and len(r) == dim else [0.0] * dim
                    for r in pdf[vec_col]
                ],
                dtype=np.float64,
            )
            bad = ~np.isfinite(V).all(axis=1)
            if bad.any():  # NULL/NaN element -> zero-vector semantics
                V[bad] = 0.0
            dots = np.zeros((n, k))
            vn = np.zeros(n)
            for i in range(dim):  # dim-order accumulation = the JVM fold
                xi = V[:, i]
                vn += xi * xi
                dots += xi[:, None] * cd[i][None, :]
            vn = np.sqrt(vn)
            denom = vn[:, None] * cn[None, :]
            ok = denom != 0.0
            sims = np.where(ok, dots / np.where(ok, denom, 1.0), -np.inf)
            any_ok = ok.any(axis=1)
            cell = np.where(any_ok, np.argmax(sims, axis=1), 0).astype(
                "int32"
            )
            out = {"id": pdf[id_col], "v": list(V), cell_col: cell}
            if sim_col:
                best = sims[np.arange(n), cell]
                out[sim_col] = (
                    pd.Series(best).astype("Float64").mask(~any_ok, pd.NA)
                )
            if norm_col:
                out[norm_col] = vn
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col).mapInPandas(_assign, out_schema)


def assign_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> DataFrame:
    """IVF cell assignment against the frozen 16-centroid quantizer —
    see ``argmax_assign`` for the shape and exactness contract."""
    return argmax_assign(corpus, IVF_CENTROIDS, id_col, vec_col, norm_col=norm_col)


def exact_rescore(
    cand: DataFrame,
    keep_cols: list,
    dim: int,
    q_col: str = "qv",
    v_col: str = "v",
    vnorm_col: str | None = None,
    out_col: str = "cos",
) -> DataFrame:
    """Exact cosine over (query, candidate) pairs as a MAP-ONLY
    Arrow/numpy stage — the scale-safe replacement for a per-candidate
    ``zip_with``+``aggregate`` fold, which evaluates INTERPRETED per row
    (the anti-pattern measured in ``argmax_assign``'s docstring) over a
    candidate volume that grows linearly with the corpus.

    Exactness contract (same as ``argmax_assign``): dots and norms
    accumulate IN DIMENSION ORDER, so every value is IEEE-bit-identical
    to the engine's sequential fold and the oracles' list_dot_product.
    ``vnorm_col`` supplies the candidate-side norm precomputed at
    assignment/write time (a write-time property of the stored corpus at
    100 TB); the query-side norm is recomputed per pair — vectorized C,
    and bit-equal to the fold either way. A pair with a missing/
    wrong-length/non-finite vector, or a zero norm, yields NULL (the
    engine-NULL contract the assignment stage documents).

    Emits ``keep_cols`` + ``out_col`` only: vectors never leave the
    stage, so nothing downstream shuffles embeddings."""
    import numpy as np
    import pandas as pd

    fields = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in keep_cols] + [f"{out_col} double"]
    )
    sel_cols = list(keep_cols) + [q_col, v_col] + ([vnorm_col] if vnorm_col else [])

    def _mat(series, n):
        bad = np.zeros(n, dtype=bool)
        rows = []
        for j, r in enumerate(series):
            if r is None or len(r) != dim:
                bad[j] = True
                rows.append([0.0] * dim)
            else:
                rows.append(r)
        M = np.array(rows, dtype=np.float64)
        bad |= ~np.isfinite(M).all(axis=1)
        M[bad] = 0.0
        return M, bad

    def _rescore(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            Q, qbad = _mat(pdf[q_col], n)
            V, vbad = _mat(pdf[v_col], n)
            dots = np.zeros(n)
            qn = np.zeros(n)
            if vnorm_col:
                vn = pdf[vnorm_col].to_numpy(dtype=np.float64, na_value=0.0)
                for i in range(dim):  # dim-order accumulation = the fold
                    qi = Q[:, i]
                    qn += qi * qi
                    dots += qi * V[:, i]
            else:
                vn = np.zeros(n)
                for i in range(dim):
                    qi, vi = Q[:, i], V[:, i]
                    qn += qi * qi
                    vn += vi * vi
                    dots += qi * vi
                vn = np.sqrt(vn)
            qn = np.sqrt(qn)
            denom = qn * vn
            ok = (denom != 0.0) & ~qbad & ~vbad
            cos = dots / np.where(ok, denom, 1.0)
            out = {c: pdf[c] for c in keep_cols}
            out[out_col] = pd.Series(cos).astype("Float64").mask(~ok, pd.NA)
            yield pd.DataFrame(out)

    return cand.select(*sel_cols).mapInPandas(_rescore, out_schema)


def probe_cells_for(
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Per query, its ``nprobe`` nearest frozen cells:
    (query_id, qv, cell). A k-row broadcast cross join — the probe-side
    planning step of IVF serving."""
    cent = pretrained_centroids(queries.sparkSession)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .withColumn("sim", cosine_similarity(F.col("qv"), F.col("centroid")))
        .withColumn(
            "cr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
            ),
        )
        .filter(F.col("cr") <= nprobe)
        .select("query_id", "qv", "cell")
    )


def ivf_topk_pretrained(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = N_PROBE,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k against the frozen quantizer: probe the query's
    ``nprobe`` nearest cells, rank candidates by exact cosine.

    ``assigned`` supplies a pre-assigned corpus (id, v, cell, vnorm) —
    the stored cell-partitioned table a 100 TB deployment writes at
    ingest (see ``ensure_cell_store``); by default assignment runs
    inline. The exact rescore is the Arrow/numpy ``exact_rescore``
    stage: the former per-candidate ``zip_with``+``aggregate`` cosine
    evaluated interpreted per row and recomputed ``norm(qv)`` per
    candidate (8.1x at 64x facts — the worst stress ratio recorded in
    r9); candidate-side norms now ride precomputed from assignment."""
    if assigned is None:
        assigned = assign_cells(corpus, id_col, vec_col, norm_col="vnorm")
    qc = probe_cells_for(queries, id_col, vec_col, nprobe)
    cand = (
        assigned.join(qc, "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"), "qv", "v", "vnorm")
    )
    scored = exact_rescore(
        cand,
        keep_cols=["query_id", "neighbor_id"],
        dim=len(IVF_CENTROIDS[0]),
        vnorm_col="vnorm",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cos", 6).alias("cos"),
        )
    )


# ----------------------------------------------------------------- oracle

_DOTD = "list_dot_product({a}, {b})"


def _cosd(a: str, b: str) -> str:
    return (
        f"{_DOTD.format(a=a, b=b)} / "
        f"(sqrt({_DOTD.format(a=a, b=a)}) * sqrt({_DOTD.format(a=b, b=b)}))"
    )


def _centroid_values() -> str:
    rows = []
    for i, c in enumerate(IVF_CENTROIDS):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        rows.append(f"({i}, CAST({lit} AS DOUBLE[]))")
    return ",\n  ".join(rows)


_IVF_ORACLE = f"""
WITH centroids(cell, centroid) AS (VALUES
  {_centroid_values()}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
assigned AS (
  SELECT vec_id, emb, cell FROM (
    SELECT v.vec_id, v.emb, c.cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosd('v.emb', 'c.centroid')} DESC, c.cell
           ) AS rn
    FROM v CROSS JOIN centroids c
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, emb AS qv, cell FROM (
    SELECT v.vec_id, v.emb, c.cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosd('v.emb', 'c.centroid')} DESC, c.cell
           ) AS cr
    FROM v CROSS JOIN centroids c
    WHERE v.vec_id < {N_QUERIES}
  ) WHERE cr <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {_cosd('p.qv', 'a.emb')} AS cos
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
ranked AS (
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


@register("sim_topk_ivf", oracle=_IVF_ORACLE)
def q_ivf_topk(spark, sf_dir):
    """IVF ANN top-5 for the first 8 vectors (nprobe=2 of 16 frozen
    cells); quantizer = committed ``IVF_CENTROIDS`` artifact, mirrored
    as literals in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_pretrained(emb, emb.filter(F.col("vec_id") < N_QUERIES)).orderBy(
        "query_id", "rank"
    )


# ------------------------------------- stored, cell-partitioned serving

IVF_STORE_ROOT = "/tmp/mlwss_ivf_store"


def ensure_cell_store(
    spark: SparkSession,
    sf_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Materialize (once) the embeddings table assigned and STORED
    partitioned by cell, with the per-row norm as a write-time column —
    the ingest-side layout the IVF serving path reads at 100 TB.
    Rebuilds only when the source parquet is newer than the store
    (assignment is a write-time property, not a query-time one)."""
    import os

    base = os.path.basename(sf_dir.rstrip("/")) or "default"
    path = os.path.join(IVF_STORE_ROOT, base)
    marker = os.path.join(path, "_BUILT")
    src = os.path.join(sf_dir, "embeddings.parquet")
    src_mtime = os.path.getmtime(src)
    if os.path.isdir(src):
        for f in os.listdir(src):
            src_mtime = max(src_mtime, os.path.getmtime(os.path.join(src, f)))
    if os.path.exists(marker) and os.path.getmtime(marker) >= src_mtime:
        return path
    emb = load_table(spark, sf_dir, "embeddings")
    assign_cells(emb, id_col, vec_col, norm_col="vnorm").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    with open(marker, "w") as fh:
        fh.write("built\n")
    return path


@register("sim_topk_ivf_stored", oracle=_IVF_ORACLE)
def q_ivf_topk_stored(spark, sf_dir):
    """The IVF serving path as a 100 TB deployment actually runs it:
    the corpus is pre-assigned at WRITE time and stored partitioned by
    cell with its norm column (``ensure_cell_store``); the query
    computes its probe cells (a ≤ nprobe·|queries| driver-side list —
    query planning, not data movement) and reads ONLY those partitions
    (static PartitionFilters, plan-asserted in tests/test_round10_ops),
    then ranks via the Arrow exact rescore. Same oracle as
    ``sim_topk_ivf`` — identical results, pruned scan."""
    path = ensure_cell_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cells = sorted(
        r["cell"]
        for r in probe_cells_for(queries).select("cell").distinct().collect()
    )
    assigned = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    return ivf_topk_pretrained(emb, queries, assigned=assigned).orderBy(
        "query_id", "rank"
    )


# ------------------------------------------------- index-quality evaluation

def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Recall@k of the IVF ANN path against exact brute-force cosine,
    per query vector — the in-engine eval loop for tuning ``nprobe`` /
    ``n_cells`` (standard ANN methodology: recall@k = |approx ∩ exact|/k;
    e.g. the public ann-benchmarks protocol and the IVF analysis in
    Jégou et al., "Product Quantization for Nearest Neighbor Search").

    Both arms are the already-certified operators; the report is a
    (query_id, neighbor_id) set intersection — a left join from the
    exact arm and a non-null count. At 100 TB this runs on a sampled
    query set: the brute-force arm is the expensive one and its cost is
    |queries| × corpus, so recall is estimated from hundreds of queries,
    never the full corpus (the corpus-side scans stay partition-parallel
    and the query side stays broadcast in both arms).
    """
    brute = topk_cosine(
        corpus, queries, k, id_col, vec_col, dim=len(IVF_CENTROIDS[0])
    )
    approx = ivf_topk_pretrained(corpus, queries, k, id_col, vec_col, nprobe)
    return (
        brute.alias("b")
        .join(
            approx.alias("a"),
            (F.col("b.query_id") == F.col("a.query_id"))
            & (F.col("b.neighbor_id") == F.col("a.neighbor_id")),
            "left",
        )
        .groupBy(F.col("b.query_id").alias("query_id"))
        .agg(F.count(F.col("a.neighbor_id")).alias("__hits"))
        .select(
            "query_id",
            F.col("__hits").cast("int").alias("n_hits"),
            F.round(F.col("__hits") / F.lit(k), 4).alias(f"recall_at_{k}"),
        )
    )


def _recall_oracle() -> str:
    from machine_learning_with_spark_streaming_spark.operators.similarity import (
        _TOPK_ORACLE,
    )

    return f"""
WITH brute AS (SELECT query_id, neighbor_id FROM ({_TOPK_ORACLE})),
ivf AS (SELECT query_id, neighbor_id FROM ({_IVF_ORACLE}))
SELECT CAST(b.query_id AS BIGINT) AS query_id,
       CAST(count(i.neighbor_id) AS INT) AS n_hits,
       round(count(i.neighbor_id) / CAST({TOP_K} AS DOUBLE), 4)
         AS recall_at_{TOP_K}
FROM brute b
LEFT JOIN ivf i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY 1
ORDER BY 1
"""


@register("sim_ann_recall", oracle=_recall_oracle())
def q_ann_recall(spark, sf_dir):
    """Recall@5 of IVF (nprobe=2/16) vs exact cosine for the 8 probe
    queries; both arms reuse their certified operator plans."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_recall_report(emb, emb.filter(F.col("vec_id") < N_QUERIES)).orderBy(
        "query_id"
    )


# ------------------------------------------------- SemDeDup semantic dedup

SEMDEDUP_THRESHOLD = 0.95


def semdedup(
    corpus: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    with a frozen k-means quantizer, compare pairs ONLY within a
    cluster, and inside every ε-ball of cosine ≥ ``threshold`` keep the
    member farthest from its centroid (the paper's keep policy — the
    extreme point carries more signal than the cluster-typical one).

    Keep rule, made deterministic: a vector is DROPPED iff some
    same-cluster vector within the threshold has strictly lower
    centroid-similarity (tie → lower id). Within any duplicate group the
    unique (centroid_sim, id)-minimum survives.

    Scale shape: assignment is a broadcast argmax against k literal
    centroid rows (same plan as the IVF cell assign); the pairwise stage
    is a cluster equi-join, never a corpus cross product. Its cost is
    Σ cluster_size² — the paper sizes k so clusters stay bounded
    (k ≈ n/10³-10⁴; the 4-centroid artifact here is demo-scale), and the
    within-cluster join composes with the sign-LSH bucket cut from
    ``cosine_dup_pairs`` when clusters are still too large.

    Returns (id, cluster, centroid_sim, keep:int) for every input row —
    the full annotation, so downstream can filter ``keep = 1`` or audit
    the drops.
    """
    from machine_learning_with_spark_streaming_spark.functions.ml_artifacts import (
        KMEANS_CENTROIDS,
    )

    # `centroids` overrides the frozen demo artifact — the production
    # path, where k scales with the corpus (k ≈ n/10³-10⁴) to keep ball
    # sizes bounded. Frozen-artifact centroids (a plain Python list, or
    # the default) take the shared Arrow/numpy argmax (argmax_assign);
    # a DataFrame of centroids keeps the broadcast crossJoin +
    # row_number form because its rows are not plan literals.
    if centroids is None or isinstance(centroids, (list, tuple)):
        # Round-robin rebalance BEFORE the persist: the map-only Arrow
        # assignment inherits the file scan's partitioning (often 1-2
        # files at small SF), and the downstream pair join broadcasts
        # its b-side — so without this the quadratic within-ball cosine
        # filter would run on as few cores as the corpus has input
        # files (measured: 3.9 s vs 2.3 s at sf0.1 on local[32]). The
        # JVM-centroids branch below gets the same effect for free from
        # its window exchange. Balanced round-robin beats hash-on-
        # cluster here: the b-side is broadcast, so the a-side needs no
        # co-location, and skewed balls can't pile onto one partition.
        spark = corpus.sparkSession
        assigned = (
            argmax_assign(
                corpus,
                KMEANS_CENTROIDS if centroids is None else list(centroids),
                id_col,
                vec_col,
                cell_col="cluster",
                sim_col="csim",
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .select("id", F.col("v").alias("__v"), "cluster", "csim")
        )
    else:
        v = corpus.select(
            F.col(id_col).alias("id"), as_double_array(vec_col).alias("__v")
        )
        assigned = (
            v.crossJoin(F.broadcast(centroids))
            .withColumn(
                "csim", cosine_similarity(F.col("__v"), F.col("centroid"))
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.desc("csim"), F.asc("cluster")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("id", "__v", "cluster", "csim")
        )
    # three consumers (both sides of the pair join + the final annotate):
    # persist so the broadcast-argmax assignment scans the corpus once
    # (cluster-scale analog: materialize the assignment as a table
    # partitioned by cluster, same as the IVF cell layout)
    from pyspark.storagelevel import StorageLevel

    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = assigned.alias("a"), assigned.alias("b")
    losers = (
        a.join(b, "cluster")
        .filter(F.col("a.id") != F.col("b.id"))
        .filter(cosine_similarity(F.col("a.__v"), F.col("b.__v")) >= threshold)
        .filter(
            (F.col("a.csim") > F.col("b.csim"))
            | ((F.col("a.csim") == F.col("b.csim")) & (F.col("a.id") > F.col("b.id")))
        )
        .select(F.col("a.id").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return (
        assigned.join(losers, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.round("csim", 6).alias("centroid_sim"),
            F.when(F.col("__drop").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
        )
    )


def _centroid_values(centroids: list[list[float]]) -> str:
    rows = []
    for i, c in enumerate(centroids):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        rows.append(f"({i}, CAST({lit} AS DOUBLE[]))")
    return ",\n  ".join(rows)


def _semdedup_oracle(centroid_values: str) -> str:
    from machine_learning_with_spark_streaming_spark.operators.similarity import (
        _DUP_CORPUS_SQL,
    )

    return f"""
WITH {_DUP_CORPUS_SQL},
kcent(cluster, centroid) AS (VALUES
  {centroid_values}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM corpus
),
assigned AS (
  SELECT vec_id, emb, cluster, csim FROM (
    SELECT v.vec_id, v.emb, c.cluster,
           {_cosd('v.emb', 'c.centroid')} AS csim,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosd('v.emb', 'c.centroid')} DESC, c.cluster
           ) AS rn
    FROM v CROSS JOIN kcent c
  ) WHERE rn = 1
),
losers AS (
  SELECT DISTINCT a.vec_id FROM assigned a
  JOIN assigned b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
  WHERE {_cosd('a.emb', 'b.emb')} >= {SEMDEDUP_THRESHOLD}
    AND (a.csim > b.csim OR (a.csim = b.csim AND a.vec_id > b.vec_id))
)
SELECT CAST(a.vec_id AS BIGINT) AS vec_id, CAST(a.cluster AS INT) AS cluster,
       round(a.csim, 6) AS centroid_sim,
       CAST(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
FROM assigned a LEFT JOIN losers l ON l.vec_id = a.vec_id
ORDER BY 1
"""


def _semdedup_k32_oracle() -> str:
    from machine_learning_with_spark_streaming_spark.functions.kmeans32_artifacts import (
        KMEANS32_CENTROIDS,
    )

    return _semdedup_oracle(_centroid_values(KMEANS32_CENTROIDS))


@register("dedup_semantic_k32", oracle=_semdedup_k32_oracle())
def q_semdedup_k32(spark, sf_dir):
    """SemDeDup in its k ∝ corpus scale form: the frozen 32-centroid
    quantizer (tools/freeze_kmeans32.py, mirrored as oracle literals)
    bounds the within-cluster pair join at Σ cluster_size² with mean
    ball ≈ n/32, where the 4-centroid demo artifact left it quadratic
    in the corpus (the r6 stress sweep's sole superlinear outlier,
    86 s at 16x). Same operator, same keep policy — only the quantizer
    artifact differs, which is exactly SemDeDup's documented scale lever
    (k ≈ n/10³-10⁴; Abbas et al. 2023 §3)."""
    from machine_learning_with_spark_streaming_spark.functions.kmeans32_artifacts import (
        KMEANS32_CENTROIDS,
    )
    from machine_learning_with_spark_streaming_spark.operators.similarity import (
        embeddings_with_duplicates,
    )

    corpus = embeddings_with_duplicates(spark, sf_dir)
    return semdedup(corpus, centroids=KMEANS32_CENTROIDS).orderBy("vec_id")


def score_all_queries(
    corpus: DataFrame,
    query_rows: list,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cos",
) -> DataFrame:
    """Every (corpus row, query) cosine as ONE map-only Arrow/numpy pass
    over the corpus — ``argmax_assign``'s shape emitting the full score
    matrix instead of the argmax.

    This is the brute-force-scoring twin of ``exact_rescore`` for the
    case where the query side is a small literal (the frozen-artifact
    pattern: probe queries are collected once at plan time, exactly as
    ``ivf_topk_pretrained`` computes its probe cells driver-side). The
    pair-table form serializes BOTH vectors per pair through Arrow —
    |queries|x the corpus bytes — which at sf0.1 cost more in transfer
    than the interpreted fold it replaced (measured: sim_topk_cosine
    1.47 s -> 3.54 s); this form ships the corpus bytes ONCE and pays
    an n x |queries| x dim fused-numpy loop, winning at both scales.

    Exactness contract = ``argmax_assign``: dimension-order
    accumulation for dots and norms (bit-identical to the JVM fold and
    list_dot_product); zero/NULL-element/wrong-length vectors on either
    side yield NULL cosines.

    ``query_rows``: [(query_id, [float, ...]), ...].
    """
    import numpy as np
    import pandas as pd

    qs = [(qid, [float(x) for x in (qv or [])]) for qid, qv in query_rows]
    nq = len(qs)
    q_ids = [qid for qid, _ in qs]
    q_by_dim = []
    for i in range(dim):
        q_by_dim.append(
            [qv[i] if len(qv) == dim else 0.0 for _, qv in qs]
        )
    q_norm = []
    for _, qv in qs:
        if len(qv) != dim or any(x != x for x in qv):
            q_norm.append(0.0)  # bad query -> zero-vector semantics
            continue
        s = 0.0
        for x in qv:
            s += x * x
        q_norm.append(s**0.5)

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"neighbor_id {id_type}, query_id {id_type}, {out_col} double"
    )

    def _score(batches):
        qn = np.array(q_norm)
        qd = [np.array(row) for row in q_by_dim]
        qid_arr = np.array(q_ids)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.array(
                [
                    r if r is not None and len(r) == dim else [0.0] * dim
                    for r in pdf[vec_col]
                ],
                dtype=np.float64,
            )
            bad = ~np.isfinite(V).all(axis=1)
            if bad.any():
                V[bad] = 0.0
            dots = np.zeros((n, nq))
            vn = np.zeros(n)
            for i in range(dim):  # dim-order accumulation = the JVM fold
                xi = V[:, i]
                vn += xi * xi
                dots += xi[:, None] * qd[i][None, :]
            vn = np.sqrt(vn)
            denom = vn[:, None] * qn[None, :]
            ok = denom != 0.0
            cos = dots / np.where(ok, denom, 1.0)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "neighbor_id": np.repeat(ids, nq),
                    "query_id": np.tile(qid_arr, n),
                    out_col: pd.Series(cos.ravel())
                    .astype("Float64")
                    .mask(~ok.ravel(), pd.NA),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(_score, out_schema)
