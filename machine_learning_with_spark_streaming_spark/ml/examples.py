"""Registered batch-mode ML queries over the ``embeddings`` table.

Serving-path contract (same as ``sim_topk_ivf``): the models are fit
once on sf0.01 (tools/freeze_ml_artifacts.py) and committed as literal
tables in ``functions.ml_artifacts``; the registered queries score with
those frozen artifacts, which is pure arithmetic — dot products are
sequential double sums in both Spark (``F.aggregate``) and DuckDB
(``list_dot_product``), so the driver hash-checks the full
score→argmax→aggregate pipeline. The *training* path (distributed MLlib
fit, reference ``Dataset/stream.py:75-134`` consumer) stays covered by
tests/test_ml.py, including quality floors for a fresh fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.ml_artifacts import (
    KMEANS_CENTROIDS,
    LOGREG_WEIGHTS,
)
from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array, dot
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await

# ------------------------------------------------------------- serving path


def logreg_weights_df(spark: SparkSession) -> DataFrame:
    """The frozen multinomial weights as a 10-row DataFrame."""
    return spark.createDataFrame(
        LOGREG_WEIGHTS, "class int, w array<double>, b double"
    )


def kmeans_centroids_df(spark: SparkSession) -> DataFrame:
    """The frozen centroids as a k-row DataFrame (cluster, centroid)."""
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(KMEANS_CENTROIDS)],
        "cluster int, centroid array<double>",
    )


def score_logreg_frozen(vectors: DataFrame) -> DataFrame:
    """Per-row argmax class over the frozen weight table.

    ``vectors`` needs (vec_id, v: array<double>, label). Margin
    ``dot(v, w_c) + b_c`` is monotone in the softmax probability, so
    argmax needs no exp(); ties break to the lowest class id (MLlib's
    convention, and the oracle's ORDER BY). Broadcast 10-row cross join
    — executor-parallel at any corpus size.
    """
    wdf = logreg_weights_df(vectors.sparkSession)
    rn = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("class"))
    return (
        vectors.crossJoin(F.broadcast(wdf))
        .withColumn("score", dot(F.col("v"), F.col("w")) + F.col("b"))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("class").alias("prediction"))
    )


def assign_kmeans_frozen(vectors: DataFrame) -> DataFrame:
    """Nearest frozen centroid per row, via argmax of
    ``dot(v, c) - 0.5*dot(c, c)`` — equivalent to nearest-euclidean but
    expressed in dot products only, so both engines run the identical
    sequential double sums."""
    cdf = kmeans_centroids_df(vectors.sparkSession)
    rn = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("cluster"))
    return (
        vectors.crossJoin(F.broadcast(cdf))
        .withColumn(
            "score",
            dot(F.col("v"), F.col("centroid"))
            - 0.5 * dot(F.col("centroid"), F.col("centroid")),
        )
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cluster"))
    )


# ----------------------------------------------------------------- oracles

_DOTD = "list_dot_product({a}, {b})"


def _weight_values() -> str:
    rows = []
    for c, w, b in LOGREG_WEIGHTS:
        lit = "[" + ", ".join(repr(x) for x in w) + "]"
        rows.append(f"({c}, CAST({lit} AS DOUBLE[]), {b!r})")
    return ",\n  ".join(rows)


def _kmeans_values() -> str:
    rows = []
    for i, c in enumerate(KMEANS_CENTROIDS):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        rows.append(f"({i}, CAST({lit} AS DOUBLE[]))")
    return ",\n  ".join(rows)


_LOGREG_ORACLE = f"""
WITH weights(class, w, b) AS (VALUES
  {_weight_values()}
),
v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id % 5 = 0
),
pred AS (
  SELECT vec_id, label, class AS prediction FROM (
    SELECT v.vec_id, v.label, wt.class,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_DOTD.format(a='v.emb', b='wt.w')} + wt.b DESC, wt.class
           ) AS rn
    FROM v CROSS JOIN weights wt
  ) WHERE rn = 1
)
SELECT CAST(prediction AS INT) AS prediction,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN prediction = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM pred GROUP BY prediction ORDER BY prediction
"""


_KMEANS_ORACLE = f"""
WITH centroids(cluster, c) AS (VALUES
  {_kmeans_values()}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, ct.cluster,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_DOTD.format(a='v.emb', b='ct.c')}
                      - 0.5 * {_DOTD.format(a='ct.c', b='ct.c')} DESC,
                      ct.cluster
           ) AS rn
    FROM v CROSS JOIN centroids ct
  ) WHERE rn = 1
)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM assigned GROUP BY cluster ORDER BY cluster
"""


@register("ml_logreg_embeddings", oracle=_LOGREG_ORACLE)
def q_logreg_embeddings(spark, sf_dir):
    """Score the held-out split (vec_id % 5 == 0) with the frozen
    multinomial logreg; per-class prediction counts + correct counts.
    Artifact = ``LOGREG_WEIGHTS`` (fit once on sf0.01, committed),
    mirrored as literals in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    vectors = emb.select(
        "vec_id", as_double_array("embedding").alias("v"), "label"
    )
    pred = score_logreg_frozen(vectors)
    return (
        pred.groupBy(F.col("prediction").cast("int").alias("prediction"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("prediction") == F.col("label")).cast("long")
            ).alias("n_correct"),
        )
        .orderBy("prediction")
    )


@register("ml_kmeans_embeddings", oracle=_KMEANS_ORACLE)
def q_kmeans_embeddings(spark, sf_dir):
    """Cluster cardinalities under the frozen KMeans quantizer (k=4,
    seed 42, fit once on sf0.01 and committed as ``KMEANS_CENTROIDS``);
    assignment = argmax dot(v,c) - 0.5*dot(c,c), identical in the
    oracle's literals."""
    emb = load_table(spark, sf_dir, "embeddings")
    vectors = emb.select("vec_id", as_double_array("embedding").alias("v"))
    return (
        assign_kmeans_frozen(vectors)
        .groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cluster")
    )


# ----------------------------------------------- ML on a real stream

_LOGREG_STREAM_ORACLE = f"""
WITH weights(class, w, b) AS (VALUES
  {_weight_values()}
),
v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
pred AS (
  SELECT vec_id, label, class AS prediction FROM (
    SELECT v.vec_id, v.label, wt.class,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_DOTD.format(a='v.emb', b='wt.w')} + wt.b DESC, wt.class
           ) AS rn
    FROM v CROSS JOIN weights wt
  ) WHERE rn = 1
)
SELECT CAST(prediction AS INT) AS prediction,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN prediction = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM pred GROUP BY prediction ORDER BY prediction
"""


@register("ml_logreg_stream", oracle=_LOGREG_STREAM_ORACLE)
def q_logreg_stream(spark, sf_dir):
    """The namesake capability end-to-end and hash-certified: score a
    REAL multi-micro-batch embedding stream with the frozen logreg
    inside ``foreachBatch``, then aggregate the per-batch prediction
    sink. Per-class counts are batch-partition-independent, so the
    DuckDB oracle (same frozen weights, whole table) checks the full
    stream→score→sink pipeline regardless of how files split into
    micro-batches. Reference: Dataset/stream.py:75-134 feeds payload
    batches to exactly this consumer shape."""
    import tempfile

    work = tempfile.mkdtemp(prefix="mlwss_mlstream_")
    stage, ckpt, preds = f"{work}/stage", f"{work}/ckpt", f"{work}/preds"
    load_table(spark, sf_dir, "embeddings").repartition(4).write.parquet(stage)

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def _score_sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        vectors = batch_df.select(
            "vec_id", as_double_array("embedding").alias("v"), "label"
        )
        score_logreg_frozen(vectors).write.mode("append").parquet(preds)

    q = (
        stream.writeStream.foreachBatch(_score_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    return (
        spark.read.parquet(preds)
        .groupBy(F.col("prediction").cast("int").alias("prediction"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("prediction") == F.col("label")).cast("long")).alias(
                "n_correct"
            ),
        )
        .orderBy("prediction")
    )


# ------------------------------ closed-form linear trend per key

_TREND_EPOCH0 = "2024-01-01"


def linear_trend(
    df: DataFrame, key: str, ts_col: str, value_col: str
) -> DataFrame:
    """Per-key simple linear regression of value on time (days since a
    fixed origin), solved closed-form from five plain sums — the
    distributed-ML shape where the MODEL is an aggregate: one partial-
    aggregating shuffle computes (n, Σx, Σy, Σxy, Σx²) per key, and
    slope/intercept fall out on the 1-row-per-key result. This is drift
    detection for monitoring ("is this metric trending?") and the
    simplest member of the closed-form-GLM family.

    Numerical discipline: x is CENTERED (days since the origin, 0..30
    here) so the normal-equation terms are well-conditioned — regressing
    on raw epoch values would cancel catastrophically. Plain sums (not
    engine covar/var implementations, which differ in update order
    cross-engine) + 6-dp rounding is the repo's certified-safe float
    pattern."""
    x = (
        F.unix_micros(F.col(ts_col))
        - F.unix_micros(F.lit(_TREND_EPOCH0).cast("timestamp"))
    ) / F.lit(86400e6)
    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(key), x.alias("__x"), F.col(value_col).alias("__y"))
    agg = base.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        F.col(key),
        F.col("n").cast("long").alias("n"),
        (F.round(slope, 6) + F.lit(0.0)).alias("slope_per_day"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
            + F.lit(0.0)
        ).alias("intercept"),
    )


_TREND_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         (epoch_us(ts) - epoch_us(TIMESTAMP '{_TREND_EPOCH0}')) / 86400e6 AS x,
         value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM base GROUP BY 1
)
SELECT event_type, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
         AS slope_per_day,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         + 0.0 AS intercept
FROM agg ORDER BY 1
"""


@register("ml_linear_trend", oracle=_TREND_ORACLE, bench=True)
def q_linear_trend(spark, sf_dir):
    """Per-event-type value-vs-time linear trend (slope per day +
    intercept), closed-form from one aggregate pass."""
    ev = load_table(spark, sf_dir, "events")
    return linear_trend(ev, "event_type", "ts", "value").orderBy("event_type")


# ------------- exact-sufficient-statistics Pearson correlation matrix

_CORR_MEASURES = [
    ("qty", "l_quantity", 1),          # integral units
    ("price", "l_extendedprice", 100), # 2-dp -> exact cents
    ("disc", "l_discount", 100),       # 2-dp fraction -> exact percent
    ("tax", "l_tax", 100),
]


def corr_matrix_exact(df: DataFrame, measures=None) -> DataFrame:
    """Pearson correlation matrix over fixed-point measure columns,
    computed from EXACT integer sufficient statistics: operands are
    cast to decimal(18,0), so products widen to decimal(37,0) and sums
    cap at Spark's decimal(38,0) accumulator — products of cents
    overflow BIGINT at sf0.1 already — and only the final closed form

        corr = (nΣxy - ΣxΣy) / sqrt((nΣx² - (Σx)²)(nΣy² - (Σy)²))

    runs in floating point — on identical integer operands in both
    engines, so the result is deterministic where engine-native
    ``corr()`` implementations (streaming co-moment updates, order-
    dependent) are not. The same trick as ml_linear_trend, upgraded
    from "plain double sums + rounding" to bit-exact integer sums.

    Scale shape: ONE aggregate pass computes all (m + m(m+1)/2 + 1)
    sums with map-side partials — no shuffle of rows, no per-pair scan.
    All m(m-1)/2 corr values are computed as COLUMNS of that single
    result row and unpivoted to rows with ``stack`` — one plan branch,
    so the full-table aggregate provably executes once (the earlier
    6-way unionByName over the same aggregate relied on Catalyst
    exchange reuse to avoid 6 scans)."""
    measures = measures or _CORR_MEASURES
    cols = {
        name: F.round(F.col(src) * scale).cast("long")
        for name, src, scale in measures
    }
    base = df
    for _, src, _s in measures:
        base = base.filter(F.col(src).isNotNull())
    dec = lambda c: c.cast("decimal(18,0)")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    names = [m[0] for m in measures]
    for a in names:
        aggs.append(F.sum(dec(cols[a])).alias(f"s_{a}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum(dec(cols[a]) * dec(cols[b])).alias(f"s_{a}_{b}")
            )
    row = base.agg(*aggs)
    nD = F.col("n").cast("double")
    sD = lambda c: F.col(c).cast("double")  # noqa: E731
    pair_cols = []
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = nD * sD(f"s_{a}_{b}") - sD(f"s_{a}") * sD(f"s_{b}")
            var_a = nD * sD(f"s_{a}_{a}") - sD(f"s_{a}") * sD(f"s_{a}")
            var_b = nD * sD(f"s_{b}_{b}") - sD(f"s_{b}") * sD(f"s_{b}")
            pair_cols.append(
                (F.round(num / F.sqrt(var_a * var_b), 6) + F.lit(0.0))
                .alias(f"c_{a}_{b}")
            )
            pairs.append((a, b))
    wide = row.select(F.col("n").cast("long").alias("n"), *pair_cols)
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{a}_{b}" for a, b in pairs
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (m_a, m_b, corr)"
        ),
        "n",
    ).select("m_a", "m_b", "n", "corr")


def _corr_oracle() -> str:
    names = [m[0] for m in _CORR_MEASURES]
    vals = ",\n         ".join(
        f"CAST(round({src} * {scale}) AS HUGEINT) AS {name}"
        for name, src, scale in _CORR_MEASURES
    )
    notnull = " AND ".join(f"{src} IS NOT NULL" for _, src, _s in _CORR_MEASURES)
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for a in names:
        sums.append(f"sum({a}) AS s_{a}")
    for i, a in enumerate(names):
        for b in names[i:]:
            sums.append(f"sum({a} * {b}) AS s_{a}_{b}")
    selects = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = (
                f"(n::DOUBLE * s_{a}_{b}::DOUBLE - s_{a}::DOUBLE * s_{b}::DOUBLE)"
            )
            va = f"(n::DOUBLE * s_{a}_{a}::DOUBLE - s_{a}::DOUBLE * s_{a}::DOUBLE)"
            vb = f"(n::DOUBLE * s_{b}_{b}::DOUBLE - s_{b}::DOUBLE * s_{b}::DOUBLE)"
            selects.append(
                f"SELECT '{a}' AS m_a, '{b}' AS m_b, n,\n"
                f"       round({num} / sqrt({va} * {vb}), 6) + 0.0 AS corr\n"
                f"FROM agg"
            )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH base AS (
  SELECT {vals}
  FROM lineitem WHERE {notnull}
),
agg AS (SELECT {", ".join(sums)} FROM base)
{body}
ORDER BY 1, 2
"""


@register("ml_corr_matrix", oracle=_corr_oracle(), bench=True)
def q_corr_matrix(spark, sf_dir):
    """Deterministic Pearson correlation matrix over the four lineitem
    measures (integer-exact sufficient statistics, one aggregate pass)."""
    from machine_learning_with_spark_streaming_spark.schemas import (
        spread_narrow_scan,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # r12 (guide §2.3/§2.5): the whole query is ONE global aggregate of
    # decimal sums, so an unsplittable local scan runs it single-
    # threaded; project to the four measure columns, then spread. The
    # decimal sums are exact integers — partial-agg order cannot change
    # them. Interleaved A/B at sf0.1: 1.7-2.0 -> 1.4-1.6 s.
    srcs = sorted({src for _, src, _scale in _CORR_MEASURES})
    return corr_matrix_exact(spread_narrow_scan(li.select(*srcs))).orderBy(
        "m_a", "m_b"
    )


# ---------------- frozen-tree scoring: model-to-SQL compilation

def tree_score_column(x: "F.Column") -> "F.Column":
    """Compile the frozen decision tree (functions/tree_artifacts.py)
    into ONE nested when/otherwise expression over a double-array
    column — in-database model serving (the feature-store trick of
    shipping small trees as SQL so scoring rides the scan, no model
    runtime, no UDF, full whole-stage codegen). Routing is MLlib's
    ``x[feature] <= threshold -> left``; the oracle compiles the SAME
    committed node table to a nested CASE, so the entire decision
    surface is hash-certified — any mistranslated threshold or swapped
    branch flips predictions and fails the gate."""
    from machine_learning_with_spark_streaming_spark.functions.tree_artifacts import TREE_NODES

    def compile_node(nid: int) -> "F.Column":
        _nid, feat, thr, left, right, pred = TREE_NODES[nid]
        if feat == -1:
            return F.lit(int(pred))
        return F.when(
            F.element_at(x, feat + 1) <= F.lit(float(thr)), compile_node(left)
        ).otherwise(compile_node(right))

    return compile_node(0)


def _tree_case_sql(x: str) -> str:
    from machine_learning_with_spark_streaming_spark.functions.tree_artifacts import TREE_NODES

    def compile_node(nid: int) -> str:
        _nid, feat, thr, left, right, pred = TREE_NODES[nid]
        if feat == -1:
            return str(int(pred))
        return (
            f"CASE WHEN CAST({x}[{feat + 1}] AS DOUBLE) <= {thr!r} "
            f"THEN {compile_node(left)} ELSE {compile_node(right)} END"
        )

    return compile_node(0)


def _tree_oracle() -> str:
    return f"""
SELECT vec_id, CAST(label AS INT) AS label,
       CAST({_tree_case_sql('embedding')} AS INT) AS pred,
       CAST(CASE WHEN {_tree_case_sql('embedding')} = label
                 THEN 1 ELSE 0 END AS INT) AS correct
FROM embeddings ORDER BY 1
"""


@register("ml_tree_score", oracle=_tree_oracle(), bench=True)
def q_tree_score(spark, sf_dir):
    """Frozen decision tree scored as one compiled when-chain over the
    embeddings table (29-node maxDepth-4 artifact; per-row prediction +
    correctness flag, whole decision surface hash-certified)."""
    from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    pred = tree_score_column(as_double_array("embedding"))
    return emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        pred.cast("int").alias("pred"),
        (pred == F.col("label")).cast("int").alias("correct"),
    ).orderBy("vec_id")
