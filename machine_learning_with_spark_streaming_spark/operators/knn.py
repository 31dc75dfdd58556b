"""kNN majority-vote classification over the embedding corpus — the
label-propagation-by-similarity baseline every embedding space gets
evaluated with before anyone trains a head: "do my neighbors share my
label?" Reported as a confusion matrix over a probe sample, scored
leave-one-out against the full corpus.

Plan shape: the probe queries collect at plan time (the frozen-
artifact / probe-cell precedent) and the corpus streams through ONE
Arrow/numpy scoring stage (``score_all_queries`` — corpus vectors ship
through Arrow exactly once, cosines IEEE-bit-identical to the JVM fold
and the oracle's list_dot_product); ranking and voting are integer
window/aggregate work over |probes|·k rows. At 100 TB the scoring
stage is the same map-only pass IVF serving uses — swap in the
cell-pruned candidate read (ivf_topk_pretrained) for sub-scan probes.

Vote semantics (deterministic end to end): neighbors ranked by
(cos DESC, neighbor_id ASC), k=8; majority by (votes DESC, label ASC)
so ties break to the smallest label — same rule as ml_naive_bayes's
argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.operators.similarity import (
    EMB_DIM,
    _cos_sql,
    topk_cosine,
)

KNN_K = 8
KNN_PROBES = 64


def knn_confusion(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = KNN_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = EMB_DIM,
) -> DataFrame:
    """(true_label, pred_label, n) confusion matrix of leave-one-out
    k-nearest-neighbor majority vote of ``probes`` against ``corpus``."""
    nn = topk_cosine(corpus, probes, k=k, id_col=id_col, vec_col=vec_col, dim=dim)
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        nn.join(lab, "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).alias("__v"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__v"), F.asc("__nl")
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("__nl").alias("pred_label"))
    )
    truth = probes.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("true_label").cast("int").alias("true_label"),
            F.col("pred_label").cast("int").alias("pred_label"),
            "n",
        )
        .orderBy("true_label", "pred_label")
    )


_KNN_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_PROBES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, nl,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
),
votes AS (
  SELECT query_id, nl, count(*) AS v
  FROM ranked WHERE rank <= {KNN_K} GROUP BY 1, 2
),
pred AS (
  SELECT query_id, nl AS pred_label FROM (
    SELECT query_id, nl,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY v DESC, nl) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT CAST(q.label AS INT) AS true_label,
       CAST(p.pred_label AS INT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n
FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("ml_knn_confusion", oracle=_KNN_ORACLE, bench=True)
def q_knn_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML beyond-ref: leave-one-out kNN (k=8) majority-vote confusion
    matrix for the first 64 embeddings against the full corpus —
    corpus-once Arrow scoring, integer vote/argmax semantics."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_confusion(emb, emb.filter(F.col("vec_id") < KNN_PROBES))


def knn_calibration(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = KNN_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = EMB_DIM,
) -> DataFrame:
    """Reliability curve of the kNN vote: per vote-count v (how many of
    the k neighbors voted for the predicted label), how often is the
    prediction right? (votes, n_probes, n_correct, acc_ppm) — the
    calibration table that turns raw agreement into a usable
    confidence threshold ("trust the label only at 7+/8 votes"). The
    natural 1..k integer binning makes the whole report BIGINT — no
    probability floats to calibrate in the first place."""
    nn = topk_cosine(corpus, probes, k=k, id_col=id_col, vec_col=vec_col, dim=dim)
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        nn.join(lab, "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).alias("__v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__v"), F.asc("__nl"))
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("__nl").alias("pred_label"),
            F.col("__v").alias("votes"),
        )
    )
    truth = probes.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    scored = pred.join(truth, "query_id").withColumn(
        "__ok",
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0),
    )
    return (
        scored.groupBy(F.col("votes").cast("int").alias("votes"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum("__ok").cast("long").alias("n_correct"),
        )
        .withColumn(
            "acc_ppm",
            F.expr("(n_correct * 1000000) div n_probes").cast("long"),
        )
        .orderBy("votes")
    )


_KNN_CALIB_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_PROBES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, nl,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
),
votes AS (
  SELECT query_id, nl, count(*) AS v
  FROM ranked WHERE rank <= {KNN_K} GROUP BY 1, 2
),
pred AS (
  SELECT query_id, nl AS pred_label, v AS votes FROM (
    SELECT query_id, nl, v,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY v DESC, nl) AS rn
    FROM votes
  ) WHERE rn = 1
),
ok AS (
  SELECT p.votes,
         CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END AS correct
  FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
)
SELECT CAST(votes AS INT) AS votes,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(correct) AS BIGINT) AS n_correct,
       CAST((sum(correct) * 1000000) // count(*) AS BIGINT) AS acc_ppm
FROM ok GROUP BY 1 ORDER BY 1
"""


@register("ml_knn_calibration", oracle=_KNN_CALIB_ORACLE, bench=True)
def q_knn_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML beyond-ref: kNN vote-count reliability curve (votes →
    accuracy ppm) for the first 64 embeddings — all-integer
    calibration, same Arrow scoring pass as ml_knn_confusion."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_calibration(emb, emb.filter(F.col("vec_id") < KNN_PROBES))


def hard_negatives(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = EMB_DIM,
) -> DataFrame:
    """Per probe, the single most similar corpus row with a DIFFERENT
    label — contrastive-training's hard-negative mining (the pairs a
    triplet loss learns most from). Same corpus-once Arrow scoring
    pass as knn_confusion (probe vectors collect at plan time); the
    cross-label cut and the (cos DESC, id) argmax are plain filter +
    window work — no second ranking pass, no inner top-k."""
    from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array
    from machine_learning_with_spark_streaming_spark.operators.ivf import score_all_queries

    qv = probes.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
        F.col(label_col).alias("__ql"),
    )
    q_rows = [
        (r["query_id"], list(r["__qv"]) if r["__qv"] is not None else None)
        for r in qv.collect()
    ]
    q = qv.select("query_id", "__ql")
    scored = score_all_queries(
        corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v")),
        q_rows,
        dim=dim,
        id_col=id_col,
        vec_col="__v",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    cross = (
        scored.join(lab, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("__nl") != F.col("__ql"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cross.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("__ql").cast("int").alias("query_label"),
            "neighbor_id",
            F.col("__nl").cast("int").alias("neg_label"),
            F.round("cos", 6).alias("cos"),
        )
        .orderBy("query_id")
    )


_HARDNEG_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS ql,
         c.vec_id AS neighbor_id, c.label AS nl,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_PROBES} AND c.vec_id <> q.vec_id
        AND c.label <> q.label
),
ranked AS (
  SELECT query_id, ql, neighbor_id, nl, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(ql AS INT) AS query_label,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(nl AS INT) AS neg_label,
       round(cos, 6) AS cos
FROM ranked WHERE rn = 1 ORDER BY query_id
"""


@register("sample_hard_negatives", oracle=_HARDNEG_ORACLE, bench=True)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling beyond-ref: hardest cross-label negative per probe
    (most similar different-label row) for the first 64 embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < KNN_PROBES))


def contrastive_triplets(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = EMB_DIM,
) -> DataFrame:
    """(anchor, positive, negative, margin_e6) triplets: per probe the
    nearest SAME-label row as the positive and the nearest
    DIFFERENT-label row as the negative — the triplet-loss training
    artifact assembled in-engine. margin_e6 = e6-rounded cos(a,p) −
    e6-rounded cos(a,n) is pure integer arithmetic on the two rounded
    cosines, so the whole table is BIGINT; small (or negative) margins
    are exactly the triplets a contrastive fine-tune learns from.

    ONE corpus-once Arrow scoring pass serves both argmaxes (the
    positive and negative cuts are filters over the same scored
    relation) — no second scan."""
    from machine_learning_with_spark_streaming_spark.functions.vectors import as_double_array
    from machine_learning_with_spark_streaming_spark.operators.ivf import score_all_queries

    qv = probes.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
        F.col(label_col).alias("__ql"),
    )
    q_rows = [
        (r["query_id"], list(r["__qv"]) if r["__qv"] is not None else None)
        for r in qv.collect()
    ]
    q = qv.select("query_id", "__ql")
    scored = score_all_queries(
        corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v")),
        q_rows,
        dim=dim,
        id_col=id_col,
        vec_col="__v",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    both = (
        scored.join(lab, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "__side",
            F.when(F.col("__nl") == F.col("__ql"), "p").otherwise("n"),
        )
    )
    w = Window.partitionBy("query_id", "__side").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    best = both.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    cos_e6 = F.round(F.col("cos") * 1_000_000, 0).cast("long")
    p = best.filter(F.col("__side") == "p").select(
        "query_id",
        F.col("neighbor_id").alias("positive_id"),
        cos_e6.alias("__pc"),
    )
    n = best.filter(F.col("__side") == "n").select(
        "query_id",
        F.col("neighbor_id").alias("negative_id"),
        cos_e6.alias("__nc"),
    )
    return (
        p.join(n, "query_id")
        .select(
            F.col("query_id").alias("anchor"),
            "positive_id",
            "negative_id",
            (F.col("__pc") - F.col("__nc")).cast("long").alias("margin_e6"),
        )
        .orderBy("anchor")
    )


_TRIPLET_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS ql,
         c.vec_id AS neighbor_id, c.label AS nl,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_PROBES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CASE WHEN nl = ql THEN 'p' ELSE 'n' END AS side,
         row_number() OVER (PARTITION BY query_id,
                                         CASE WHEN nl = ql THEN 'p'
                                              ELSE 'n' END
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
),
p AS (SELECT query_id, neighbor_id AS positive_id,
             CAST(round(cos * 1000000, 0) AS BIGINT) AS pc
      FROM ranked WHERE side = 'p' AND rn = 1),
n AS (SELECT query_id, neighbor_id AS negative_id,
             CAST(round(cos * 1000000, 0) AS BIGINT) AS nc
      FROM ranked WHERE side = 'n' AND rn = 1)
SELECT CAST(p.query_id AS BIGINT) AS anchor,
       CAST(positive_id AS BIGINT) AS positive_id,
       CAST(negative_id AS BIGINT) AS negative_id,
       CAST(pc - nc AS BIGINT) AS margin_e6
FROM p JOIN n USING (query_id)
ORDER BY 1
"""


@register("sample_triplets", oracle=_TRIPLET_ORACLE, bench=True)
def q_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling beyond-ref: (anchor, nearest-positive, hardest-negative,
    integer margin) triplets for the first 64 embeddings — the
    contrastive training artifact from one scoring pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    return contrastive_triplets(emb, emb.filter(F.col("vec_id") < KNN_PROBES))
