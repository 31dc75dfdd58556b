"""Index and embedding-space health reports.

The ANN family (operators/ivf.py, similarity.py) answers queries; these
operators answer the OPERATIONAL questions a 100 TB deployment asks
about the artifacts behind those queries:

- ``ivf_cell_stats``: per-cell occupancy of the frozen IVF quantizer,
  including EMPTY cells. Skewed or empty cells mean the quantizer is
  stale for the current corpus — probe latency concentrates on hot
  cells and recall decays. This is the report that triggers a
  quantizer refit (the batch analogue of the serving stream's recall
  alarm, streaming/serving.py).
- ``centroid_outliers``: per label, the k vectors farthest (lowest
  cosine) from their OWN label centroid — the standard
  mislabeled-example / out-of-distribution triage list for embedding
  datasets (the send-for-relabeling queue).

Scale shape: both are one broadcast join against tiny artifacts plus
one hash aggregate / one top-k window partitioned by a low-cardinality
key whose per-group size is bounded by the report's k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from machine_learning_with_spark_streaming_spark.functions.artifacts import (
    IVF_CENTROIDS,
)
from machine_learning_with_spark_streaming_spark.functions.vectors import (
    as_double_array,
    cosine_similarity,
)
from machine_learning_with_spark_streaming_spark.operators.ivf import (
    _centroid_values,
    _cosd,
    assign_cells,
    pretrained_centroids,
)
from machine_learning_with_spark_streaming_spark.operators.similarity import (
    group_centroids,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table

OUTLIER_K = 3


def ivf_cell_stats(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Occupancy of every frozen IVF cell: n_vectors and integer
    per-mille share of the corpus; cells no vector maps to appear with
    zeros (the refit signal). One assignment pass (broadcast argmax
    against k literal centroids), one count aggregate; the total is
    derived from the per-cell counts (a k-row re-aggregate), so the
    corpus is scanned exactly once. On an EMPTY corpus the shares come
    back NULL (sum over no rows) where the DuckDB oracle's ``// 0``
    errors — the report is meaningless on an empty corpus either way,
    and the certified inputs are never empty."""
    assigned = assign_cells(corpus, id_col, vec_col)
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
    total = counts.agg(F.sum("__n").alias("__t"))
    cells = pretrained_centroids(corpus.sparkSession).select("cell")
    return (
        cells.join(counts, "cell", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_vectors"),
            F.expr("(1000 * coalesce(__n, 0)) div __t")
            .cast("long")
            .alias("share_permille"),
        )
    )


def centroid_outliers(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = OUTLIER_K,
    dim: int | None = None,
) -> DataFrame:
    """Per label, the k vectors with the lowest cosine to their own
    label centroid (ties to the lowest id). Centroids come from the
    certified ``group_centroids`` long form, rounded to 6 dp BEFORE the
    cosine so the only doubles crossing engines are already-stabilized
    values; the cosine is a sequential index-order fold, IEEE-identical
    across engines — run as the Arrow ``exact_rescore`` stage when
    ``dim`` is known (one cosine per corpus row: the interpreted JVM
    fold was this operator's whole 64x stress cost), else the JVM fold."""
    cent = (
        group_centroids(df, label_col, vec_col)
        .groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda s: s["centroid"],
            ).alias("__cv")
        )
    )
    paired = df.join(
        F.broadcast(cent), F.col(label_col) == F.col("grp")
    ).select(
        F.col(label_col).cast("int").alias("label"),
        F.col(id_col),
        as_double_array(vec_col).alias("__ev"),
        F.col("__cv"),
    )
    if dim is not None:
        from machine_learning_with_spark_streaming_spark.operators.ivf import (
            exact_rescore,
        )

        scored = exact_rescore(
            paired,
            keep_cols=["label", id_col],
            dim=dim,
            q_col="__ev",
            v_col="__cv",
            out_col="__cos",
        )
    else:
        scored = paired.select(
            "label",
            id_col,
            cosine_similarity(F.col("__ev"), F.col("__cv")).alias("__cos"),
        )
    # NULLS LAST pinned explicitly: Spark's ASC default is nulls-first,
    # DuckDB's is nulls-last — a zero-norm embedding (NULL cosine) must
    # not rank as the #1 "outlier" in one engine and last in the other.
    w = Window.partitionBy("label").orderBy(
        F.asc_nulls_last("__cos"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "label",
            F.col("rank").cast("int").alias("rank"),
            id_col,
            F.round("__cos", 6).alias("cos"),
        )
    )


_CELL_STATS_ORACLE = f"""
WITH centroids(cell, centroid) AS (VALUES
  {_centroid_values(IVF_CENTROIDS)}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosd('v.emb', 'c.centroid')} DESC, c.cell
           ) AS rn
    FROM v CROSS JOIN centroids c
  ) WHERE rn = 1
),
counts AS (SELECT cell, count(*) AS n FROM assigned GROUP BY 1),
tot AS (SELECT count(*) AS t FROM v)
SELECT CAST(c.cell AS INT) AS cell,
       CAST(coalesce(n, 0) AS BIGINT) AS n_vectors,
       CAST((1000 * coalesce(n, 0)) // t AS BIGINT) AS share_permille
FROM centroids c LEFT JOIN counts USING (cell) CROSS JOIN tot
ORDER BY 1
"""


@register("sim_ivf_cell_stats", oracle=_CELL_STATS_ORACLE, bench=True)
def q_ivf_cell_stats(spark, sf_dir):
    """Frozen-quantizer occupancy report (16 cells, empty cells
    included): the batch health check behind the IVF ANN family."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_cell_stats(emb).orderBy("cell")


_OUTLIER_ORACLE = f"""
WITH ex AS (
  SELECT label, vec_id, CAST(g.i - 1 AS INT) AS pos,
         CAST(embedding[g.i] AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
cent AS (
  SELECT label, pos, round(avg(x), 6) + 0.0 AS c
  FROM ex GROUP BY 1, 2
),
cent_arr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
scored AS (
  SELECT v.label, v.vec_id, {_cosd('v.emb', 'ca.cv')} AS cos
  FROM v JOIN cent_arr ca USING (label)
)
SELECT CAST(label AS INT) AS label, CAST(rank AS INT) AS rank, vec_id,
       round(cos, 6) + 0.0 AS cos
FROM (
  SELECT label, vec_id, cos,
         row_number() OVER (
           PARTITION BY label ORDER BY cos ASC NULLS LAST, vec_id
         ) AS rank
  FROM scored
) WHERE rank <= {OUTLIER_K}
ORDER BY label, rank
"""


@register("emb_centroid_outliers", oracle=_OUTLIER_ORACLE)
def q_centroid_outliers(spark, sf_dir):
    """Per label, the 3 vectors farthest from their own label centroid
    — the mislabeled-example triage queue. ``dim`` comes from the
    frozen quantizer artifact (fit on this table), routing the per-row
    cosine through the Arrow rescore stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, dim=len(IVF_CENTROIDS[0])).orderBy(
        "label", "rank"
    )
