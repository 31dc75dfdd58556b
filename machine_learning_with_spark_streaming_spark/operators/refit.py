"""IVF quantizer refit: one deterministic Lloyd step against the
frozen quantizer, with a before/after health report.

``sim_ivf_cell_stats`` (operators/index_health.py) is the DRIFT SIGNAL
— skewed/empty cells mean the frozen quantizer no longer matches the
corpus. This module is the ACTION that signal triggers: recompute every
cell's centroid as the mean of its current members (one k-means /
Lloyd iteration — the standard incremental refit, not a from-scratch
refit; empty cells keep their frozen centroid exactly as Lloyd keeps
unassigned centroids), re-assign the corpus against the refit
centroids, and report per cell the occupancy and the mean
member-to-centroid cosine BEFORE and AFTER. A refit that works shows
occupancy rebalancing toward the mean and the within-cell similarity
rising — the quantization-error metric a production index tracks
across refits.

Scale shape — every stage is an already-certified pattern:

- both assignments are the map-only Arrow argmax (``argmax_assign``) —
  at 100 TB they run at write time / as one rewrite pass over the
  stored cell-partitioned corpus (a *delta* re-assignment only rewrites
  rows whose cell changed: the incremental path);
- the refit means are ``group_centroids``'s posexplode + (cell, pos)
  partial-sum aggregate — 24-byte shuffle rows, never a per-cell array
  on one executor;
- the k·dim refit centroid table is collected to the driver BECAUSE
  that is what a refit produces: the next frozen artifact (k=16,
  dim=64 → 1,024 rows — artifact materialization, not data movement);
- the report is two k-row aggregates joined to the k-cell frame.

Exactness contract: refit means are 6-dp-stabilized (the
``group_centroids`` precedent — the only doubles crossing engines are
already-rounded values); cosines are dimension-order folds, bit-equal
in both engines; the mean similarity is INTEGER math — per-row
``round(sim * 1e6)`` summed as BIGINT and divided with truncating
integer division, so no float summation order can diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.functions.artifacts import IVF_CENTROIDS
from machine_learning_with_spark_streaming_spark.operators.ivf import (
    _centroid_values,
    _cosd,
    argmax_assign,
)
from machine_learning_with_spark_streaming_spark.operators.similarity import (
    group_centroids,
)
from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table


def refit_centroids(
    corpus_assigned: DataFrame,
    frozen: list[list[float]],
    vec_col: str = "v",
    cell_col: str = "cell",
) -> list[list[float]]:
    """One Lloyd step: per-cell per-dimension 6-dp-stabilized means of
    the current members; empty cells keep their frozen centroid.
    Returns the refit quantizer as plain Python rows — the next frozen
    artifact."""
    means = group_centroids(corpus_assigned, cell_col, vec_col).collect()
    dim = len(frozen[0])
    out = [list(c) for c in frozen]
    by_cell: dict[int, dict[int, float]] = {}
    for r in means:
        by_cell.setdefault(r["grp"], {})[r["pos"]] = r["centroid"]
    for cell, pos_map in by_cell.items():
        if len(pos_map) == dim:
            out[cell] = [pos_map[i] for i in range(dim)]
    return out


def _cell_report(assigned: DataFrame, suffix: str, sim_col: str = "sim") -> DataFrame:
    """Per-cell occupancy + integer-exact mean member cosine (e6):
    sum of per-row round(sim*1e6) as BIGINT, truncating-divided by the
    non-null count (NULL for empty cells in both engines)."""
    e6 = F.round(F.col(sim_col) * F.lit(1e6), 0).cast("long")
    return (
        assigned.select("cell", e6.alias("__e6"), F.col(sim_col).alias("__s"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias(f"n_{suffix}"),
            F.expr("sum(__e6) div nullif(count(__s), 0)").alias(
                f"mean_sim_{suffix}_e6"
            ),
        )
    )


def ivf_refit_report(
    corpus: DataFrame,
    frozen: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full refit loop: assign (frozen) → Lloyd step → re-assign
    (refit) → per-cell before/after report
    (cell, n_before, mean_sim_before_e6, n_after, mean_sim_after_e6)
    including empty cells."""
    frozen = [list(c) for c in (frozen or IVF_CENTROIDS)]
    spark = corpus.sparkSession
    from pyspark.storagelevel import StorageLevel

    # two consumers (report + refit means): persist one assignment pass
    before = argmax_assign(corpus, frozen, id_col, vec_col, sim_col="sim").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    new_cents = refit_centroids(before, frozen)
    after = argmax_assign(corpus, new_cents, id_col, vec_col, sim_col="sim")
    cells = spark.range(len(frozen)).select(F.col("id").cast("int").alias("cell"))
    rep = (
        cells.join(_cell_report(before, "before"), "cell", "left")
        .join(_cell_report(after, "after"), "cell", "left")
        .select(
            "cell",
            F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
            F.col("mean_sim_before_e6").cast("long").alias("mean_sim_before_e6"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.col("mean_sim_after_e6").cast("long").alias("mean_sim_after_e6"),
        )
    )
    return rep


_REFIT_ORACLE = f"""
WITH centroids(cell, centroid) AS (VALUES
  {_centroid_values(IVF_CENTROIDS)}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
before AS (
  SELECT vec_id, emb, cell, sim FROM (
    SELECT v.vec_id, v.emb, c.cell,
           {_cosd('v.emb', 'c.centroid')} AS sim,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosd('v.emb', 'c.centroid')} DESC, c.cell
           ) AS rn
    FROM v CROSS JOIN centroids c
  ) WHERE rn = 1
),
refit_means AS (
  SELECT cell, CAST(g.i - 1 AS INT) AS pos,
         round(avg(emb[g.i]), 6) + 0.0 AS m
  FROM before,
       LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i) g
  GROUP BY 1, 2
),
refit AS (SELECT cell, list(m ORDER BY pos) AS centroid
          FROM refit_means GROUP BY 1),
newc AS (
  SELECT c.cell, coalesce(r.centroid, c.centroid) AS centroid
  FROM centroids c LEFT JOIN refit r USING (cell)
),
after AS (
  SELECT vec_id, cell, sim FROM (
    SELECT v.vec_id, c.cell,
           {_cosd('v.emb', 'c.centroid')} AS sim,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosd('v.emb', 'c.centroid')} DESC, c.cell
           ) AS rn
    FROM v CROSS JOIN newc c
  ) WHERE rn = 1
),
rep_b AS (
  SELECT cell, count(*) AS n_before,
         sum(CAST(round(sim * 1e6, 0) AS BIGINT))
           // nullif(count(sim), 0) AS mean_sim_before_e6
  FROM before GROUP BY 1
),
rep_a AS (
  SELECT cell, count(*) AS n_after,
         sum(CAST(round(sim * 1e6, 0) AS BIGINT))
           // nullif(count(sim), 0) AS mean_sim_after_e6
  FROM after GROUP BY 1
)
SELECT CAST(c.cell AS INT) AS cell,
       CAST(coalesce(b.n_before, 0) AS BIGINT) AS n_before,
       CAST(b.mean_sim_before_e6 AS BIGINT) AS mean_sim_before_e6,
       CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
       CAST(a.mean_sim_after_e6 AS BIGINT) AS mean_sim_after_e6
FROM centroids c
LEFT JOIN rep_b b USING (cell)
LEFT JOIN rep_a a USING (cell)
ORDER BY 1
"""


@register("sim_ivf_refit_step", oracle=_REFIT_ORACLE, bench=True)
def q_ivf_refit_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refit step of the frozen 16-cell quantizer over the
    embeddings corpus with the before/after occupancy + mean-cosine
    report — the action ``sim_ivf_cell_stats``'s drift signal
    triggers."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_refit_report(emb).orderBy("cell")
