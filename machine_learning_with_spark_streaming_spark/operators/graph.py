"""Connected components over near-duplicate pair lists — the clustering
step that turns pairwise dedup output (operators/dedup.py) into document
clusters with one canonical survivor each (BASELINE.json north-star:
LLM training-data dedup at 100 TB keeps ONE copy per duplicate *cluster*,
not per pair; pairs alone under-delete transitive chains a~b~c).

Spark has no built-in connected components; GraphFrames is an external
package. This is the DataFrame-native formulation: iterative min-label
propagation with pointer jumping —

- ``lab(u)`` starts as ``min(u, min neighbor)``;
- each round takes the min label over neighbors (one shuffle join on the
  symmetrized edge list) and then jumps ``lab(u) <- lab(lab(u))`` (one
  self-join), which contracts label chains exponentially: a path of
  length L converges in O(log L) rounds, not O(L);
- ``localCheckpoint`` truncates lineage per round so plan size stays
  constant across iterations (the classic iterative-DataFrame footgun).

Per round this shuffles the edge list once on ``v`` and the label table
twice on 8-byte keys — linear in |E|; no step ever materializes a
component as one row or collects to the driver. Near-dup graphs are
edge-sparse (bounded by the LSH candidate caps upstream), so rounds are
cheap and few (real corpora: duplicate clusters have tiny diameter).

The DuckDB oracle computes ground truth independently via a recursive
CTE (min reachable id per node), so the driver check certifies the whole
pipeline: shingle → MinHash/LSH → verified pairs → components.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from machine_learning_with_spark_streaming_spark.operators.dedup import (
    _JACCARD_PAIRS_CTES,
    corpus_with_duplicates,
    minhash_lsh_pairs,
)
from machine_learning_with_spark_streaming_spark.registry import register


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node, where ``component`` is the
    smallest node id in its connected component.

    ``nodes`` (optional) adds isolated nodes absent from the edge list —
    they come back as singleton components (component = self).

    Raises ``RuntimeError`` if labels have not stabilized after
    ``max_iter`` rounds (with pointer jumping that allows components of
    diameter ~2**max_iter — unreachable in practice).
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # lazily checkpoint the edge list: it joins into EVERY round, and an
    # untruncated lineage would re-run the (expensive) pair-producing
    # upstream — e.g. the whole MinHash/LSH pipeline — once per round.
    # eager=False defers materialization to the first round's aggregate,
    # so no standalone job is paid for it, while still replacing the
    # logical plan with a flat RDD scan (plain persist() keeps the nested
    # plan and Catalyst analysis grows ~3x per round — measured hang by
    # round ~10 on chain graphs).
    sym0 = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)

    # Pin a size-derived constant partition count for the whole loop.
    # Left to AQE, each round's joins re-coalesce from runtime stats, so
    # round task counts (and wall time) drift run-to-run — measured 16x
    # spread under scale stress. The count below doubles as the edge
    # materializer. Sizing: ~2M edge rows (16 bytes each) per partition
    # keeps a partition comfortably in executor memory at any corpus
    # size; the small-graph floor is ALSO size-derived (>=1 partition
    # per 50k edges) rather than defaultParallelism — a dedup graph with
    # a few thousand edges runs its rounds in 1-2 tasks instead of
    # paying 32 near-empty tasks + scheduling per round (measured 1.7x
    # on the sf0.1 bench), while a billion-edge graph still fans out to
    # max(cores, edges/2M) partitions.
    n_edges = sym0.count()
    sc = edges.sparkSession.sparkContext
    n_parts = max(
        1,
        min(
            -(-n_edges // 50_000),
            max(sc.defaultParallelism, -(-n_edges // 2_000_000)),
        ),
    )
    sym = sym0.repartition(n_parts, "v").localCheckpoint(eager=False)

    pts = sym.select("u").distinct()
    if nodes is not None:
        pts = pts.union(
            nodes.select(F.col(node_col).cast("long").alias("u"))
        ).distinct()

    lab = pts.join(sym.groupBy("u").agg(F.min("v").alias("__nb")), "u", "left").select(
        "u", F.least(F.col("u"), F.coalesce("__nb", F.col("u"))).alias("lab")
    ).repartition(n_parts, "u").localCheckpoint(eager=False)
    # convergence witness: labels only ever shrink, so the label total is
    # strictly decreasing until fixpoint — one cheap aggregate (which also
    # materializes the round's persist) replaces a join-based changed-row
    # count. decimal(38,0) keeps the total exact for 64-bit ids.
    total = F.sum(F.col("lab").cast("decimal(38,0)")).alias("t")
    prev = lab.agg(total).collect()[0]["t"]
    # computing lab materialized sym's checkpoint; drop the pre-repartition
    # copy so the edge list isn't held in block storage twice for the loop
    sym0.unpersist()

    for _ in range(max_iter):
        # min label over neighbors: shuffle sym on v to meet lab(v)
        nbmin = (
            sym.join(lab.select(F.col("u").alias("v"), "lab"), "v")
            .groupBy("u")
            .agg(F.min("lab").alias("__nlab"))
        )
        prop = lab.join(nbmin, "u", "left").select(
            "u", F.least("lab", F.coalesce("__nlab", F.col("lab"))).alias("lab")
        )
        # pointer jump: lab(u) <- lab(lab(u)) (labels only shrink, so
        # jumping against the pre-round table is still monotone-safe)
        jumped = prop.join(
            lab.select(F.col("u").alias("lab"), F.col("lab").alias("__plab")),
            "lab",
            "left",
        ).select(
            "u", F.least("lab", F.coalesce("__plab", F.col("lab"))).alias("lab")
        )
        # lazy checkpoint per round: flat plan, materialized by the
        # convergence aggregate below — one job per round total. The
        # repartition pins every round's label table to the same n_parts
        # (stable task counts; the extra 16-byte-row exchange is noise
        # next to the two joins).
        jumped = jumped.repartition(n_parts, "u").localCheckpoint(eager=False)
        cur = jumped.agg(total).collect()[0]["t"]
        lab = jumped
        if cur == prev:
            return lab.select(F.col("u").alias("node"), F.col("lab").alias("component"))
        prev = cur
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def canonical_docs(
    corpus: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one survivor per duplicate cluster: the min-id doc (== its own
    component label). Non-survivors are dropped; survivors keep all
    corpus columns."""
    keep = components.filter(F.col("node") == F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return corpus.join(keep, id_col, "left_semi")


_CC_ORACLE = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM corpus
  UNION
  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (
  SELECT node, min(lab) AS component FROM reach GROUP BY node
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(component AS BIGINT) AS component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM comp
ORDER BY 1
"""


@register("dedup_connected_components", oracle=_CC_ORACLE, bench=True)
def q_connected_components(spark, sf_dir):
    """Full dedup-clustering pipeline: MinHash/LSH verified pairs →
    connected components → (doc, component, cluster_size) for every doc
    in the duplicate-injected corpus (singletons included). The oracle
    recomputes components from scratch with a recursive CTE."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, max_band_bucket=50)
    cc = connected_components(pairs, nodes=corpus)
    return (
        cc.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .select(
            F.col("node").alias("doc_id"),
            "component",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def canonical_keeper_report(
    corpus: DataFrame,
    components: DataFrame,
    score,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: one row per duplicate cluster
    naming the keeper — the member with the max ``score`` (tie: min
    id) — plus cluster size and the keeper's score. This upgrades
    :func:`canonical_docs`' min-id rule to the policy real curation
    uses (keep the longest / highest-quality duplicate, per CCNet and
    the Lee et al. dedup paper in PAPERS.md).

    Plan shape: one equi-join of the label table to the per-doc score
    (8-byte keys), then a per-component window — partitions are
    duplicate clusters, whose size is bounded by the LSH candidate caps
    upstream, so no window ever sees corpus-scale data."""
    scored = corpus.select(F.col(id_col).alias("node"), score.alias("score"))
    j = components.join(scored, "node")
    w = Window.partitionBy("component").orderBy(
        F.desc("score"), F.col("node")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("node").alias("keeper_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("score").cast("bigint").alias("keeper_score"),
        )
    )


_CANONICAL_KEEPER_ORACLE = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM corpus
  UNION
  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (
  SELECT node, min(lab) AS component FROM reach GROUP BY node
),
scored AS (SELECT doc_id, length(text) AS score FROM corpus),
sized AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1),
ranked AS (
  SELECT c.component, c.node, s.score,
         row_number() OVER (
           PARTITION BY c.component ORDER BY s.score DESC, c.node
         ) AS rn
  FROM comp c JOIN scored s ON s.doc_id = c.node
)
SELECT CAST(r.component AS BIGINT) AS component,
       CAST(r.node AS BIGINT) AS keeper_id,
       CAST(z.cluster_size AS BIGINT) AS cluster_size,
       CAST(r.score AS BIGINT) AS keeper_score
FROM ranked r JOIN sized z USING (component)
WHERE r.rn = 1
ORDER BY 1
"""


@register("dedup_canonical_keeper", oracle=_CANONICAL_KEEPER_ORACLE, bench=True)
def q_canonical_keeper(spark, sf_dir):
    """Cluster → keeper decision table over the duplicate-injected
    corpus, longest-member policy: the ' zzz extra' near-copies are 10
    chars LONGER than their originals, so their clusters elect the
    near-copy — visibly different output from the min-id rule, which a
    wrong implementation would collapse back to. Exact-copy clusters
    tie on length and fall to min id (the original)."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, max_band_bucket=50)
    cc = connected_components(pairs, nodes=corpus)
    return canonical_keeper_report(
        corpus, cc, F.length("text")
    ).orderBy("component")


# ---------------------------- dedup datasheet: cluster-size profile

_CLUSTER_STATS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM corpus
  UNION
  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (
  SELECT node, min(lab) AS component FROM reach GROUP BY node
),
csizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY 1
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM csizes GROUP BY cluster_size ORDER BY 1
"""


@register("dedup_cluster_stats", oracle=_CLUSTER_STATS_ORACLE, bench=True)
def q_cluster_stats(spark, sf_dir):
    """The dedup DATASHEET: cluster-size histogram over the full
    LSH→verify→connected-components pipeline — n_clusters and doc mass
    per duplicate-cluster size (size 1 = unique docs). This is the
    report a curation run publishes before canonical-keeper election:
    the dedup ratio is ``1 - sum(n_clusters)/sum(n_docs)`` and the tail
    of the histogram is what decides whether near-dup thresholds need
    tightening. Two tiny aggregates over the certified component
    table — the histogram is at most max-cluster-size rows."""
    corpus = corpus_with_duplicates(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, max_band_bucket=50)
    cc = connected_components(pairs, nodes=corpus)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ------------------- triangle counting (degree-ordered orientation)

def triangle_count(edges: DataFrame, persist_edges: bool = True) -> DataFrame:
    """Exact triangle count over an undirected edge table (``a < b``
    per row, no duplicates) — the clustering-coefficient numerator and
    the classic community-density signal over co-occurrence graphs.

    Algorithm: degree-ordered orientation (Suri & Vassilvitskii 2011
    "Counting triangles and the curse of the last reducer") in its
    compact-forward form (Latapy 2008). Every edge is directed from its
    (degree, id)-lexico smaller endpoint to the larger; in that acyclic
    orientation each triangle {u,v,w} has exactly ONE directed path
    u→v, u→w, v→w, so summing |N⁺(u) ∩ N⁺(v)| over directed edges
    (u,v) counts each triangle exactly once. The out-neighborhoods are
    collected as per-vertex arrays (outdeg ≤ O(sqrt m) by the
    orientation — the hub cap that kills the "last reducer") and the
    intersection runs MAP-SIDE via ``array_intersect``: the only
    shuffles are the degree agg, the adjacency agg, and two equi-joins
    of the edge list against the |V|-row adjacency table. The naive
    wedge self-join alternative shuffles Σ outdeg(u)² rows (~72M at
    sf0.1, 60× the edge list) before the closing-edge probe; measured
    3× slower here and strictly worse at scale.

    ``persist_edges`` materializes the edge table and the oriented edge
    table once for their multiple consumers — ``edges`` feeds the degree
    build, the orientation join, and the n_edges scalar; ``oriented``
    feeds the adjacency agg and the per-edge intersection scan. Without
    it exchange reuse is left to chance and the (often expensive) edge
    derivation recomputes 3x — the same house pattern as
    ``persist_shingles`` (operators/dedup.py:255, measured 3.7x there).
    The cluster-scale analog is a temp-table write of the edge list
    before the triangle pass.

    Returns one row: (n_nodes, n_edges, n_triangles)."""
    if persist_edges:
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    if persist_edges:
        oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
    adj = oriented.groupBy("u").agg(F.collect_set("w").alias("nbrs"))
    tri = (
        oriented.join(adj, "u")
        .join(
            adj.select(F.col("u").alias("w"), F.col("nbrs").alias("nbrs_w")),
            "w",
        )
        .select(
            F.size(F.array_intersect(F.col("nbrs"), F.col("nbrs_w"))).alias(
                "c"
            )
        )
    )
    return (
        # inner joins drop edges whose head has no out-neighbors (they
        # contribute 0 triangles); coalesce covers the all-dropped case
        tri.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_triangles"))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .crossJoin(
            F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        )
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


def order_part_pairs(lineitem: DataFrame) -> DataFrame:
    """One ``(a, b)`` row (``a < b``) per distinct part pair per order.

    r11 rewrite (guide §2.3/§2.4): the original self-join formulation
    (``li.distinct()`` then ``li ⋈ li ON l_orderkey``) scanned lineitem
    twice and shuffled three times — once for the row-level distinct on
    (orderkey, partkey), once more per join side to co-partition on
    orderkey alone, then again for the consumer's pair-level aggregate.
    Orders are tiny (≤7 lines in TPC-H-shaped data), so the pair
    enumeration is a per-group in-memory problem: ONE scan feeds ONE
    groupBy(orderkey) whose map-side-combined ``collect_set`` dedups
    parts per order, and the a<b pairs are generated from the sorted
    array with higher-order functions — no second scan, no join, and
    the only remaining exchanges are the orderkey agg plus whatever the
    consumer aggregates by. Pair multiset is identical by construction
    (sorted distinct parts per order → all i<j combinations)."""
    # r12 (guide §2.4/§2.5): hash-repartition on the GROUP KEY before the
    # aggregate. The local testdata parquet is single-row-group, so the
    # scan is one task and the groupBy's map-side partial collect_set —
    # plus nothing else — ran single-threaded before the exchange; keyed
    # repartition shares the groupBy's exchange (same key, same count ⇒
    # no extra node) while moving the per-order set-build and pair
    # explosion onto the full session width. Interleaved A/B at sf0.1:
    # edge build 1.4-1.6 s -> 0.85-1.2 s. Width comes from the session's
    # shuffle-partition conf (the count the groupBy exchange would use
    # anyway), so cluster sizing is whatever the deployment sets.
    n_parts = int(lineitem.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = (
        lineitem.select("l_orderkey", "l_partkey")
        .repartition(n_parts, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select("ps")
    )
    pairs = F.explode(
        F.flatten(
            F.expr(
                "transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b)))"
            )
        )
    ).alias("p")
    return parts.select(pairs).select("p.a", "p.b")


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct co-purchase part pairs (same order, ``a < b``) — the
    market-basket graph. Pair generation is per-order (bounded by order
    size², ~7 lines max in TPC-H-shaped data), never cross-order; see
    ``order_part_pairs`` for the one-scan/two-exchange shape."""
    return order_part_pairs(lineitem).distinct()


_TRIANGLE_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT pa.l_partkey AS a, pb.l_partkey AS b
  FROM li pa JOIN li pb
    ON pa.l_orderkey = pb.l_orderkey AND pa.l_partkey < pb.l_partkey
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS w
  FROM edges e
  JOIN deg da ON da.v = e.a
  JOIN deg db ON db.v = e.b
),
wedges AS (
  SELECT o1.u, o1.w AS x, o2.w AS y
  FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u AND o1.w < o2.w
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges t JOIN edges e ON e.a = t.x AND e.b = t.y
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM tri
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE, bench=True)
def q_triangle_count(spark, sf_dir):
    """Triangle count of the part co-purchase graph (degree-ordered
    orientation — each triangle counted exactly once)."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return triangle_count(copurchase_edges(li))


# -------------------- integer PageRank (fixed unrolled iterations)

PAGERANK_SCALE = 1_000_000
PAGERANK_ITERS = 3


def pagerank_integer(
    edges: DataFrame,
    iterations: int = PAGERANK_ITERS,
    checkpoint_each_round: bool = False,
    checkpoint_every: int = 1,
) -> DataFrame:
    """PageRank over an undirected edge table (``a < b`` rows) with the
    whole iteration in INTEGER micro-units — the repo's answer to "can
    an iterative algorithm be hash-certified cross-engine": floats
    accumulate in shuffle-dependent order, but ``r/deg`` as BIGINT floor
    division and damping as ``150000 + (850000·Σ) div 1e6`` make every
    iterate a pure integer function of the edge set. The floor
    truncation loses < 1 micro-unit per incident edge per step — far
    below ranking resolution — and buys bit-exactness.

    Scale shape: each iteration is one equi-join (directed edges ⋈
    ranks on the source) plus one groupBy(dst) partial-sum shuffle —
    the standard Pregel-as-relational lowering; the plan unrolls
    ``iterations`` times (fixed small k; for large k checkpoint per
    round as connected-components does). Degrees broadcast-join when
    small, AQE otherwise.

    Returns (node, rank_micros) — Σ rank ≈ N·1e6 conserved up to the
    documented floor loss.

    ``checkpoint_each_round`` selects WHERE the computation is cut,
    never what it computes: False leaves one unrolled lazy plan (right
    for small fixed k); True ends every round with an eager
    ``localCheckpoint`` — iterate materialized, lineage cut, next
    round's plan always one join + one partial-sum regardless of k (the
    ``connected_components`` idiom, graph.py:43) — and persists
    directed/deg across the k probes. ONE iteration body serves both
    modes, so the bit-equality the k10 cert and
    test_pagerank_checkpointed_equals_unrolled pin cannot desync."""
    from pyspark.storagelevel import StorageLevel

    directed = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    deg = directed.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # r11 (guide §2.4): (u, v, deg(u)) is static across iterations — join
    # degrees onto the edge list ONCE, outside the loop, so each round is
    # one join + one partial-sum instead of two joins + one partial-sum.
    # ``r div deg`` is computed from the same operands, so the integer
    # iterates (and the k10 bit-exact certification) are unchanged.
    directed_deg = directed.join(deg, "u")
    if checkpoint_each_round:
        directed_deg = directed_deg.persist(StorageLevel.MEMORY_AND_DISK)
        deg = deg.persist(StorageLevel.MEMORY_AND_DISK)
    ranks = deg.select(
        "u", F.lit(PAGERANK_SCALE).cast("long").alias("r")
    )
    for _i in range(iterations):
        contrib = (
            directed_deg.join(ranks, "u")
            .select("v", F.expr("r div deg").alias("c"))
        )
        ranks = (
            contrib.groupBy(F.col("v").alias("u"))
            .agg(F.sum("c").alias("s"))
            .select(
                "u",
                (
                    F.lit(150000)
                    + F.expr(f"(850000 * s) div {PAGERANK_SCALE}")
                ).cast("long").alias("r"),
            )
        )
        if checkpoint_each_round and (
            (_i + 1) % checkpoint_every == 0 or _i == iterations - 1
        ):
            # eager: materialize THIS segment before cutting lineage; the
            # previous checkpoint blocks become unreferenced and are
            # reclaimed by the ContextCleaner. ``checkpoint_every`` sets
            # the cadence (r11, guide §1.2): each eager cut is a full
            # materialization JOB, and per-round cuts at k=10 measured
            # 14.0 s vs 8.9 s at a 5-round cadence (sf0.1) — the plan
            # between cuts stays a bounded ``checkpoint_every`` unrolled
            # rounds (never O(k)), and values are bit-identical because
            # a checkpoint only selects where lineage is cut.
            ranks = ranks.localCheckpoint(eager=True)
    if checkpoint_each_round:
        # the eager final checkpoint no longer references these
        directed_deg.unpersist()
        deg.unpersist()
    return ranks.select(F.col("u").alias("node"), F.col("r").alias("rank_micros"))


def _pagerank_oracle(iterations: int = PAGERANK_ITERS) -> str:
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(f"""
r{i} AS (
  SELECT d.v AS u,
         150000 + (850000 * sum({prev}.r // deg.deg)) // {PAGERANK_SCALE} AS r
  FROM directed d
  JOIN {prev} ON {prev}.u = d.u
  JOIN deg ON deg.u = d.u
  GROUP BY 1
)""")
        prev = f"r{i}"
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT pa.l_partkey AS a, pb.l_partkey AS b
  FROM li pa JOIN li pb
    ON pa.l_orderkey = pb.l_orderkey AND pa.l_partkey < pb.l_partkey
),
directed AS (
  SELECT a AS u, b AS v FROM edges
  UNION ALL SELECT b AS u, a AS v FROM edges
),
deg AS (SELECT u, count(*) AS deg FROM directed GROUP BY 1),
r0 AS (SELECT u, CAST({PAGERANK_SCALE} AS BIGINT) AS r FROM deg),
{",".join(steps)}
SELECT CAST(u AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_micros
FROM {prev} ORDER BY 1
"""


@register("graph_pagerank", oracle=_pagerank_oracle(), bench=True)
def q_pagerank(spark, sf_dir):
    """3-iteration integer PageRank of the part co-purchase graph
    (bit-exact iterative computation — every iterate is BIGINT)."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return pagerank_integer(copurchase_edges(li)).orderBy("node")


PAGERANK_K10_ITERS = 10


def pagerank_integer_checkpointed(
    edges: DataFrame, iterations: int = PAGERANK_K10_ITERS
) -> DataFrame:
    """Deep-k integer PageRank with lineage truncation — the form that
    certifies ITERATIVE DEPTH, not just plan unrolling. A thin wrapper:
    the iteration body is ``pagerank_integer``'s, with
    ``checkpoint_each_round=True`` (see its docstring for the cut
    semantics); the 5-round checkpoint cadence bounds both the plan
    depth (≤5 unrolled rounds between cuts) and the number of eager
    materialization jobs (measured 14.0 -> 8.9 s at sf0.1 vs per-round
    cuts — values bit-identical either way)."""
    return pagerank_integer(
        edges, iterations, checkpoint_each_round=True, checkpoint_every=5
    )


@register("graph_pagerank_k10", oracle=_pagerank_oracle(PAGERANK_K10_ITERS), bench=True)
def q_pagerank_k10(spark, sf_dir):
    """10-iteration checkpointed integer PageRank of the co-purchase
    graph: per-round localCheckpoint keeps plan depth O(1) in k while
    every iterate stays the same bit-exact BIGINT function the unrolled
    form computes."""
    from machine_learning_with_spark_streaming_spark.schemas import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return pagerank_integer_checkpointed(copurchase_edges(li)).orderBy("node")
