"""Iterative graph/clustering operators (extension surface): the two
algorithms a dedup/curation pipeline needs that are NOT one-pass SQL —
connected components (turning pairwise near-dup edges into dedup clusters)
and Lloyd k-means (embedding-space bucketing). The reference computes
nothing iterative (SURVEY.md §2.2); these follow the standard
Spark-iterative shape: a driver loop over DataFrame joins with tiny
per-round driver state (convergence counter / k centroid vectors — never
the data itself).

Both still carry full DuckDB oracle twins: connected components via a
recursive CTE (transitive closure + min-label), k-means via an unrolled
two-iteration SQL pipeline. So even the "non-SQL-expressible" ops get the
strong hash check.

Scale notes:
- ``q_dedup_clusters``: label propagation converges in O(diameter) rounds;
  each round is one shuffle join on the (sparse) symmetric edge list.
  Near-dup graphs have tiny diameter (dup groups are cliques-ish), so
  rounds ≈ 2-3. ``localCheckpoint`` truncates the growing lineage so round
  N doesn't replay rounds 1..N-1.
- ``q_kmeans``: centroids live on the driver (k × dim doubles) and enter
  the plan as literal arrays — the per-point assignment is map-side
  (broadcast semantics without even a join); the update is one
  posexplode + groupBy(cluster, dim) shuffle of k·dim partial sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import roundn_col, roundn_sql
from elasticsearch_hbase_river_spark.operators.dedup import (
    _AUG_SQL_NEAR,
    _GH_SQL,
    _TH_SQL,
    COPY_OFFSET,
    _augmented_docs,
    _gram_hash_df,
    candidate_pairs,
)
from elasticsearch_hbase_river_spark.sources.tables import load_table

EDGE_JACCARD = 0.8
CC_MAX_ROUNDS = 6

K_CLUSTERS = 8
KMEANS_ITERS = 2
DIM = 64


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same candidate pairs as ``q_ngram_jaccard`` (original↔truncated copy
    plus adjacent-id background pairs), kept when Jaccard ≥ 0.8."""
    sh = (_gram_hash_df(_augmented_docs(spark, sf_dir, exact=False))
          .withColumnRenamed("gh", "sh"))
    pairs = candidate_pairs(sh)
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"),
                         roundn_col(inter / union).alias("j"))
                 .filter(F.col("j") >= EDGE_JACCARD)
                 .select("src", "dst"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components by iterative min-label
    propagation; cluster id = min doc_id in the component.

    The propagation loop runs on the EDGE-INDUCED subgraph only (r11,
    guide §2.3 shuffle fewer bytes): a doc with no near-dup edge can
    never change its label (no ``src`` row matches it, and its own row
    contributes ``min(comp) = doc_id``), so shuffling the whole corpus's
    label table every round carried dead weight — the edge-incident node
    set is what propagates. Untouched docs are attached once after the
    loop as their own singleton components (coalesce on a left join),
    exactly the labels they would have converged to. On a dup-rich
    corpus the touched set approaches the corpus and the loop costs what
    it used to; it is never larger."""
    nodes = _augmented_docs(spark, sf_dir, exact=False).select("doc_id")
    edges = _near_dup_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.localCheckpoint(eager=True)

    touched = sym.select(F.col("src").alias("doc_id")).distinct()
    labels = touched.select("doc_id", F.col("doc_id").alias("comp"))
    for _ in range(CC_MAX_ROUNDS):
        # Both sides are corpus-sized (labels = every doc, sym = the dup
        # edge list, which a dup-rich corpus makes large): pin the
        # iterative joins to sort-merge. Left to itself Catalyst broadcasts
        # whichever side fits *today* — measured at 10x sf0.1 in a
        # default-memory driver, the edge-list broadcast build OOMs, and at
        # 100 TB it would be wrong even when it fits.
        prop = (labels.hint("merge").join(sym, labels.doc_id == sym.src)
                      .select(F.col("dst").alias("doc_id"), "comp",
                              F.lit(None).cast("long").alias("oldc")))
        # The convergence check rides the SAME aggregation (r11): each
        # doc has exactly one labels row, so min(oldc) recovers its
        # previous comp next to the new min(comp) — the old separate
        # new⋈labels sort-merge join per round (one full shuffle of the
        # label table) existed only to compute `changed`.
        new = (labels.select("doc_id", "comp",
                             F.col("comp").alias("oldc"))
                     .unionByName(prop)
                     .groupBy("doc_id").agg(F.min("comp").alias("comp"),
                                            F.min("oldc").alias("oldc"))
                     .localCheckpoint(eager=True))
        changed = new.filter(F.col("comp") != F.col("oldc")).count()
        labels = new.select("doc_id", "comp")
        if changed == 0:
            break

    # Re-attach the untouched (edge-free) docs as singleton components.
    labels = (nodes.join(labels, "doc_id", "left")
              .select("doc_id",
                      F.coalesce(F.col("comp"), F.col("doc_id")).alias("comp")))

    size_w = Window.partitionBy("cluster_id")
    return (labels.select("doc_id", F.col("comp").alias("cluster_id"))
            .withColumn("cluster_size",
                        F.count(F.lit(1)).over(size_w).cast("long"))
            .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id")))


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup outcome: the corpus that SURVIVES near-dup
    clustering — one keeper (min doc_id) per connected component, with how
    many documents it absorbed. This is the curation step the clusters
    exist for: keep = clusters ⨝ documents on the keeper id."""
    clusters = q_dedup_clusters(spark, sf_dir)
    keepers = (clusters.filter(F.col("is_keeper"))
               .select("doc_id", (F.col("cluster_size") - 1).alias("n_absorbed")))
    docs = _augmented_docs(spark, sf_dir, exact=False) \
        .select("doc_id", F.length("text").cast("long").alias("n_chars_kept"))
    return keepers.hint("merge").join(docs, "doc_id").select(
        "doc_id", "n_absorbed", "n_chars_kept")


def _sq_dist(e: F.Column, cen: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(e, cen, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def _km_argmin(cents: F.Column) -> F.Column:
    """Nearest-centroid pick over a broadcast ``cents`` array of
    struct<c, cen>: min of (dist, c) structs — the exact (d, then lower
    cluster id) tie rule of the literal-argmin form."""
    return F.array_min(F.transform(cents, lambda s: F.struct(
        _sq_dist(F.col("e"), s["cen"]).alias("d"), s["c"].alias("c"))))


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations on the embedding table, k=8, centroids
    initialized from the first k vectors (deterministic seed).

    The whole Lloyd tail runs INSIDE one Spark action (r12, guide §5.1 —
    the same restructure q_semdedup got in r11): centroids ride 1-row
    ``cents: array<struct<c, cen>>`` relations broadcast into each
    assignment instead of a driver ``collect()`` + a K×dim literal
    rebuild per iteration (512 ``F.lit`` py4j calls and a full
    sequential job before the final plan even existed). Centroid
    components are the identical per-(cluster, pos) avg aggregates —
    same doubles, no Python round trip — and the argmin keeps the
    (dist, lower cluster id) struct-min tie rule, so results are
    bit-identical to the literal path (oracle-pinned)."""
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id",
                   F.transform("embedding",
                               lambda x: x.cast("double")).alias("e")))
    # init cents: the K smallest vec_ids' vectors, cluster id = vec_id —
    # K-row agg, sorted by cluster id exactly like sorted(init.items())
    cents = (emb.filter(F.col("vec_id") < K_CLUSTERS)
             .select(F.struct(F.col("vec_id").cast("int").alias("c"),
                              F.col("e").alias("cen")).alias("s"))
             .agg(F.array_sort(F.collect_list("s")).alias("cents")))

    for _ in range(KMEANS_ITERS - 1):
        assigned = (emb.crossJoin(F.broadcast(cents))
                    .select("vec_id", "e",
                            _km_argmin(F.col("cents"))["c"].alias("cluster")))
        comp = (assigned
                .select("cluster", F.posexplode("e").alias("pos", "v"))
                .groupBy("cluster", "pos").agg(F.avg("v").alias("m")))
        cent = (comp.groupBy("cluster")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"]).alias("cen")))
        cents = (cent.select(F.struct(F.col("cluster").alias("c"),
                                      F.col("cen")).alias("s"))
                 .agg(F.array_sort(F.collect_list("s")).alias("cents")))

    # final assignment: bind the argmin struct ONCE inside a 1-element
    # transform (the _let trick) so cluster and dist don't each re-run it
    bound = F.element_at(
        F.transform(F.array(_km_argmin(F.col("cents"))), lambda b:
                    F.struct(b["c"].alias("cluster"), b["d"].alias("d"))),
        1)
    return (emb.crossJoin(F.broadcast(cents))
            .select("vec_id", bound.alias("b"))
            .select("vec_id", F.col("b.cluster").cast("long").alias("cluster"),
                    roundn_col(F.col("b.d"), 4).alias("sq_dist")))


QUERIES = {
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_keep": q_dedup_keep,
    "q_kmeans": q_kmeans,
}

_EDGES_SQL = f"""
aug AS ({_AUG_SQL_NEAR}),
thq AS (SELECT doc_id, text, {_TH_SQL} AS th FROM aug),
sh AS (SELECT doc_id, {_GH_SQL} AS sh FROM thq),
pairs AS (
  -- two equi-joins unioned, NOT one OR-join: DuckDB (like Spark) cannot
  -- extract equi keys from the OR and falls back to a quadratic
  -- nested-loop — measured ~an hour at 30x fixture scale vs seconds here.
  SELECT a.doc_id AS src, b.doc_id AS dst,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + {COPY_OFFSET}
  UNION ALL
  SELECT a.doc_id, b.doc_id,
         len(list_intersect(a.sh, b.sh)),
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id < {COPY_OFFSET} AND b.doc_id < {COPY_OFFSET}),
edges AS (
  SELECT src, dst FROM pairs WHERE {roundn_sql('i / u')} >= {EDGE_JACCARD}),
sym AS (SELECT src, dst FROM edges
        UNION ALL SELECT dst, src FROM edges)
"""

# k-means SQL: dims are 1-indexed lists; distance folds in dimension order
# exactly like Spark's zip_with/aggregate, so the doubles agree bit-for-bit.
_KM_DIST = ("list_sum(list_transform(range(1, {n}), "
            "i -> (emb.e[i] - c.e[i]) * (emb.e[i] - c.e[i])))").format(n=DIM + 1)

ORACLES = {
    "q_dedup_clusters": f"""
WITH RECURSIVE
{_EDGES_SQL},
cc(node, comp) AS (
  SELECT doc_id, doc_id FROM aug
  UNION
  SELECT s.dst, cc.comp FROM cc JOIN sym s ON s.src = cc.node),
labels AS (
  SELECT node AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY node)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS is_keeper
FROM labels""",

    "q_dedup_keep": f"""
WITH RECURSIVE
{_EDGES_SQL},
cc(node, comp) AS (
  SELECT doc_id, doc_id FROM aug
  UNION
  SELECT s.dst, cc.comp FROM cc JOIN sym s ON s.src = cc.node),
labels AS (
  SELECT node AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY node),
sized AS (
  SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM labels)
SELECT s.doc_id, CAST(s.cluster_size - 1 AS BIGINT) AS n_absorbed,
       CAST(length(a.text) AS BIGINT) AS n_chars_kept
FROM sized s JOIN aug a ON a.doc_id = s.doc_id
WHERE s.doc_id = s.cluster_id""",

    "q_kmeans": f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
c0 AS (SELECT vec_id AS cluster, e FROM emb WHERE vec_id < {K_CLUSTERS}),
d1 AS (
  SELECT emb.vec_id, c.cluster AS cluster, {_KM_DIST} AS d
  FROM emb CROSS JOIN c0 c),
a1 AS (
  SELECT vec_id, cluster, d FROM (
    SELECT vec_id, cluster, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS r
    FROM d1) WHERE r = 1),
m1 AS (
  SELECT a1.cluster, r.i, avg(emb.e[r.i]) AS m
  FROM a1 JOIN emb USING (vec_id), range(1, {DIM + 1}) r(i)
  GROUP BY a1.cluster, r.i),
c1 AS (
  SELECT cluster, list(m ORDER BY i) AS e FROM m1 GROUP BY cluster),
d2 AS (
  SELECT emb.vec_id, c.cluster AS cluster, {_KM_DIST} AS d
  FROM emb CROSS JOIN c1 c),
a2 AS (
  SELECT vec_id, cluster, d FROM (
    SELECT vec_id, cluster, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS r
    FROM d2) WHERE r = 1)
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       {roundn_sql('d', 4)} AS sq_dist
FROM a2""",
}
