"""Decoupled compaction: serve the index LIVE from base + unmerged epochs.

`apply_epoch_deltas` (indexed_search.py) rewrites every carried-over
posting byte per merge — full compaction. SCALE.md §3h names that the
remaining maintenance ceiling; the answer (ES's own architecture: a
searcher over sealed base segments plus fresh small segments) is to SERVE
between compactions from the base snapshot UNION the epoch deltas, and
compact only every N epochs. This module is that serving path, made
product-grade:

- ``read_live_postings``  : base postings (terms-pruned, minus docs any
  epoch re-indexed — one broadcast anti-join against the delta-sized
  changed set) ∪ epoch postings latest-epoch-wins.
- ``bm25_live``           : BM25 over the live view with EXACT statistics:
  N/avgdl update by integer add/subtract of the changed docs' moments
  (base doclen read dbucket-pruned — delta-proportional, the same
  discipline as the merge's sidecar refresh), per-term df corrected by
  the changed docs' old contributions (dbucket-pruned forward index) and
  the epochs' new ones. Serving is hash-equal to a full rebuild over the
  post-churn corpus — proven through the oracle gate by ``q_bm25_live``.
- ``compaction_due``      : the cadence policy — compact when the pending
  epoch count reaches :data:`COMPACT_EVERY_N_EPOCHS` (threshold justified
  by the measured serve-time-vs-epochs curve, SCALE.md §3i).

Scale shape: the only corpus-sized relation is the base postings read,
already pruned to the query terms' bucket directories; everything
delta-shaped broadcasts. Per-epoch maintenance cost drops from a full
postings rewrite to zero (the stream append is the only write); the cost
moves to queries as one anti-join against a delta-sized broadcast and a
few delta-proportional stat corrections — the right trade at 100 TB,
where a per-epoch corpus rewrite is unpayable and bounded per-query
overhead is not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark import artifact
from elasticsearch_hbase_river_spark.functions.concurrency import run_jobs
from elasticsearch_hbase_river_spark.functions.determinism import (
    roundn_col,
    roundn_sql,
)
from elasticsearch_hbase_river_spark.operators.indexed_search import (
    ensure_index,
    index_path_for,
    index_stats,
    read_doclen,
    read_postings,
    read_tvectors,
    read_vocab,
)
from elasticsearch_hbase_river_spark.operators.search import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    BM25_TOP,
    inverted_postings,
)
from elasticsearch_hbase_river_spark.sources.tables import load_table

#: Compaction cadence: serve base + epochs unmerged until this many epochs
#: are pending, then fold them with ``apply_epoch_deltas``. Justification
#: (SCALE.md §3i): serving degrades gently and roughly linearly with
#: pending epochs (each adds delta-sized union + arbitration work), while
#: every avoided merge saves a full carried-bytes rewrite — at 8 epochs the
#: measured live-serve overhead is still well under one merge's cost
#: amortized per epoch, and segment-count growth stays bounded.
COMPACT_EVERY_N_EPOCHS = 8


def pending_epochs(epochs_dir: str) -> int:
    """How many stream epochs are waiting to be folded into the base."""
    p = os.path.join(epochs_dir, "postings")
    if not os.path.isdir(p):
        return 0
    return sum(1 for e in os.listdir(p) if e.startswith("epoch="))


def compaction_due(epochs_dir: str,
                   every_n: int = COMPACT_EVERY_N_EPOCHS) -> bool:
    """The cadence policy: compact when ``every_n`` epochs are pending."""
    return pending_epochs(epochs_dir) >= every_n


def read_live_postings(spark: SparkSession, base_path: str,
                       epochs_dir: str,
                       terms: tuple[str, ...] | None = None,
                       fresh: DataFrame | None = None,
                       changed: DataFrame | None = None) -> DataFrame:
    """The live postings view between compactions: base postings pruned to
    ``terms``, minus every doc an epoch re-indexed (broadcast anti-join
    against the delta-sized changed set), union the epochs' own postings
    (latest epoch wins per doc — `read_inverted_index` semantics). The
    union is segment-read composition: no shuffle beyond the anti-join's
    broadcast. Callers that already materialized the epoch arbitration
    (``read_inverted_index`` / ``read_epoch_docs`` are latest-wins
    windows over the epoch manifests) pass ``fresh``/``changed`` so the
    query path pays that work ONCE, not per consumer."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_epoch_docs,
        read_inverted_index,
    )

    if fresh is None:
        fresh = read_inverted_index(spark, epochs_dir)
    if changed is None:
        changed = read_epoch_docs(spark, epochs_dir).select("doc_id")
    changed = changed.select("doc_id")
    if terms:
        fresh = fresh.filter(F.col("token").isin(*terms))
    cols = ["token", "doc_id", "tf", "first_pos", "positions", "dl"]
    base = read_postings(spark, base_path, terms).select(*cols)
    return (base.join(F.broadcast(changed), "doc_id", "left_anti")
            .unionByName(fresh.select(*cols)))


def bm25_live(spark: SparkSession, base_path: str, epochs_dir: str,
              terms: tuple[str, ...] = BM25_TERMS,
              top: int = BM25_TOP) -> DataFrame:
    """BM25 top-k over the live (base + epochs) view with EXACT corpus
    statistics — every correction is delta-proportional:

    - N / avgdl: base stats sidecar ± the changed docs' doc-count and
      length moments (base doclen read pruned to the changed docs'
      dbuckets; epoch manifest aggregated — both delta-sized).
    - per-term df: base vocab (terms-pruned buckets) − the changed docs'
      old term occurrences (dbucket-pruned forward index) + the epochs'
      new ones. All three relations broadcast.
    """
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        _check_epochs_layout,
        read_epoch_docs,
        read_inverted_index,
    )
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        index_mode,
    )

    # analyzer-mode consistency between base snapshot and epochs: a
    # mixed-tokenization live view is silent corruption (same marker
    # discipline as apply_epoch_deltas)
    _check_epochs_layout(epochs_dir, mode=index_mode(base_path))

    # materialize the two epoch-arbitration views ONCE (delta-sized:
    # latest-wins windows over the epoch manifests) — bm25_live and
    # read_live_postings both consume them, and without the checkpoint
    # the query path re-ran the arbitration per consumer
    fresh_docs = read_epoch_docs(spark, epochs_dir) \
        .localCheckpoint(eager=True)
    fresh_all = read_inverted_index(spark, epochs_dir) \
        .localCheckpoint(eager=True)
    changed = fresh_docs.select("doc_id")

    st = index_stats(base_path)
    # ONE driver job over the (checkpointed, delta-sized) epoch manifest
    # computes the added-doc moments AND the touched dbuckets (r11: the
    # separate changed_dbuckets collect was a second sequential job).
    # collect_set over the bucket column is executor-side distinct first,
    # so the driver row holds at most N_BUCKETS ids — same epoch-storm
    # bound as changed_dbuckets, same saturation-to-full-scan guard.
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        N_BUCKETS,
        _dbucket,
    )

    added = fresh_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("dl"),
        F.collect_set(_dbucket(F.col("doc_id"))).alias("bs")).first()
    bs = sorted(added["bs"])
    dbuckets = None if len(bs) >= N_BUCKETS else bs
    removed = (read_doclen(spark, base_path, dbuckets)
               .join(F.broadcast(changed), "doc_id", "left_semi")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("dl")).first())
    n_docs = int(st["n_docs"]) - removed["n"] + added["n"]
    avgdl = (int(st["sum_dl"]) - removed["dl"] + added["dl"]) / n_docs

    fresh_tf = fresh_all.filter(F.col("token").isin(*terms))
    old_df = (read_tvectors(spark, base_path, dbuckets)
              .join(F.broadcast(changed), "doc_id", "left_semi")
              .filter(F.col("token").isin(*terms))
              .groupBy("token")
              .agg(F.count(F.lit(1)).cast("long").alias("df_old")))
    new_df = (fresh_tf.groupBy("token")
              .agg(F.count(F.lit(1)).cast("long").alias("df_new")))
    z = F.lit(0).cast("long")
    df_live = (read_vocab(spark, base_path, terms).select("token", "df")
               .join(old_df, "token", "full_outer")
               .join(new_df, "token", "full_outer")
               .select("token",
                       (F.coalesce("df", z) - F.coalesce("df_old", z)
                        + F.coalesce("df_new", z)).alias("df"))
               .filter(F.col("df") > 0))

    tf = read_live_postings(spark, base_path, epochs_dir, terms,
                            fresh=fresh_all, changed=changed) \
        .select("doc_id", "token", "tf", "dl")
    scored = tf.join(F.broadcast(df_live), "token")
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B
                                 + BM25_B * F.col("dl") / F.lit(avgdl)))
    per_doc = (scored.select("doc_id", (idf * tf_norm).alias("c"))
               .groupBy("doc_id")
               .agg(roundn_col(F.sum("c")).alias("score")))
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (per_doc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(top)
            .withColumn("rank", F.row_number().over(w).cast("long")))


# ---------------------------------------------------------------------------
# Deterministic churn-epoch fixture for the oracle gate: 1-in-LIVE_CHURN_MOD
# documents re-indexed with an appended suffix — the selector is md5-based
# so DuckDB derives the identical post-churn corpus.

LIVE_CHURN_MOD = 20
LIVE_CHURN_SUFFIX = " refreshed epoch"


def _churned_docs(docs: DataFrame) -> DataFrame:
    sel = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                  16, 10).cast("long") % LIVE_CHURN_MOD == 0)
    return docs.filter(sel).select(
        "doc_id", F.concat("text", F.lit(LIVE_CHURN_SUFFIX)).alias("text"))


#: DuckDB twin: the POST-churn corpus the live view must serve exactly.
_DOCS2_SQL = f"""
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % {LIVE_CHURN_MOD} = 0
            THEN text || '{LIVE_CHURN_SUFFIX}' ELSE text END AS text
FROM documents"""


def ensure_live_epochs(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent churn-epoch fixture in the stream's epochs layout
    (postings/ + docs/ per epoch + layout marker), keyed by the corpus
    fingerprint so it is never served against a different corpus."""
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_tokens,
    )
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        _EPOCHS_META,
        _stamp_epochs_layout,
    )

    path = index_path_for(sf_dir) + "-live-epochs"
    if os.path.exists(os.path.join(path, _EPOCHS_META)):
        return path
    with artifact.publishing(path, _EPOCHS_META) as tmp:
        churned = _churned_docs(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"))
        # two independent writes from the same churned relation —
        # overlapped (guide §2.6)
        run_jobs(
            lambda: (inverted_postings(churned)
                     .write.mode("overwrite")
                     .parquet(f"{tmp}/postings/epoch=0")),
            lambda: (churned.select(
                "doc_id",
                F.size(analyze_tokens(F.col("text"))).cast("long")
                .alias("dl"))
                .write.mode("overwrite").parquet(f"{tmp}/docs/epoch=0")))
        _stamp_epochs_layout(tmp)
    return path


def q_bm25_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOP} served LIVE from the base index + one unmerged
    churn epoch (no compaction ran): must hash-equal a full rebuild over
    the post-churn corpus — the correctness contract that makes the
    decoupled compaction cadence safe."""
    base = ensure_index(spark, sf_dir)
    epochs = ensure_live_epochs(spark, sf_dir)
    return bm25_live(spark, base, epochs)


QUERIES = {"q_bm25_live": q_bm25_live}

from elasticsearch_hbase_river_spark.functions.analyzer import (  # noqa: E402
    analyze_toks_sql,
)

_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
_TOKS2 = analyze_toks_sql("text")

ORACLES = {
    "q_bm25_live": f"""
WITH docs2 AS ({_DOCS2_SQL}),
tok AS (
  SELECT doc_id, unnest(toks) AS token
  FROM (SELECT doc_id, {_TOKS2} AS toks FROM docs2)),
dl AS (SELECT doc_id, CAST(len({_TOKS2}) AS BIGINT) AS dl FROM docs2),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 avg(len({_TOKS2})) AS avgdl FROM docs2),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token IN ({_TERMS_SQL}) GROUP BY doc_id, token),
dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1)) /
           (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
         AS c
  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id), stats),
scored AS (
  SELECT doc_id, {roundn_sql('sum(c)')} AS score FROM contrib GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {BM25_TOP}""",
}
