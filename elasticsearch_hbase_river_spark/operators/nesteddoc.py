"""Search over the river's OWN assembled nested documents.

The reference's product is making NESTED multi-field HBase documents
searchable: ``readDataTree`` pivots each row's cells into a nested JSON
document (`HBaseParser.java:204-216`), ``readQualifierStructure`` splits
qualifiers into nested sub-trees (`HBaseParser.java:226-244`), and the
river bootstraps an ES mapping for those dynamic fields
(`HBaseRiver.java:217-232`) so users can run field-scoped ES queries
against them. The engine assembles those documents (`assemble.py:61,80`)
and separately has fielded search (`multifield.py`); this module marries
the two halves: the FIELD column here comes from real families/qualifiers
(plus the dynamically-discovered JSON leaf keys inside the ``props``
cell), not a synthetic title/body split.

The corpus is the SPARSE cells view: HBase rows are naturally sparse
(writers emit only the columns they own), while the dense ``events``
fixture melts to all four cells for every row — so the module derives a
deterministic writer-conditioned sparsity, identical in both engines:

- ``data:value``  is written only by ``purchase`` / ``click`` events
  (the metric-bearing writers);
- ``data:props``  is written by every writer EXCEPT ``signup``;
- ``meta:*``      is always written.

Field paths are the ES dotted form ``family.qualifier``; the ``props``
JSON object is an interior node whose LEAVES become dynamic fields
(``data.props.<key>`` — exactly the trees ``readDataTree`` builds), so
the searchable field set is data-discovered, not declared.

Queries (each with a DuckDB oracle over the same derived view):

- ``q_nested_field_search``  : ES ``multi_match`` across ALL dynamic
  fields with per-field BM25 statistics (the search an ES user runs
  against the river's mapping), top-10.
- ``q_nested_path_match``    : ES ``nested`` path-scoped match — term
  match confined to one nested leaf (``data.props.k``).
- ``q_exists_field``         : ES ``exists`` per field path — how many
  documents carry each field with a non-null, non-empty value (the
  mapping-bootstrap view of the corpus).
- ``q_ids``                  : ES ``ids`` query — fetch the ASSEMBLED
  documents (same single-shuffle fold as `plans/pipeline.py`) for a
  literal id list, missing ids silently absent.
- ``q_nested_field_search_indexed`` / ``q_exists_field_indexed``: the
  same answers served from a materialized FIELDED index whose postings
  carry the real qualifier-derived field column — built once per corpus
  fingerprint, token-bucket-partitioned so term queries prune to their
  buckets (same discipline as `indexed_search.py`). Both share the
  rebuild oracles: the gate proves index-served == rebuild, hash-equal.

Scale shape: the fielded melt is a narrow projection + one generator per
cell class (no shuffle); postings build is one explode + one
partial-aggregated shuffle keyed (doc, field, token); per-field stats
and df relations are field-count-sized broadcasts; ranking is a top-k
over the ≤|terms|-filtered survivors. The index build writes each
posting bucket from its own writer task (repartition on tbucket); term
serving reads only the query terms' bucket directories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark import artifact
from elasticsearch_hbase_river_spark.functions.analyzer import (
    analyze_tokens,
    analyze_toks_sql,
)
from elasticsearch_hbase_river_spark.functions.concurrency import run_jobs
from elasticsearch_hbase_river_spark.functions.determinism import (
    roundn_col,
    roundn_sql,
)
from elasticsearch_hbase_river_spark.functions.xxh64 import pmod_bucket
from elasticsearch_hbase_river_spark.operators.search import BM25_B, BM25_K1
from elasticsearch_hbase_river_spark.sources.tables import (
    load_table,
    read_immutable,
    ts_ms_col,
)

#: multi_match terms over the dynamic fields: "error" hits only
#: meta.event_type; "87" hits meta.user_id, data.value integer parts and
#: the data.props.k leaf — cross-field by construction.
NFS_TERMS = ("error", "87")
NFS_TOP = 10

#: nested path-scoped match: path data.props, leaf field data.props.k.
NESTED_PATH_FIELD = "data.props.k"
NESTED_PATH_TERM = "87"

#: ids query literals — "no_such_row" can never equal a cast(event_id).
IDS_LIST = ("7", "19", "23", "no_such_row")

#: v2 adds the ``docstore`` table — the assembled documents themselves
#: (ES stores ``_source`` in the index), doc-bucket-partitioned so the
#: ``ids`` query is a pruned point lookup, never a corpus scan. v3 adds
#: ``fdoclen`` (doc_id, field, dl; dbucket-partitioned) and ``sum_dl``
#: on fstats — the delta-correction surface that lets LIVE serving
#: (base + unmerged stream epochs) adjust per-field statistics exactly,
#: reading only the changed docs' buckets.
NESTED_LAYOUT_VERSION = 3
N_FBUCKETS = 32
_META = "_nested_index_meta.json"


# ---------------------------------------------------------------------------
# The sparse cells view and its fielded melt (shared by every query here).


def sparse_melt(ev: DataFrame) -> DataFrame:
    """The writer-conditioned sparse melt over any events-shaped relation
    (see module doc). Same canonical schema as `sources/cells.py`; the
    sparsity predicate filters map-side on the melted rows (the
    event_type column rides the melt and is dropped after)."""
    from elasticsearch_hbase_river_spark.sources.cells import _MELT

    melted = ev.select(
        F.col("event_id").cast("string").alias("row_key"),
        ts_ms_col(ev).alias("ts_ms"),
        F.col("event_type").alias("_et"),
        F.expr(_MELT),
    )
    is_value = (F.col("family") == "data") & (F.col("qualifier") == "value")
    is_props = (F.col("family") == "data") & (F.col("qualifier") == "props")
    keep = (
        ~(is_value & ~F.col("_et").isin("purchase", "click"))
        & ~(is_props & (F.col("_et") == "signup")))
    return (melted.filter(keep)
            .select("row_key", "family", "qualifier", "value", "ts_ms"))


def sparse_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparse_melt(load_table(spark, sf_dir, "events"))


#: DuckDB twin of :func:`sparse_melt`, templated on the events relation —
#: keep in lockstep.
SPARSE_CELLS_SQL_T = """
SELECT CAST(event_id AS VARCHAR) AS row_key, 'meta' AS family,
       'event_type' AS qualifier, event_type AS value, epoch_ms(ts) AS ts_ms
FROM {src}
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'meta', 'user_id',
       CAST(user_id AS VARCHAR), epoch_ms(ts)
FROM {src}
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'data', 'value',
       CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR), epoch_ms(ts)
FROM {src} WHERE event_type IN ('purchase', 'click')
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'data', 'props', props, epoch_ms(ts)
FROM {src} WHERE event_type <> 'signup'
"""

SPARSE_CELLS_SQL = SPARSE_CELLS_SQL_T.format(src="events")


def fielded_cells_from(cells: DataFrame) -> DataFrame:
    """(doc_id, field, value): the dynamic fielded view of the assembled
    documents, from any canonical cells relation. Leaf cells map to
    ``family.qualifier``; the ``props`` JSON object expands to its leaves
    ``data.props.<key>`` (interior nodes are not fields, as in ES object
    mappings). Map-side only: a filter + a from_json map explode, no
    shuffle."""
    is_props = (F.col("family") == "data") & (F.col("qualifier") == "props")
    leaves = (cells.filter(~is_props)
              .select(F.col("row_key").alias("doc_id"),
                      F.concat_ws(".", "family", "qualifier").alias("field"),
                      "value"))
    props = (cells.filter(is_props)
             .select(F.col("row_key").alias("doc_id"),
                     F.explode(F.from_json("value", "map<string,string>"))
                     .alias("key", "val"))
             .select("doc_id",
                     F.concat(F.lit("data.props."), F.col("key"))
                     .alias("field"),
                     F.col("val").alias("value")))
    return leaves.unionByName(props)


def fielded_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fielded_cells_from(sparse_cells(spark, sf_dir))


#: DuckDB twin of :func:`fielded_cells` (expects a ``sparse`` CTE).
FCELLS_SQL = """
SELECT row_key AS doc_id, family || '.' || qualifier AS field, value
FROM sparse WHERE NOT (family = 'data' AND qualifier = 'props')
UNION ALL
SELECT row_key, 'data.props.' || k,
       json_extract_string(value, '$.' || k)
FROM (SELECT row_key, value, unnest(json_keys(value)) AS k
      FROM sparse WHERE family = 'data' AND qualifier = 'props') j
"""

def _fielded_ctes(sparse_sql: str) -> str:
    """Oracle prefix: sparse view + fielded melt + analyzed postings,
    parameterized on the sparse-cells SQL (the live-serving oracle swaps
    in a churned events relation)."""
    return f"""
sparse AS ({sparse_sql}),
fcells AS ({FCELLS_SQL}),
ftoks AS (SELECT doc_id, field, {analyze_toks_sql('value')} AS toks
          FROM fcells),
fdl AS (SELECT doc_id, field, CAST(len(toks) AS BIGINT) AS dl
        FROM ftoks WHERE len(toks) > 0),
occ AS (SELECT doc_id, field, unnest(toks) AS token FROM ftoks)"""


#: Shared oracle prefix over the fixture events table.
_FIELDED_CTES = _fielded_ctes(SPARSE_CELLS_SQL)


def _fpostings(fcells: DataFrame) -> DataFrame:
    """(doc_id, field, token, tf, dl): analyzed per-field postings. The
    token array is staged as its own projection so size() beside
    explode() doesn't re-evaluate per exploded row."""
    toks = fcells.select(
        "doc_id", "field", analyze_tokens(F.col("value")).alias("toks"))
    occ = (toks.filter(F.size("toks") > 0)
           .select("doc_id", "field",
                   F.size("toks").cast("long").alias("dl"),
                   F.explode("toks").alias("token")))
    return (occ.groupBy("doc_id", "field", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                 F.min("dl").alias("dl")))


# ---------------------------------------------------------------------------
# Rebuild-path queries.


def _bm25_rank_tail(scored: DataFrame) -> DataFrame:
    """Shared scoring tail: BM25 contribution per (doc, field, token)
    row carrying tf/dl/df/n_docs/avgdl, summed per doc, bounded top-k.
    The ONE place the formula and the tie-break live — both the
    snapshot-served and the live-served paths call it."""
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tfnorm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B
                                 + BM25_B * F.col("dl") / F.col("avgdl")))
    per_doc = (scored.select("doc_id", (idf * tfnorm).alias("c"))
               .groupBy("doc_id")
               .agg(roundn_col(F.sum("c")).alias("score")))
    top = (per_doc.orderBy(F.col("score").desc(), "doc_id").limit(NFS_TOP))
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def _score_fielded(tf: DataFrame, fdl: DataFrame,
                   fstats: DataFrame, dfr: DataFrame) -> DataFrame:
    """Per-field-statistics BM25, summed per doc across fields, top-k.
    ``fstats`` and ``dfr`` are field-count-sized — broadcast."""
    return _bm25_rank_tail(
        tf.join(F.broadcast(dfr), ["field", "token"])
        .join(fdl, ["doc_id", "field"])
        .join(F.broadcast(fstats), "field"))


def _score_fielded_inline_dl(tf: DataFrame, fstats: DataFrame,
                             dfr: DataFrame) -> DataFrame:
    """``_score_fielded`` for callers whose ``tf`` already carries the
    (doc, field) length on every row (index-served postings do): skips
    the (doc_id, field) self-join entirely — one broadcast-joined
    map-side projection, then the shared rank tail."""
    return _bm25_rank_tail(
        tf.join(F.broadcast(dfr), ["field", "token"])
        .join(F.broadcast(fstats), "field"))


def _field_dl(fc: DataFrame) -> DataFrame:
    """(doc_id, field, dl): per-doc field lengths, MAP-SIDE ONLY — each
    (doc, field) appears once in the fielded melt, so dl is a projection,
    never an aggregate. The earlier shape derived this from the full
    (doc, field, token) postings aggregate plus a distinct — two
    corpus-sized shuffles whose hash maps OOMed a default 1 GB driver at
    the 100x fixture; this one shuffles nothing."""
    dl = F.size(analyze_tokens(F.col("value"))).cast("long")
    return (fc.select("doc_id", "field", dl.alias("dl"))
            .filter(F.col("dl") > 0))


def q_nested_field_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``multi_match`` across the river's DYNAMIC fields (real
    family/qualifier paths + discovered JSON leaves): per-field BM25
    statistics (df/N/avgdl per field path), contributions summed per doc,
    top-{NFS_TOP}. Scale shape (the multifield.py discipline, sf10-swept):
    the term filter sits below the only token-level shuffle (query-term
    occurrences only); field lengths are a map-side projection; stats and
    df are field-count-sized broadcasts.

    The tokenized fielded melt is computed ONCE behind a persist (r11,
    guide §2.4/§5): the consumers previously each re-evaluated the whole
    melt + JSON-leaf expansion + tokenize — four corpus passes, two of
    them inside BroadcastExchange builds, and Catalyst's size estimate
    chose to BROADCAST the corpus-sized fdl relation (a driver/executor
    memory hazard at any real scale).

    r12 (guide §2.3 shuffle fewer bytes / §2.4 remove shuffles): each
    (doc, field) appears ONCE in the melt, so per-term tf is an IN-ROW
    occurrence count — computed map-side into a tiny struct array next
    to dl. That removes the token explode + (doc, field, token) shuffle
    AND the tf⋈fdl sort-merge join (dl now rides the tf rows — the
    `_score_fielded_inline_dl` shape the index-served twin already
    uses), and the persisted payload drops the corpus token arrays
    (their columnar encode alone measured ~0.8 s at sf0.1; warm exec
    ~2.6 → ~1.1 s, first-run ~4.8 → ~2.3 s)."""
    fc = fielded_cells(spark, sf_dir)
    from pyspark import StorageLevel
    toks = analyze_tokens(F.col("value"))
    terms = F.array(*[F.lit(t) for t in NFS_TERMS])
    tfarr = F.filter(
        F.transform(terms, lambda t: F.struct(
            t.alias("token"),
            F.size(F.filter(toks, lambda x: x == t)).cast("long")
            .alias("tf"))),
        lambda s: s["tf"] > 0)
    pers = (fc.select("doc_id", "field",
                      F.size(toks).cast("long").alias("dl"),
                      tfarr.alias("tfs"))
            .persist(StorageLevel.MEMORY_AND_DISK)
            .filter(F.col("dl") > 0))
    tf = (pers.select("doc_id", "field", "dl",
                      F.explode("tfs").alias("s"))
          .select("doc_id", "field", "dl",
                  F.col("s.token").alias("token"),
                  F.col("s.tf").alias("tf")))
    fstats = (pers.groupBy("field")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   (F.sum("dl").cast("double") / F.count(F.lit(1)))
                   .alias("avgdl")))
    dfr = (tf.groupBy("field", "token")
           .agg(F.count(F.lit(1)).cast("long").alias("df")))
    return _score_fielded_inline_dl(tf, fstats, dfr)


def q_nested_path_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` query: a match scoped to ONE nested leaf path
    ({NESTED_PATH_FIELD} = {NESTED_PATH_TERM}) — the field filter and the
    term filter are both map-side on the fielded melt; the only shuffle
    is the per-doc tf aggregation."""
    fc = fielded_cells(spark, sf_dir)
    toks = fc.filter(F.col("field") == NESTED_PATH_FIELD).select(
        "doc_id", F.explode(analyze_tokens(F.col("value"))).alias("token"))
    return (toks.filter(F.col("token") == NESTED_PATH_TERM)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))


def q_nested_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` query with ``inner_hits``: for documents whose
    ``data.props`` object has ANY leaf matching {NESTED_PATH_TERM!r},
    return the matching leaf rows themselves (field path + raw value) —
    what ES surfaces so the caller sees WHICH nested member hit. All
    filters are map-side on the fielded melt; the explode touches only
    path-scoped rows."""
    fc = fielded_cells(spark, sf_dir)
    scoped = fc.filter(F.col("field").startswith("data.props."))
    toks = scoped.select(
        "doc_id", "field", "value",
        F.explode(analyze_tokens(F.col("value"))).alias("token"))
    return (toks.filter(F.col("token") == NESTED_PATH_TERM)
            .select("doc_id", "field", "value").distinct())


def q_exists_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``exists`` per field path: documents carrying each field with a
    non-null, non-empty value — the mapping-bootstrap view of the corpus
    (each doc contributes a field at most once, so the count is a doc
    count). One partial-aggregated shuffle onto |fields| groups."""
    fc = fielded_cells(spark, sf_dir)
    return (fc.filter(F.col("value").isNotNull() & (F.col("value") != ""))
            .groupBy("field")
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count")))


def q_mapping_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The river's sink-DDL bootstrap as a queryable view
    (`HBaseRiver.java:217-232` builds the ES mapping before the first
    tick): per discovered field path, its document count and the inferred
    ES type — ``long`` when every non-empty value is an integer literal,
    ``double`` when every value is numeric, ``text`` otherwise. One
    partial-aggregated shuffle onto |fields| groups; the type inference
    is two codegen'd regex flags folded with min()."""
    fc = fielded_cells(spark, sf_dir)
    vals = fc.filter(F.col("value").isNotNull() & (F.col("value") != ""))
    is_long = F.when(F.col("value").rlike("^-?[0-9]+$"), 1).otherwise(0)
    is_num = F.when(F.col("value").rlike(r"^-?[0-9]+(\.[0-9]+)?$"),
                    1).otherwise(0)
    agg = vals.groupBy("field").agg(
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.min(is_long).alias("all_long"),
        F.min(is_num).alias("all_num"))
    es_type = (F.when(F.col("all_long") == 1, F.lit("long"))
               .when(F.col("all_num") == 1, F.lit("double"))
               .otherwise(F.lit("text")))
    return agg.select("field", "doc_count", es_type.alias("es_type"))


def q_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``ids`` query: the ASSEMBLED nested documents for a literal id
    list (missing ids absent, as in ES). The id filter lands BELOW the
    assembly fold — the groupBy(row_key) shuffle carries only the
    requested rows, and the predicate pushes into the events scan."""
    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        assemble_documents,
    )

    cells = sparse_cells(spark, sf_dir).filter(F.col("row_key").isin(*IDS_LIST))
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator=None, normalize_fields=False)
    return assemble_documents(cells, cfg).select(
        F.col("row_key").alias("doc_id"), "doc_ts_ms", "doc_json")


# ---------------------------------------------------------------------------
# The materialized fielded index (field column = real qualifiers).


def _default_root() -> str:
    import tempfile

    return os.environ.get(
        "RIVER_INDEX_ROOT",
        os.path.join(tempfile.gettempdir(), "river_search_index"))


def nested_index_path_for(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    name = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        _default_root(),
        f"nested-{name}-{st.st_size}-{st.st_mtime_ns}"
        f"-L{NESTED_LAYOUT_VERSION}")


def _tbucket(col) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(N_FBUCKETS)).cast("int")


def build_nested_index(spark: SparkSession, fcells: DataFrame,
                       path: str,
                       assembled: DataFrame | None = None) -> None:
    """Materialize the fielded serving layout: ``fpostings`` (doc_id,
    field, token, tf, dl) token-bucket-partitioned so term queries prune;
    ``fvocab`` (field, token, df) the same way; ``fstats`` one row per
    field (n_docs, avgdl, n_exists — the exists count uses ES's raw
    non-null/non-empty notion, independent of analyzability); and, when
    ``assembled`` is given, ``docstore`` — the assembled documents
    themselves (ES's ``_source``), doc-bucket-partitioned for point
    lookups. Fully distributed; the only driver work is the atomic
    publish rename."""
    with artifact.publishing(path, _META) as tmp:
        # Independent parquet writes overlapped per optimization guide §2.6:
        # docstore / fpostings / fdoclen derive only from their inputs and
        # run concurrently; fvocab (from landed fpostings) and fstats (from
        # landed fdoclen + fcells) follow in a second overlapped pair.
        def _docstore() -> None:
            (assembled
             .withColumn("dbucket", _tbucket(F.col("doc_id")))
             .repartition(N_FBUCKETS, "dbucket")
             .write.mode("overwrite").partitionBy("dbucket")
             .parquet(os.path.join(tmp, "docstore")))

        def _fpostings_land() -> None:
            (_fpostings(fcells)
             .withColumn("tbucket", _tbucket(F.col("token")))
             .repartition(N_FBUCKETS, "tbucket")
             .write.mode("overwrite").partitionBy("tbucket")
             .parquet(os.path.join(tmp, "fpostings")))

        # per-(doc, field) lengths come map-side from the fielded melt (one
        # row each — a projection), NOT from a distinct over the corpus-sized
        # postings table; persisted as the fdoclen sidecar (dbucket-pruned
        # reads power the live-serving stat corrections)
        def _fdoclen() -> None:
            (_field_dl(fcells)
             .withColumn("dbucket", _tbucket(F.col("doc_id")))
             .repartition(N_FBUCKETS, "dbucket")
             .write.mode("overwrite").partitionBy("dbucket")
             .parquet(os.path.join(tmp, "fdoclen")))

        stage1 = [_fpostings_land, _fdoclen]
        if assembled is not None:
            stage1.append(_docstore)
        run_jobs(*stage1)

        def _fvocab() -> None:
            (spark.read.parquet(os.path.join(tmp, "fpostings"))
             .groupBy("field", "token")
             .agg(F.count(F.lit(1)).cast("long").alias("df"))
             .withColumn("tbucket", _tbucket(F.col("token")))
             .repartition(N_FBUCKETS, "tbucket")
             .write.mode("overwrite").partitionBy("tbucket")
             .parquet(os.path.join(tmp, "fvocab")))

        def _fstats() -> None:
            stats = (spark.read.parquet(os.path.join(tmp, "fdoclen"))
                     .groupBy("field")
                     .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                          F.sum("dl").cast("long").alias("sum_dl"),
                          (F.sum("dl").cast("double") / F.count(F.lit(1)))
                          .alias("avgdl")))
            exists = (fcells.filter(F.col("value").isNotNull()
                                    & (F.col("value") != ""))
                      .groupBy("field")
                      .agg(F.count(F.lit(1)).cast("long").alias("n_exists")))
            (stats.join(exists, "field", "full_outer")
             .select("field",
                     F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                     F.coalesce("sum_dl", F.lit(0)).alias("sum_dl"),
                     F.coalesce("avgdl", F.lit(0.0)).alias("avgdl"),
                     F.coalesce("n_exists", F.lit(0)).alias("n_exists"))
             .coalesce(1)
             .write.mode("overwrite").parquet(os.path.join(tmp, "fstats")))

        run_jobs(_fvocab, _fstats)
        artifact.write_json(os.path.join(tmp, _META),
                            {"layout": NESTED_LAYOUT_VERSION,
                             "n_buckets": N_FBUCKETS})


def _assembled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, doc_ts_ms, doc_json): the assembled sparse-view documents
    — the ``_source`` relation the docstore persists."""
    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        assemble_documents,
    )

    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator=None, normalize_fields=False)
    return assemble_documents(sparse_cells(spark, sf_dir), cfg).select(
        F.col("row_key").alias("doc_id"), "doc_ts_ms", "doc_json")


def ensure_nested_index(spark: SparkSession, sf_dir: str) -> str:
    path = nested_index_path_for(sf_dir)
    if not os.path.exists(os.path.join(path, _META)):
        build_nested_index(spark, fielded_cells(spark, sf_dir), path,
                           assembled=_assembled_docs(spark, sf_dir))
    return path


def read_fpostings(spark: SparkSession, path: str,
                   terms: tuple[str, ...]) -> DataFrame:
    buckets = sorted({pmod_bucket(t, N_FBUCKETS) for t in terms})
    return (read_immutable(spark, os.path.join(path, "fpostings"))
            .filter(F.col("tbucket").isin(buckets)
                    & F.col("token").isin(*terms))
            .select("doc_id", "field", "token", "tf", "dl"))


def read_fvocab(spark: SparkSession, path: str,
                terms: tuple[str, ...]) -> DataFrame:
    buckets = sorted({pmod_bucket(t, N_FBUCKETS) for t in terms})
    return (read_immutable(spark, os.path.join(path, "fvocab"))
            .filter(F.col("tbucket").isin(buckets)
                    & F.col("token").isin(*terms))
            .select("field", "token", "df"))


def read_fstats(spark: SparkSession, path: str) -> DataFrame:
    return (read_immutable(spark, os.path.join(path, "fstats"))
            .select("field", "n_docs", "sum_dl", "avgdl", "n_exists"))


def read_fdoclen(spark: SparkSession, path: str,
                 dbuckets: list[int] | None = None) -> DataFrame:
    d = read_immutable(spark, os.path.join(path, "fdoclen"))
    if dbuckets is not None:
        d = d.filter(F.col("dbucket").isin(dbuckets))
    return d.select("doc_id", "field", "dl")


def q_nested_field_search_indexed(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The dynamic-field ``multi_match`` served FROM the fielded index:
    the query terms' postings come from their pruned token buckets with
    ``dl`` riding along, per-field df from the pruned fvocab slice,
    per-field N/avgdl from the fstats sidecar — zero corpus scans.
    Hash-equal to ``q_nested_field_search`` by the shared oracle."""
    idx = ensure_nested_index(spark, sf_dir)
    p = read_fpostings(spark, idx, NFS_TERMS)
    tf = p.select("doc_id", "field", "token", "tf")
    fdl = p.select("doc_id", "field", "dl").distinct()
    fstats = read_fstats(spark, idx).select("field", "n_docs", "avgdl")
    dfr = read_fvocab(spark, idx, NFS_TERMS)
    return _score_fielded(tf, fdl, fstats, dfr)


def q_ids_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``ids`` query served from the docstore (the index's stored
    ``_source``): the id literals prune to their dbucket directories
    (buckets computed driver-side with the xxh64 twin) — a point lookup
    that never touches the corpus or re-assembles anything. Hash-equal to
    ``q_ids`` by the shared oracle."""
    idx = ensure_nested_index(spark, sf_dir)
    buckets = sorted({pmod_bucket(i, N_FBUCKETS) for i in IDS_LIST})
    return (read_immutable(spark, os.path.join(idx, "docstore"))
            .filter(F.col("dbucket").isin(buckets)
                    & F.col("doc_id").isin(*IDS_LIST))
            .select("doc_id", "doc_ts_ms", "doc_json"))


def q_exists_field_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``exists`` served from the fstats sidecar alone — the corpus is
    never touched (the mapping view is index metadata, as in ES)."""
    idx = ensure_nested_index(spark, sf_dir)
    return (read_fstats(spark, idx)
            .filter(F.col("n_exists") > 0)
            .select("field", F.col("n_exists").alias("doc_count")))


# ---------------------------------------------------------------------------
# LIVE fielded serving: base nested index + unmerged stream epochs (the
# decoupled-compaction posture of `operators/liveserve.py`, for the
# dynamic-field surface maintained by
# `streaming/river_stream.py:start_nested_index_stream`).


def read_nested_epochs(spark: SparkSession, epochs_dir: str):
    """(fp_new, fdl_new, changed): the latest-epoch-wins fielded delta —
    postings, per-doc/field lengths, and the changed-doc authority. All
    delta-sized; the arbitration join is keyed (doc_id, epoch) against
    the tiny docs manifest."""
    d = spark.read.parquet(os.path.join(epochs_dir, "docs"))
    latest = d.groupBy("doc_id").agg(F.max("epoch").alias("epoch"))
    fp = (spark.read.parquet(os.path.join(epochs_dir, "fpostings"))
          .join(latest, ["doc_id", "epoch"])
          .select("doc_id", "field", "token", "tf", "dl"))
    fdl = (spark.read.parquet(os.path.join(epochs_dir, "fdl"))
           .join(latest, ["doc_id", "epoch"])
           .select("doc_id", "field", "dl"))
    return fp, fdl, latest.select("doc_id")


def _epoch_ids(root: str, sub: str) -> set[int]:
    d = os.path.join(root, sub)
    if not os.path.isdir(d):
        return set()
    return {int(name.split("=", 1)[1]) for name in os.listdir(d)
            if name.startswith("epoch=")}


def write_nested_epoch_stats_sidecar(spark: SparkSession, base: str,
                                     epochs_dir: str,
                                     epoch_id: int) -> None:
    """``fstats_delta/epoch=N``: per-field length-moment correction of
    epoch N relative to the live view JUST BEFORE it — (n_r, s_r) from
    the changed docs' previous version (the latest earlier epoch, else
    the base index), (n_a, s_a) from this epoch's own fdl. Summing the
    sidecars over all epochs telescopes to exactly the base→live
    correction, so the serve path reads a handful of tiny rows instead
    of re-deriving the removal from a doc-bucket-pruned base read per
    query (the 0.6 s hot spot in the round-9 bench). Delta-proportional
    at write time: earlier-epoch fdl is delta-sized and the base read
    prunes to this epoch's changed docs' dbuckets."""
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        changed_dbuckets,
    )

    changed = (spark.read.parquet(os.path.join(epochs_dir, "docs"))
               .filter(F.col("epoch") == epoch_id).select("doc_id")
               .localCheckpoint(eager=True))
    earlier = sorted(e for e in _epoch_ids(epochs_dir, "docs")
                     if e < epoch_id)
    z = F.lit(0).cast("long")
    prev_parts = []
    if earlier:
        docs_e = (spark.read.parquet(os.path.join(epochs_dir, "docs"))
                  .filter(F.col("epoch") < epoch_id))
        prev_owner = (docs_e.join(F.broadcast(changed), "doc_id",
                                  "left_semi")
                      .groupBy("doc_id").agg(F.max("epoch").alias("epoch"))
                      .localCheckpoint(eager=True))
        prev_parts.append(
            spark.read.parquet(os.path.join(epochs_dir, "fdl"))
            .filter(F.col("epoch") < epoch_id)
            .join(F.broadcast(prev_owner), ["doc_id", "epoch"])
            .select("doc_id", "field", "dl"))
        from_base = changed.join(prev_owner, "doc_id", "left_anti") \
            .localCheckpoint(eager=True)
    else:
        from_base = changed
    dbuckets = changed_dbuckets(from_base)
    prev_parts.append(
        read_fdoclen(spark, base, dbuckets)
        .join(F.broadcast(from_base), "doc_id", "left_semi")
        .select("doc_id", "field", "dl"))
    prev = prev_parts[0]
    for p in prev_parts[1:]:
        prev = prev.unionByName(p)
    removed = prev.groupBy("field").agg(
        F.count(F.lit(1)).cast("long").alias("n_r"),
        F.coalesce(F.sum("dl"), z).alias("s_r"))
    added = (spark.read.parquet(os.path.join(epochs_dir, "fdl"))
             .filter(F.col("epoch") == epoch_id)
             .groupBy("field").agg(
                 F.count(F.lit(1)).cast("long").alias("n_a"),
                 F.coalesce(F.sum("dl"), z).alias("s_a")))
    out = (removed.join(added, "field", "full_outer")
           .select("field",
                   F.coalesce("n_r", z).alias("n_r"),
                   F.coalesce("s_r", z).alias("s_r"),
                   F.coalesce("n_a", z).alias("n_a"),
                   F.coalesce("s_a", z).alias("s_a")))
    out.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(epochs_dir, "fstats_delta", f"epoch={epoch_id}"))


def nested_field_search_live(spark: SparkSession, base: str,
                             epochs_dir: str,
                             terms: tuple[str, ...] = NFS_TERMS) -> DataFrame:
    """The dynamic-field ``multi_match`` served LIVE from the base
    fielded index + unmerged stream epochs, with EXACT per-field
    statistics — every correction delta-proportional:

    - postings: base fpostings (terms-pruned buckets) minus re-indexed
      docs (broadcast anti-join against the delta-sized changed set),
      union the epochs' postings latest-epoch-wins;
    - per-field N / sum_dl: base fstats ± the changed docs' per-field
      moments (base fdoclen read pruned to the changed docs' dbuckets;
      epoch fdl aggregated);
    - per-(field, term) df: base fvocab (pruned) − the changed docs' old
      occurrences (the SAME terms-pruned base postings slice, semi-joined)
      + the epochs' new ones.

    Hash-equal to a full rebuild over the post-churn corpus — proven by
    ``q_nested_field_search_live``'s oracle.

    Serve-path cost note (round-10, SCALE.md §8): when every epoch
    carries an ``fstats_delta`` sidecar (written at epoch-land time by
    ``write_nested_epoch_stats_sidecar``), the N/sum_dl correction reads
    the tiny sidecar sums instead of re-deriving the removal from a
    doc-bucket-pruned base fdoclen read per query; the scoring also
    rides ``dl`` straight off the live postings (each (doc, field)
    appears once per token row with its length) instead of a
    (doc_id, field) self-join. Epoch dirs without full sidecar coverage
    fall back to the per-query derivation — same answer, slower."""
    z = F.lit(0).cast("long")
    fp_new, fdl_new, changed = read_nested_epochs(spark, epochs_dir)
    doc_epochs = _epoch_ids(epochs_dir, "docs")
    sidecars = _epoch_ids(epochs_dir, "fstats_delta")
    use_sidecar = bool(doc_epochs) and doc_epochs <= sidecars

    if not use_sidecar:
        # the fallback derivation reads these relations several times;
        # pin them once (the sidecar path reads each twice — re-reading
        # a delta-sized parquet is cheaper than an eager checkpoint job)
        fp_new = fp_new.localCheckpoint(eager=True)
        changed = changed.localCheckpoint(eager=True)

    base_p = read_fpostings(spark, base, terms)
    tf_new = fp_new.filter(F.col("token").isin(*terms))
    p_live = (base_p.join(F.broadcast(changed), "doc_id", "left_anti")
              .unionByName(tf_new.select("doc_id", "field", "token",
                                         "tf", "dl")))
    tf = p_live.select("doc_id", "field", "token", "tf", "dl")

    if use_sidecar:
        # TWO jobs total. Job 1 collects the per-field (N, avgdl) from
        # the base fstats + the sidecar sums (both tiny files). Job 2
        # scores: the per-(field, term) df is a WINDOW COUNT over the
        # live postings themselves — p_live IS the terms-pruned live
        # view, one row per (doc, field, token), so counting its rows
        # per (field, token) is exactly the live df; the
        # fvocab − df_old + df_new derivation the fallback runs is
        # redundant here.
        stats_rows = (
            read_fstats(spark, base)
            .select("field", F.col("n_docs").alias("a"),
                    F.col("sum_dl").alias("b"))
            .unionByName(
                spark.read.parquet(os.path.join(epochs_dir, "fstats_delta"))
                .select("field", (F.col("n_a") - F.col("n_r")).alias("a"),
                        (F.col("s_a") - F.col("s_r")).alias("b")))
            .groupBy("field").agg(F.sum("a").alias("n"),
                                  F.sum("b").alias("s"))
            .collect())
        kv: list = []
        for r in sorted(stats_rows, key=lambda r: r["field"]):
            if r["n"] and r["n"] > 0:
                kv += [F.lit(r["field"]),
                       F.struct(F.lit(int(r["n"])).alias("n"),
                                F.lit(float(r["s"]) / r["n"])
                                .alias("avgdl"))]
        fent = F.create_map(*kv)[F.col("field")]
        wdf = Window.partitionBy("field", "token")
        dfc = F.count(F.lit(1)).over(wdf).cast("long")
        idf = F.log(F.lit(1.0) + (fent["n"] - dfc + 0.5) / (dfc + 0.5))
        tfnorm = (F.col("tf") * (BM25_K1 + 1)) / (
            F.col("tf") + BM25_K1 * (1 - BM25_B
                                     + BM25_B * F.col("dl")
                                     / fent["avgdl"]))
        per_doc = (tf.select("doc_id", (idf * tfnorm).alias("c"))
                   .filter(F.col("c").isNotNull())
                   .groupBy("doc_id")
                   .agg(roundn_col(F.sum("c")).alias("score")))
        top = per_doc.orderBy(F.col("score").desc(), "doc_id") \
            .limit(NFS_TOP)
        w = Window.orderBy(F.col("score").desc(), "doc_id")
        return top.withColumn("rank", F.row_number().over(w).cast("long"))
    else:
        from elasticsearch_hbase_river_spark.operators.indexed_search import (
            changed_dbuckets,
        )

        # bounded-collect + saturation-to-full-scan guard (indexed_search)
        dbuckets = changed_dbuckets(changed)
        fdl_new = fdl_new.localCheckpoint(eager=True)
        removed = (read_fdoclen(spark, base, dbuckets)
                   .join(F.broadcast(changed), "doc_id", "left_semi")
                   .groupBy("field")
                   .agg(F.count(F.lit(1)).cast("long").alias("n_r"),
                        F.coalesce(F.sum("dl"), z).alias("s_r")))
        added = (fdl_new.groupBy("field")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_a"),
                      F.coalesce(F.sum("dl"), z).alias("s_a")))
        corr = (removed.join(added, "field", "full_outer")
                .select("field",
                        (F.coalesce("n_a", z)
                         - F.coalesce("n_r", z)).alias("dn"),
                        (F.coalesce("s_a", z)
                         - F.coalesce("s_r", z)).alias("ds")))
    fstats_live = (
        read_fstats(spark, base).select("field", "n_docs", "sum_dl")
        .join(corr, "field", "full_outer")
        .select("field",
                (F.coalesce("n_docs", z) + F.coalesce("dn", z))
                .alias("n_docs"),
                (F.coalesce("sum_dl", z) + F.coalesce("ds", z))
                .alias("sum_dl"))
        .filter(F.col("n_docs") > 0)
        .select("field", "n_docs",
                (F.col("sum_dl").cast("double") / F.col("n_docs"))
                .alias("avgdl")))

    df_old = (base_p.join(F.broadcast(changed), "doc_id", "left_semi")
              .groupBy("field", "token")
              .agg(F.count(F.lit(1)).cast("long").alias("df_o")))
    df_new = (tf_new.groupBy("field", "token")
              .agg(F.count(F.lit(1)).cast("long").alias("df_n")))
    dfr = (read_fvocab(spark, base, terms)
           .join(df_old, ["field", "token"], "full_outer")
           .join(df_new, ["field", "token"], "full_outer")
           .select("field", "token",
                   (F.coalesce("df", z) - F.coalesce("df_o", z)
                    + F.coalesce("df_n", z)).alias("df"))
           .filter(F.col("df") > 0))
    return _score_fielded_inline_dl(tf, fstats_live, dfr)


#: Churn-epoch fixture for the live-serving oracle gate: 1-in-20 events
#: re-emitted whole-row with their metric bumped — the selector and the
#: mutation are md5/arithmetic so DuckDB derives the identical post-churn
#: corpus.
NLIVE_CHURN_MOD = 20
NLIVE_VALUE_BUMP = 7.0


def _nlive_churn_sel() -> F.Column:
    return (F.conv(F.substring(F.md5(F.col("event_id").cast("string")),
                               1, 8), 16, 10).cast("long")
            % NLIVE_CHURN_MOD == 0)


def ensure_nested_live_epochs(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent churn epoch in the nested-epochs layout (fpostings/ +
    fdl/ + docs/ per epoch + marker), fingerprint-keyed."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        _NESTED_EPOCHS_META,
        _stamp_nested_epochs_layout,
    )

    path = nested_index_path_for(sf_dir) + "-live-epochs"
    if os.path.exists(os.path.join(path, _NESTED_EPOCHS_META)):
        return path
    with artifact.publishing(path, _NESTED_EPOCHS_META) as tmp:
        churned = (load_table(spark, sf_dir, "events")
                   .filter(_nlive_churn_sel())
                   .withColumn("value", F.col("value") + NLIVE_VALUE_BUMP))
        fc = fielded_cells_from(sparse_melt(churned))
        # three independent writes from the same churned relation —
        # overlapped (guide §2.6)
        run_jobs(
            lambda: (_fpostings(fc).write.mode("overwrite")
                     .parquet(f"{tmp}/fpostings/epoch=0")),
            lambda: (_field_dl(fc).write.mode("overwrite")
                     .parquet(f"{tmp}/fdl/epoch=0")),
            lambda: (churned.select(
                F.col("event_id").cast("string").alias("doc_id"))
                .distinct().write.mode("overwrite")
                .parquet(f"{tmp}/docs/epoch=0")))
        # length-stats sidecar: the serve path reads these tiny sums instead
        # of re-deriving the base removal per query
        write_nested_epoch_stats_sidecar(
            spark, ensure_nested_index(spark, sf_dir), tmp, 0)
        _stamp_nested_epochs_layout(tmp)
    return path


def q_nested_field_search_live(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The dynamic-field ``multi_match`` served LIVE from the base
    fielded index + one unmerged churn epoch (no compaction ran): must
    hash-equal a full rebuild over the post-churn corpus — the
    correctness contract that lets the nested surface stay fresh without
    per-epoch compaction."""
    base = ensure_nested_index(spark, sf_dir)
    epochs = ensure_nested_live_epochs(spark, sf_dir)
    return nested_field_search_live(spark, base, epochs)


# ---------------------------------------------------------------------------
# Registration + oracles.

QUERIES = {
    "q_nested_field_search": q_nested_field_search,
    "q_nested_path_match": q_nested_path_match,
    "q_nested_inner_hits": q_nested_inner_hits,
    "q_exists_field": q_exists_field,
    "q_mapping_bootstrap": q_mapping_bootstrap,
    "q_ids": q_ids,
    "q_nested_field_search_indexed": q_nested_field_search_indexed,
    "q_nested_field_search_live": q_nested_field_search_live,
    "q_exists_field_indexed": q_exists_field_indexed,
    "q_ids_indexed": q_ids_indexed,
}

_NFS_TERMS_SQL = ", ".join(f"'{t}'" for t in NFS_TERMS)

_TFNORM_SQL = (f"(tf * ({BM25_K1} + 1)) / (tf + {BM25_K1}"
               f" * (1 - {BM25_B} + {BM25_B} * dl / avgdl))")

def _nfs_oracle(ctes: str) -> str:
    """The multi_match-over-dynamic-fields oracle, parameterized on the
    fielded-corpus CTE prefix (the live twin swaps in churned events)."""
    return f"""
WITH {ctes},
fstats AS (
  SELECT field, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM fdl GROUP BY field),
ftf AS (
  SELECT doc_id, field, token, CAST(count(*) AS BIGINT) AS tf
  FROM occ WHERE token IN ({_NFS_TERMS_SQL})
  GROUP BY 1, 2, 3),
dfr AS (
  SELECT field, token, CAST(count(*) AS BIGINT) AS df
  FROM ftf GROUP BY field, token),
contrib AS (
  SELECT ftf.doc_id,
         ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         * {_TFNORM_SQL} AS c
  FROM ftf
  JOIN dfr USING (field, token)
  JOIN fdl USING (doc_id, field)
  JOIN fstats s USING (field)),
scored AS (
  SELECT doc_id, {roundn_sql('sum(c)')} AS score
  FROM contrib GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {NFS_TOP}"""


#: The churned events relation + fielded CTEs for the live-serving twin.
_NLIVE_CTES = f"""events2 AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                   ::BIGINT % {NLIVE_CHURN_MOD} = 0
              THEN value + {NLIVE_VALUE_BUMP} ELSE value END AS value,
         props
  FROM events),
{_fielded_ctes(SPARSE_CELLS_SQL_T.format(src='events2')).lstrip()}"""

ORACLES = {
    "q_nested_field_search": _nfs_oracle(_FIELDED_CTES),
    "q_nested_field_search_live": _nfs_oracle(_NLIVE_CTES),

    "q_nested_path_match": f"""
WITH {_FIELDED_CTES}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM occ
WHERE field = '{NESTED_PATH_FIELD}' AND token = '{NESTED_PATH_TERM}'
GROUP BY doc_id""",

    "q_nested_inner_hits": f"""
WITH sparse AS ({SPARSE_CELLS_SQL}),
fcells AS ({FCELLS_SQL}),
scoped AS (SELECT doc_id, field, value,
                  {analyze_toks_sql('value')} AS toks
           FROM fcells WHERE starts_with(field, 'data.props.'))
SELECT DISTINCT doc_id, field, value
FROM (SELECT doc_id, field, value, unnest(toks) AS token FROM scoped)
WHERE token = '{NESTED_PATH_TERM}'""",

    "q_exists_field": f"""
WITH sparse AS ({SPARSE_CELLS_SQL}),
fcells AS ({FCELLS_SQL})
SELECT field, CAST(count(*) AS BIGINT) AS doc_count
FROM fcells WHERE value IS NOT NULL AND value <> ''
GROUP BY field""",

    "q_mapping_bootstrap": f"""
WITH sparse AS ({SPARSE_CELLS_SQL}),
fcells AS ({FCELLS_SQL}),
agg AS (
  SELECT field, CAST(count(*) AS BIGINT) AS doc_count,
         min(CASE WHEN regexp_matches(value, '^-?[0-9]+$')
                  THEN 1 ELSE 0 END) AS all_long,
         min(CASE WHEN regexp_matches(value, '^-?[0-9]+(\\.[0-9]+)?$')
                  THEN 1 ELSE 0 END) AS all_num
  FROM fcells WHERE value IS NOT NULL AND value <> ''
  GROUP BY field)
SELECT field, doc_count,
       CASE WHEN all_long = 1 THEN 'long'
            WHEN all_num = 1 THEN 'double'
            ELSE 'text' END AS es_type
FROM agg""",
}

_IDS_SQL = ", ".join(f"'{i}'" for i in IDS_LIST)
_ESC_V = r"""replace(replace(value, '\', '\\'), '"', '\"')"""

ORACLES["q_ids"] = f"""
WITH sparse AS ({SPARSE_CELLS_SQL}),
hit AS (SELECT * FROM sparse WHERE row_key IN ({_IDS_SQL})),
fam AS (
  SELECT row_key, family, min(ts_ms) AS fam_ts,
         '"' || family || '":{{' ||
         string_agg('"' || qualifier || '":"' || {_ESC_V} || '"', ','
                    ORDER BY '"' || qualifier || '":"' || {_ESC_V} || '"')
         || '}}' AS fam_json
  FROM hit GROUP BY row_key, family)
SELECT row_key AS doc_id, min(fam_ts) AS doc_ts_ms,
       '{{' || string_agg(fam_json, ',' ORDER BY fam_json) || '}}' AS doc_json
FROM fam GROUP BY row_key"""

#: Indexed twins answer the same question — shared oracles prove the
#: index-served fielded surface == the per-query rebuild, hash-for-hash.
ORACLES["q_nested_field_search_indexed"] = ORACLES["q_nested_field_search"]
ORACLES["q_exists_field_indexed"] = ORACLES["q_exists_field"]
ORACLES["q_ids_indexed"] = ORACLES["q_ids"]
