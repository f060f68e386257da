"""The river's per-tick dataflow (SURVEY.md §3.2) as one declarative plan.

Reference trace (HBaseParser.java):

    new_cells = scan(table, family?, qualifiers?, ts > sink_max_ts)  :89-100,258-280
    docs      = pivot_nested(normalize(new_cells), columnSeparator)  :204-244
    keyed     = docs + doc_id (row key | idField path) + doc_ts      :145-158
    sink      = bulk_upsert(keyed, batch=batchSize)                  :137-162
    acked     = keyed \\ failed(sink)                                :164-175
    if deleteOld: delete_from_source(acked.row_key)                  :176-180

Spark-first: the whole tick is a single DataFrame plan — scan filters push
into the source, document assembly is one groupBy(row_key) shuffle, the
upsert is a per-id window rank, and the sink write batches per partition
(never a global sort). ``run_once`` materializes a tick against a parquet
"sink table" the way the reference's bulk-upsert materializes into ES.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark import artifact
from elasticsearch_hbase_river_spark.config import RiverConfig
from elasticsearch_hbase_river_spark.operators.assemble import _esc_json


def assemble_documents(cells: DataFrame, config: RiverConfig) -> DataFrame:
    """cells -> (doc_id, doc_ts_ms, doc_json) with deterministic sorted-key
    JSON (readDataTree + readQualifierStructure, HBaseParser.java:204-244).

    ONE shuffle total: cells group straight to their row, and the
    per-(family, leaf) last-write-wins dedup plus the two-level JSON fold
    happen inside the collected cell array with array built-ins. The
    earlier three-stage form (LWW groupBy, family groupBy, document
    groupBy) shuffled the full corpus three times — the dominant cost of
    the pipeline at 100 TB. collect_list here is bounded by cells-per-row
    (a document), the same bound the reference holds in memory per row.
    """
    from elasticsearch_hbase_river_spark.functions.normalize import normalize_field_col
    from elasticsearch_hbase_river_spark.functions.qualifier import split_qualifier_col

    sep = config.column_separator
    fam = normalize_field_col(F.col("family"), sep, config.normalize_fields)
    path = split_qualifier_col(F.col("qualifier"), sep, config.normalize_fields)

    flat = cells.select(
        "row_key", "ts_ms",
        fam.alias("family"),
        F.array_join(path, sep or "").alias("leaf_key"),
        F.col("value"),
    )
    rows = flat.groupBy("row_key").agg(
        F.array_sort(F.collect_list(
            F.struct("family", "leaf_key", "ts_ms", "value"))).alias("cs"))

    # Last-write-wins per (family, leaf_key): after the sort, the winner of
    # each run is its last element — max (ts_ms, value), the deterministic
    # tiebreak (HBase maxVersions=1 + map-put overwrite,
    # HBaseParser.java:239,243).
    kept = F.filter(
        F.col("cs"),
        lambda x, i: (i == F.size(F.col("cs")) - 1)
        | (F.element_at(F.col("cs"), i + 2)["family"] != x["family"])
        | (F.element_at(F.col("cs"), i + 2)["leaf_key"] != x["leaf_key"]),
    )
    rows = rows.select("row_key", kept.alias("kept"))

    # Fold the (family-major, leaf-minor) sorted survivors into nested JSON
    # in one pass: open a family object at each family boundary.
    def piece(x, i):
        prev_fam = F.element_at(F.col("kept"), i)["family"]  # i is 0-based
        kv = F.concat(F.lit('"'), x["leaf_key"], F.lit('":"'),
                      _esc_json(x["value"]), F.lit('"'))
        open_fam = F.concat(F.lit('"'), x["family"], F.lit('":{'), kv)
        return (F.when(i == 0, F.concat(F.lit("{"), open_fam))
                 .when(prev_fam != x["family"],
                       F.concat(F.lit("},"), open_fam))
                 .otherwise(F.concat(F.lit(","), kv)))

    doc_json = F.concat(
        F.array_join(F.transform(F.col("kept"), piece), ""), F.lit("}}"))
    doc_ts = F.array_min(F.transform(F.col("kept"), lambda x: x["ts_ms"]))
    docs = rows.select("row_key", doc_ts.alias("doc_ts_ms"),
                       doc_json.alias("doc_json"))
    doc_id = _doc_id_col(config)
    out = docs.select(F.col("row_key"), doc_id.alias("doc_id"),
                      "doc_ts_ms", "doc_json")
    if config.id_field:
        # ES rejects index requests without an id; rows whose path lookup
        # misses are dropped (the reference would fail the request,
        # HBaseParser.java:150-159).
        out = out.filter(F.col("doc_id").isNotNull())
    return out


def _doc_id_col(config: RiverConfig) -> F.Column:
    """Document id: the row key when ``id_field`` is unset
    (HBaseParser.java:150-153), else a separator-path lookup inside the
    assembled document (findKeyInDataTree, HBaseParser.java:184-194).

    The path's first component names the family, the rest the qualifier
    path; components are normalized like the document's own keys so a
    configured path matches what assembly produced (documented intent —
    the reference matches raw path parts against normalized keys, which
    only works for already-normalized configs)."""
    from elasticsearch_hbase_river_spark.functions.normalize import normalize_field_py

    if not config.id_field:
        return F.col("row_key")
    sep = config.column_separator
    parts = config.id_field.split(sep) if sep else [config.id_field]
    parts = [normalize_field_py(p, sep, config.normalize_fields) for p in parts]
    if len(parts) < 2:
        # A bare family names a subtree, not a scalar — findKeyInDataTree
        # returns null for non-leaf nodes (HBaseParser.java:190-193).
        return F.lit(None).cast("string")
    family, leaf = parts[0], (sep or "").join(parts[1:])
    return F.get_json_object("doc_json", f"$['{family}']['{leaf}']")


def river_tick_plan(cells: DataFrame, config: RiverConfig,
                    watermark_ms: int) -> DataFrame:
    """The full §3.2 tick as one lazy plan: filter -> assemble -> upsert."""
    scan = cells.filter(F.col("ts_ms") > F.lit(watermark_ms))
    if config.family:
        scan = scan.filter(F.col("family") == config.family)
    if config.qualifiers:
        scan = scan.filter(F.col("qualifier").isin(*config.qualifiers))
    docs = assemble_documents(scan, config)
    # upsert-by-id: latest doc_ts wins (HBaseParser.java:145-159 + watermark)
    w = Window.partitionBy("doc_id").orderBy(F.col("doc_ts_ms").desc(),
                                             F.col("row_key").desc())
    return (docs.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).drop("rn"))


def apply_sink_mapping(docs: DataFrame, config: RiverConfig) -> DataFrame:
    """Custom sink mapping passthrough (SURVEY.md §2.1 row 16): the
    reference accepts a user-supplied mapping JSON and applies it at index
    bootstrap (HBaseRiver.java:118-122, put-mapping :250-261). The engine
    analog: cast/project the assembled documents onto the declared target
    schema before the sink write. Columns named in the mapping but absent
    from the documents come back as typed NULLs (dynamic-mapping documents
    may simply lack a field); extra document columns are dropped — exactly
    what a fixed ES mapping does to unmapped fields with dynamic off."""
    if not config.custom_mapping:
        return docs
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(config.custom_mapping)
    return docs.select(*[
        (F.col(f.name).cast(f.dataType) if f.name in docs.columns
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in target.fields
    ])


@dataclass
class TickResult:
    rows_indexed: int
    watermark_ms: int
    deleted_keys: int


def sink_max_ts(spark: SparkSession, sink_path: str) -> int:
    """Watermark lookup from the sink (HBaseParser.java:258-280): max+1,
    cold-start 0. A 1-row agg on the sink table's stats — with parquet this
    reads footer min/max only."""
    if not os.path.exists(sink_path):
        return 0
    mx = spark.read.parquet(sink_path).agg(F.max("doc_ts_ms")).collect()[0][0]
    return (mx + 1) if mx is not None else 0


def run_once(spark: SparkSession, cells: DataFrame, config: RiverConfig,
             sink_path: str, reject_when: F.Column | None = None,
             dead_letter_path: str | None = None) -> TickResult:
    """One scheduler tick (HBaseParser.java:82-128): incremental scan from
    the sink watermark, transform, upsert-append to the sink.

    With a ``reject_when`` predicate (the engine analog of bulk-response
    failures), failed rows are diverted to ``dead_letter_path`` and —
    exactly like the reference's failed-key exclusion,
    HBaseParser.java:166-177 — never counted as delete candidates."""
    from elasticsearch_hbase_river_spark.operators.bulk_sink import (
        write_bulk, write_with_dead_letter,
    )

    if config.custom_mapping and "doc_ts_ms" not in config.custom_mapping:
        # The incremental watermark is max(doc_ts_ms) over the sink — a
        # mapping that drops it breaks every later tick (the reference's
        # equivalent: its facet watermark query needs _timestamp enabled,
        # HBaseRiver.java:223-231 + HBaseParser.java:258-280).
        raise ValueError("custom_mapping must retain doc_ts_ms "
                         "(the incremental watermark column)")
    wm = sink_max_ts(spark, sink_path)
    out = apply_sink_mapping(river_tick_plan(cells, config, wm), config)
    if reject_when is not None:
        if dead_letter_path is None:
            raise ValueError("reject_when requires dead_letter_path")
        res = write_with_dead_letter(out, sink_path, dead_letter_path,
                                     reject_when, reason="bulk item failed",
                                     batch_size=config.batch_size)
        indexed = res.rows_acked
    else:
        # Count the tick's OWN output (cached across write+count), never a
        # re-scan of the whole sink — the sink is O(history), the tick delta
        # is O(new rows), and re-reading history per tick is a driver-side
        # scale-killer at 100 TB. Serialized memory-first with disk spill
        # (SCALE.md §9a): the bare .persist() default is DESERIALIZED
        # memory, which pinned the tick-sized delta in heap and OOM'd the
        # 60M-event campaign on a default 1 GB driver (§3t).
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        write_bulk(out, sink_path, config.batch_size)
        indexed = out.count()
        out.unpersist()
    deleted = indexed if config.delete_old else 0
    return TickResult(rows_indexed=indexed,
                      watermark_ms=sink_max_ts(spark, sink_path),
                      deleted_keys=deleted)


def dedup_against_sink(spark: SparkSession, new_docs: DataFrame,
                       sink_path: str) -> DataFrame:
    """Incremental content dedup: drop new documents whose content already
    exists in the sink (by md5 of doc_json). The sink side reduces to its
    distinct hash set before the join — at scale this is a pre-computed
    fingerprint table, and the anti-join shuffles only hashes."""
    hashed = new_docs.withColumn("content_hash", F.md5("doc_json"))
    if not os.path.exists(sink_path):
        return hashed.drop("content_hash")
    seen = (spark.read.parquet(sink_path)
            .select(F.md5("doc_json").alias("content_hash")).distinct())
    return (hashed.join(seen, "content_hash", "left_anti")
                  .drop("content_hash"))


#: Band-table format version. v2 = BIGINT minhash signatures + BIGINT
#: band_hash (integer Karp-Rabin gram hashing); v1 (pre-round-4) stored md5
#: hex STRINGS. The two are join-incompatible (a string-vs-bigint band_hash
#: equi-join silently matches nothing => historical near-dups stop being
#: detected) and scan-incompatible (mixed-schema parquet directory), so the
#: sink carries an explicit marker and appends REFUSE a mismatched history.
BANDS_FORMAT_VERSION = 2
_BANDS_META = "_bands_meta.json"


def _check_bands_format(bands_path: str) -> None:
    """Refuse to mix band-table formats: a pre-existing sink must carry a
    marker with the current version, else the caller has to rebuild (or
    discard) the history explicitly. Old ``streaming_near_dedup``
    checkpoints have the same incompatibility (STRING grouping key) and
    must be discarded alongside."""
    found = (artifact.read_json(os.path.join(bands_path, _BANDS_META))
             or {}).get("format_version")
    if found != BANDS_FORMAT_VERSION:
        raise ValueError(
            f"persistent band table at {bands_path} has format_version="
            f"{found!r}, engine expects {BANDS_FORMAT_VERSION} — appending "
            "would create a mixed-schema directory with silent join misses. "
            "Rebuild the band history (re-run doc_bands over the sink "
            "corpus) or point bands_path at a fresh directory; discard any "
            "streaming_near_dedup checkpoints from the old format too.")


def _stamp_bands_format(bands_path: str, ticks_since_compact: int = 0) -> None:
    artifact.write_json(os.path.join(bands_path, _BANDS_META),
                        {"format_version": BANDS_FORMAT_VERSION,
                         "ticks_since_compact": ticks_since_compact})


#: Compact the band table every N append ticks (same decoupled-cadence
#: policy as the index epochs, SCALE.md §3i/§3n: appends stay cheap and
#: delta-sized; the rewrite cost is paid once per N ticks instead of
#: degrading every tick's table scan through small-file accretion).
BANDS_COMPACT_EVERY = 16

#: Target rows per compacted band-table file — ~25 MB parquet at the
#: 4-column BIGINT-signature row width, a healthy split size.
BANDS_ROWS_PER_FILE = 4_000_000


def band_ticks_since_compact(bands_path: str) -> int:
    """Append ticks since the last compaction (0 for a fresh/absent sink;
    pre-counter metas read as 0 — the first post-upgrade append starts
    the count)."""
    meta = artifact.read_json(os.path.join(bands_path, _BANDS_META)) or {}
    return int(meta.get("ticks_since_compact", 0))


def band_compaction_due(bands_path: str,
                        every_n: int = BANDS_COMPACT_EVERY) -> bool:
    """True when the append-tick counter has reached the cadence."""
    return band_ticks_since_compact(bands_path) >= every_n


def _band_files(bands_path: str) -> list[str]:
    return [os.path.join(r, f)
            for r, _, fs in os.walk(bands_path)
            for f in fs if f.startswith("part-")]


#: Target bytes per compacted band-table file (healthy split size).
BANDS_BYTES_PER_FILE = 25 * 1024 * 1024


def _assert_no_interrupted_compaction(bands_path: str) -> None:
    """Make the compaction swap window LOUD instead of lossy.

    :func:`compact_band_table` swaps the rewrite in with
    :func:`artifact.replace_dir`; a crash between its two renames leaves
    no ``bands_path`` at all — and a fresh tick would then silently treat
    the sink as empty, accept every near-duplicate of the stranded
    history, and start a new table (the exact silent-reset this module's
    format marker exists to prevent). So: a missing ``bands_path`` with a
    stranded sibling REFUSES with recovery instructions. A stranded
    sibling NEXT TO a live marker-valid ``bands_path`` is the benign tail
    of the swap (crash after the rename-in, before cleanup) — superseded,
    removed here."""
    stranded = artifact.stranded(bands_path)
    if not stranded:
        return
    if os.path.exists(os.path.join(bands_path, _BANDS_META)):
        for d in stranded:  # superseded history: swap completed
            shutil.rmtree(d, ignore_errors=True)
        return
    raise RuntimeError(
        f"band table {bands_path} is missing but a compaction-era "
        f"sibling survives ({stranded[0]}) — a compaction crashed "
        "mid-swap. Recover the history with "
        f"`mv {stranded[0]} {bands_path}` (then re-run compaction) "
        "instead of starting an empty sink that would silently accept "
        "near-duplicates of everything already ingested.")


def compact_band_table(spark: SparkSession, bands_path: str,
                       bytes_per_file: int = BANDS_BYTES_PER_FILE) -> dict:
    """Rewrite the append-log band table into size-targeted files and
    reset the tick counter.

    The table's CONTENT is already minimal (every row is a live band of
    an accepted doc — nothing is superseded), so compaction is purely a
    small-file rewrite: each tick's append lands ≥1 file per task, and
    after hundreds of ticks the per-tick candidate join pays listing +
    footer overhead proportional to tick COUNT rather than data size
    (measured in tools/bands_compact_scale.py; SCALE.md §3n). ONE data
    pass: the output file count comes from the input BYTES (already
    listed), and the row count from the rewrite's parquet footers — the
    earlier count()-then-rewrite shape scanned the accreted table twice,
    doubling exactly the I/O compaction exists to save. Single writer:
    the rewrite lands in a tmp dir that :func:`artifact.replace_dir`
    swaps in; the swap window is guarded by
    :func:`_assert_no_interrupted_compaction` (a mid-swap crash refuses
    the next tick with recovery instructions instead of silently
    resetting history). Run it from the (single) maintenance tick, not
    concurrently with an append."""
    _assert_no_interrupted_compaction(bands_path)
    _check_bands_format(bands_path)
    before = _band_files(bands_path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    n_files = max(1, -(-total_bytes // bytes_per_file))
    tmp = f"{bands_path}.compact-{uuid.uuid4().hex}"
    (spark.read.parquet(bands_path).repartition(n_files)
     .write.mode("overwrite").parquet(tmp))
    _stamp_bands_format(tmp, ticks_since_compact=0)
    # footer-only row count of the rewrite (no data scan)
    import pyarrow.parquet as pq

    rows = sum(pq.ParquetFile(f).metadata.num_rows
               for f in _band_files(tmp))
    artifact.replace_dir(tmp, bands_path)
    return {"rows": rows, "files_before": len(before),
            "files_after": len(_band_files(bands_path))}


def near_dedup_against_sink(spark: SparkSession, new_docs: DataFrame,
                            bands_path: str,
                            min_shared: int | None = None,
                            compact_every: int = BANDS_COMPACT_EVERY,
                            auto_compact: bool = True) -> DataFrame:
    """MinHash twin of :func:`dedup_against_sink`: drop new documents that
    are NEAR-duplicates of the HISTORICAL corpus — not just exact-hash
    matches, and not just duplicates within the current micro-batch.

    The history is a persistent LSH band table at ``bands_path``
    (doc_id, mh, band_idx, band_hash — `operators/dedup.py:doc_bands`),
    appended on every tick with the accepted docs' bands, so the state
    survives restarts the same way the sink itself does. Per tick:
    candidates = equi-join of the new docs' bands against the table
    (bucket-bounded, never |new| x |history|), verification from the
    signatures already on the band rows, accept = anti-join on the
    verified dup ids. At 100 TB the band table is the ONLY thing the tick
    re-reads — k-hashes-per-doc sized, not corpus-sized — and it is a
    plain parquet append; small-file accretion is bounded by the
    compaction cadence (:func:`band_compaction_due` every
    BANDS_COMPACT_EVERY ticks -> :func:`compact_band_table`, measured
    in SCALE.md §3n).
    Within-batch self-dedup is the batch operator's job
    (`q_near_dedup`) — compose it upstream when a single tick can carry
    its own near-copies. ``new_docs`` needs (doc_id, text); extra columns
    pass through. Oracle-checked batch twin: `q_incremental_near_dedup`.
    """
    from elasticsearch_hbase_river_spark.operators.dedup import (
        NEAR_DUP_MIN_SHARED, doc_bands, near_dup_decisions,
    )

    # refuse a mid-swap compaction crash BEFORE the exists() check below
    # could misread a stranded history as a fresh sink
    _assert_no_interrupted_compaction(bands_path)
    threshold = NEAR_DUP_MIN_SHARED if min_shared is None else min_shared
    nb = doc_bands(new_docs.select("doc_id", "text")).persist()
    if os.path.exists(bands_path):
        _check_bands_format(bands_path)
        dec = near_dup_decisions(nb, spark.read.parquet(bands_path))
        dups = (dec.filter(F.col("n_shared_max") >= threshold)
                .select("doc_id"))
        accepted = new_docs.join(dups, "doc_id", "left_anti")
    else:
        accepted = new_docs
    ticks = band_ticks_since_compact(bands_path)
    (nb.join(accepted.select("doc_id"), "doc_id")
       .write.mode("append").parquet(bands_path))
    _stamp_bands_format(bands_path, ticks_since_compact=ticks + 1)
    nb.unpersist()
    # the cadence is PART of the tick, not an optional chore a deployment
    # must remember to wire: every compact_every appends, pay the rewrite
    # once so the next N-1 ticks read a compacted table
    if auto_compact and band_compaction_due(bands_path, compact_every):
        # the returned (lazy) accepted still references the PRE-compaction
        # band files through the anti-join's lineage; cut it with an
        # eager checkpoint (delta-sized) before the swap deletes them
        accepted = accepted.localCheckpoint(eager=True)
        compact_band_table(spark, bands_path)
    return accepted


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end query (driver smoke): melt -> incremental scan
    (cold start) -> assemble nested docs -> latest-wins upsert."""
    from elasticsearch_hbase_river_spark.sources.cells import cells_from_events

    config = RiverConfig(table="events", index="river", type_name="doc",
                         column_separator="::")
    return river_tick_plan(cells_from_events(spark, sf_dir), config, watermark_ms=0)
