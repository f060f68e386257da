"""Streaming river: the reference's polling scheduler re-expressed as a
Structured Streaming query.

Reference mapping (SURVEY.md §2.1 rows 15, 11, 4; §3.3):

- scheduler loop, first run immediate then every ``interval`` ms
  (HBaseParser.java:49-73)            -> ``Trigger.ProcessingTime`` /
                                         ``availableNow`` for drain-and-stop
- micro-batched bulk sink (HBaseParser.java:135-162)
                                      -> ``foreachBatch`` upsert writer
- incremental watermark from the sink (HBaseParser.java:258-280)
                                      -> checkpointed source offsets (the
                                         idiomatic replacement; sink-max
                                         lookup stays a recovery path —
                                         SURVEY.md §7 "hard parts")
- ``stopThread`` clean shutdown (HBaseParser.java:249-251, :53-70)
                                      -> ``StreamingQuery.stop()``
- late data: the reference re-reads everything above the sink max-ts; the
  streaming twin instead bounds state with an event-time watermark.

The source is a file stream of cells (parquet); in production this is
Kafka/CDC — the transform chain is source-agnostic because it only sees the
canonical cells schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from elasticsearch_hbase_river_spark import artifact
from elasticsearch_hbase_river_spark.config import RiverConfig
from elasticsearch_hbase_river_spark.plans.pipeline import assemble_documents

#: Epochs-directory layout version. v2 = index_dir/{postings,docs}/epoch=N
#: (the doc-manifest layout); v1 (pre-round-5) was index_dir/epoch=N with
#: no manifest. The two are silently incompatible: a v2 writer resumed over
#: a v1 directory writes beside the old epochs and read_inverted_index
#: drops them without an error — so the directory carries an explicit
#: marker (written through ``artifact.write_json``) and both writer and
#: readers refuse a mismatch.
EPOCHS_LAYOUT_VERSION = 2
_EPOCHS_META = "_epochs_meta.json"


def _check_epochs_layout(index_dir: str, mode: str | None = None) -> None:
    """Refuse mixed-layout epoch directories: a populated directory must
    carry the current layout marker. Fresh/empty directories pass (the
    writer stamps them on first use). With ``mode`` given, additionally
    refuse an ANALYZER-MODE mismatch (marker-less/pre-stamp directories
    read as 'ascii', the only mode that existed): resuming a unicode
    stream over ascii epochs (or vice versa) would merge two
    tokenizations into one index with no error anywhere."""
    m = artifact.read_json(os.path.join(index_dir, _EPOCHS_META)) or {}
    found = m.get("layout")
    if found == EPOCHS_LAYOUT_VERSION:
        found_mode = m.get("mode", "ascii")
        if mode is not None and found_mode != mode:
            raise ValueError(
                f"index epochs directory {index_dir} was written with "
                f"analyzer mode {found_mode!r}, stream configured for "
                f"{mode!r} — mixing tokenizations silently corrupts the "
                "merged index. Rebuild into a fresh directory (and "
                "discard the checkpoint) or match the mode.")
        return
    if found is None:
        entries = [e for e in artifact.visible(index_dir)
                   if e != _EPOCHS_META]
        if not entries:
            return  # nothing written yet; the writer will stamp it
        # A populated but marker-less directory that already HAS the v2
        # shape (postings/ + docs/ subdirs, no v1 epoch=N at the root) was
        # written by this engine immediately before the marker existed —
        # stamp it in place instead of forcing a rebuild; the error below
        # is reserved for genuine v1 (or foreign) layouts. Matching subdir
        # NAMES alone is not enough to adopt a directory (a foreign tool's
        # postings/+docs/ output would be silently claimed as a v2 index):
        # additionally require the epoch=N partition children under both,
        # the shape only this writer produces.
        def _has_epoch_children(sub: str) -> bool:
            p = os.path.join(index_dir, sub)
            return os.path.isdir(p) and any(
                e.startswith("epoch=") for e in os.listdir(p))

        if (all(e in ("postings", "docs") for e in entries)
                and not any(e.startswith("epoch=") for e in entries)
                and _has_epoch_children("postings")
                and _has_epoch_children("docs")):
            _stamp_epochs_layout(index_dir)
            return
    raise ValueError(
        f"index epochs directory {index_dir} has layout={found!r}, engine "
        f"expects {EPOCHS_LAYOUT_VERSION} — resuming a stream (or merging "
        "epochs) over a foreign layout silently drops the old epochs. "
        "Rebuild the index stream into a fresh directory (and discard its "
        "checkpoint), or migrate the old epochs explicitly.")


def _stamp_epochs_layout(index_dir: str, mode: str = "ascii") -> None:
    os.makedirs(index_dir, exist_ok=True)
    artifact.write_json(os.path.join(index_dir, _EPOCHS_META),
                        {"layout": EPOCHS_LAYOUT_VERSION, "mode": mode})


CELLS_SCHEMA = StructType([
    StructField("row_key", StringType()),
    StructField("family", StringType()),
    StructField("qualifier", StringType()),
    StructField("value", StringType()),
    StructField("ts_ms", LongType()),
])


def read_cells_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of cells. ``maxFilesPerTrigger`` is the streaming
    analog of the reference's scan batch size (HBaseParser.java:104)."""
    from elasticsearch_hbase_river_spark.sources.tables import _tune_session

    _tune_session(spark)
    return (
        spark.readStream.schema(CELLS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def start_river_stream(
    spark: SparkSession,
    config: RiverConfig,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    sink_format: str = "parquet",
) -> StreamingQuery:
    """Start the streaming river. ``available_now=True`` drains the backlog
    and stops (the testable mode); otherwise triggers every
    ``config.interval_ms`` like the reference's scheduler.

    ``sink_format``: ``"parquet"`` (columnar sink) or ``"es_bulk"`` —
    micro-batches land as Elasticsearch bulk-request files (action/source
    line pairs, one file per ≤ batchSize docs), the closest file-sink
    analog of the reference's per-batch bulk RPC (HBaseParser.java:162)."""
    cells = read_cells_stream(spark, source_dir)
    if config.family:
        cells = cells.filter(F.col("family") == config.family)
    if config.qualifiers:
        cells = cells.filter(F.col("qualifier").isin(*config.qualifiers))

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch = the bulk writer (HBaseParser.java:135-162). Within
        # a micro-batch, latest-wins per doc id; across batches, append +
        # read-time latest-wins (a real system MERGEs into Delta/Iceberg).
        from elasticsearch_hbase_river_spark.operators.bulk_sink import (
            write_bulk, write_es_bulk,
        )

        docs = assemble_documents(batch_df, config)
        if sink_format == "es_bulk":
            write_es_bulk(docs, sink_dir, index=config.index,
                          doc_type=config.type_name,
                          batch_size=config.batch_size)
        else:
            write_bulk(docs.withColumn("batch_id", F.lit(batch_id)),
                       sink_dir, config.batch_size)

    writer = (
        assemble_and_stream(cells, config)
        .writeStream
        .foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{config.interval_ms} milliseconds")
    return writer.start()


def start_connector_river(
    spark: SparkSession,
    config: RiverConfig,
    store_path: str,
    bulk_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> StreamingQuery:
    """The river with real connectors on BOTH ends: the ``cellstore``
    streaming source serves each micro-batch as the delta above its
    checkpointed ts offset (the incremental scanner,
    HBaseParser.java:258-280), documents assemble per batch, and the
    ``bulksink`` writer publishes them behind its manifest with the
    micro-batch id as the idempotence epoch — a replayed batch (crash
    between sink write and checkpoint commit) publishes exactly once.

    Family/qualifier restrictions from the config apply as stream filters
    (the batch path pushes them into the store; a streaming scan serves
    the delta, which is already the narrow set)."""
    from elasticsearch_hbase_river_spark.plans.pipeline import assemble_documents
    from elasticsearch_hbase_river_spark.sources import bulksink, cellstore

    cellstore.register(spark)
    bulksink.register(spark)
    cells = (spark.readStream.format("cellstore")
             .option("path", store_path).load())
    if config.family:
        cells = cells.filter(F.col("family") == config.family)
    if config.qualifiers:
        cells = cells.filter(F.col("qualifier").isin(*config.qualifiers))

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        docs = (assemble_documents(batch_df, config)
                .select("doc_id", "doc_ts_ms", "doc_json"))
        (docs.write.format("bulksink")
         .option("path", bulk_dir)
         .option("batch_size", config.batch_size)
         .option("index", config.index)
         .option("doc_type", config.type_name)
         .option("epoch", batch_id)
         .mode("append").save())

    writer = (cells.writeStream.foreachBatch(publish)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{config.interval_ms} milliseconds")
    return writer.start()


def assemble_and_stream(cells: DataFrame, config: RiverConfig) -> DataFrame:
    """Hook point: the per-batch transform happens in foreachBatch (document
    assembly needs a full-row group); the stream itself stays untransformed
    cells. Kept separate so windowed variants can pre-aggregate here."""
    return cells


def streaming_event_rollup(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming twin of q_event_rollup: watermarked hourly windowed counts
    — late cells beyond 2h are dropped instead of re-scanned (the reference
    re-reads everything newer than sink-max each tick; a watermark bounds
    state at scale)."""
    cells = read_cells_stream(spark, source_dir)
    return (
        cells.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "family")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .select(F.col("window.start").alias("hour_start"), "family", "n_cells")
    )


def streaming_enrich(spark: SparkSession, source_dir: str,
                     dim: DataFrame, on: str = "row_key") -> DataFrame:
    """Stream-static enrichment: the cells stream joined to a STATIC
    dimension during import — the lookup-join every real river grows
    (the reference's fixed dataflow cannot attach reference data,
    SURVEY.md §2.2 'no joins'). Spark broadcasts the static side into
    every micro-batch; no stream state, no watermark needed — the
    canonical scale shape for dimension enrichment on a stream."""
    cells = read_cells_stream(spark, source_dir)
    return cells.join(F.broadcast(dim), on, "left")


def streaming_sessionize(spark: SparkSession, source_dir: str,
                         gap: str = "30 minutes") -> DataFrame:
    """Streaming twin of q_sessionize: gap-based sessions per row key via
    ``session_window`` — state is one open window per key, closed and
    emitted when the watermark passes the gap. The batch twin computes the
    same sessions with lag()+running-sum; at 100 TB the streaming form
    never re-scans history."""
    cells = read_cells_stream(spark, source_dir)
    return (
        cells.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("session"), "row_key")
        .agg(F.count(F.lit(1)).alias("n_cells"),
             F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .select("row_key", F.col("session.start").alias("session_start"),
                F.col("session.end").alias("session_end"),
                "n_cells", "first_ts", "last_ts")
    )


def streaming_exact_dedup(spark: SparkSession, source_dir: str) -> DataFrame:
    """Stateful streaming exact dedup: first occurrence of each
    (row_key, qualifier, value-hash) wins; duplicates arriving within the
    watermark horizon are dropped. ``dropDuplicatesWithinWatermark`` bounds
    the dedup state (a plain dropDuplicates on a stream retains ALL keys
    forever — unusable at 100 TB)."""
    cells = read_cells_stream(spark, source_dir)
    return (
        cells.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withColumn("content_hash", F.md5(F.concat_ws("\x00", "row_key",
                                                      "family", "qualifier",
                                                      "value")))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


_BAND_STATE_SCHEMA = "members ARRAY<LONG>"
_BAND_OUT_SCHEMA = "doc_a LONG, doc_b LONG, band_idx INT, band_val LONG"

#: Hard cap on per-bucket membership. An LSH bucket that keeps attracting
#: members is either a degenerate band (near-constant text) or an actual
#: mega-cluster; in both cases every further arrival would emit
#: O(occupancy) pairs and grow state forever. Beyond the cap new docs still
#: compare against the capped member set (pairs keep flowing) but are not
#: remembered.
MAX_BUCKET_OCCUPANCY = 64


def streaming_near_dedup(spark: SparkSession, docs_source_dir: str,
                         files_per_trigger: int = 16,
                         state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection: per-document signatures
    and band keys are computed map-side on the stream (same expressions as
    the batch ``q_minhash_signature``); candidate pairs come from an
    ``applyInPandasWithState`` operator keyed on (band_idx, band_val) whose
    state is the set of doc_ids already seen in that bucket.

    This is the 100 TB streaming shape: state is per-band-bucket — a typed
    LONG array capped at ``MAX_BUCKET_OCCUPANCY`` members (so per-arrival
    work and state size are both O(cap), not O(stream length)) with an
    optional processing-time TTL (``state_ttl_ms``) that drops idle
    buckets. New documents only compare against their own buckets and
    emission happens incrementally — no re-scan of the corpus per batch.
    Pairs may repeat across bands; downstream consumers dedupe
    (doc_a, doc_b) idempotently.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from elasticsearch_hbase_river_spark.operators.dedup import (
        N_BANDS, _band_col, _gram_hash_df, minhash_signature,
    )
    from elasticsearch_hbase_river_spark.sources.tables import _tune_session

    _tune_session(spark)
    docs = (spark.readStream
            .schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(docs_source_dir))
    # identical map-side gram hashing + signature as the batch
    # q_minhash_signature — the expressions are streaming-safe
    sig = minhash_signature(_gram_hash_df(docs))
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            _band_col(b) for b in range(N_BANDS)])).alias("band_idx", "band_val"),
    )

    ttl_ms = state_ttl_ms

    def match(key, pdfs, state):
        import pandas as pd  # runs on Python workers

        band_idx, band_val = key
        empty = {"doc_a": [], "doc_b": [], "band_idx": [], "band_val": []}
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(empty)
            return
        members = list(state.get[0]) if state.exists else []
        seen = set(members)
        out = dict(empty)
        for pdf in pdfs:
            for doc in pdf["doc_id"]:
                d = int(doc)
                if d in seen:
                    continue
                for other in members:
                    a, b = sorted((d, other))
                    out["doc_a"].append(a)
                    out["doc_b"].append(b)
                    out["band_idx"].append(band_idx)
                    out["band_val"].append(band_val)
                if len(members) < MAX_BUCKET_OCCUPANCY:
                    members.append(d)
                    seen.add(d)
        state.update((members,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return bands.groupBy("band_idx", "band_val").applyInPandasWithState(
        match,
        outputStructType=_BAND_OUT_SCHEMA,
        stateStructType=_BAND_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


_LATEST_STATE_SCHEMA = "row_key STRING, ts_ms LONG, n_versions LONG"
_LATEST_OUT_SCHEMA = ("row_key STRING, latest_ts_ms LONG, n_versions LONG, "
                      "batch_rows LONG")


def streaming_latest_version(spark: SparkSession, source_dir: str,
                             files_per_trigger: int = 16) -> DataFrame:
    """The upsert/latest-version-wins operator as TRUE streaming state via
    ``applyInPandasWithState``: per row key, keep (latest ts, version count)
    across micro-batches and emit the running latest on every update.

    This is the custom-stateful-operator pattern (SURVEY.md §2.1 row 14 in
    streaming form): state lives in the state store, partitioned by key —
    the 100 TB shape is exactly this, one state row per live key.

    State update is a closure so cloudpickle ships it by value (workers
    don't have the package importable when loaded from a file path).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd  # local import: runs on Python workers

        (row_key,) = key
        if state.exists:
            _, latest, versions = state.get
        else:
            latest, versions = None, 0
        rows = 0
        for pdf in pdfs:
            rows += len(pdf)
            batch_max = int(pdf["ts_ms"].max())
            versions += len(pdf)
            latest = batch_max if latest is None else max(latest, batch_max)
        state.update((row_key, int(latest), int(versions)))
        yield pd.DataFrame({"row_key": [row_key], "latest_ts_ms": [int(latest)],
                            "n_versions": [int(versions)], "batch_rows": [rows]})

    cells = read_cells_stream(spark, source_dir, files_per_trigger)
    return (
        cells.groupBy("row_key")
        .applyInPandasWithState(
            update,
            outputStructType=_LATEST_OUT_SCHEMA,
            stateStructType=_LATEST_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming inverted-index maintenance: the reference's raison d'être (keep a
# search index in sync with a changing table, HBaseRiver.java:1-35) applied
# to the NATIVE index surface (operators/search.py) instead of an external
# Elasticsearch.

DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    # Optional monotonic version stamp from the producer. Parquet feeds
    # written without this column read as NULL (ordinary schema evolution),
    # so pre-existing (doc_id, text) feeds keep working.
    StructField("ver", LongType()),
])


def start_index_stream(spark: SparkSession, docs_source_dir: str,
                       index_dir: str, checkpoint_dir: str,
                       available_now: bool = True,
                       mode: str = "ascii") -> StreamingQuery:
    """Maintain the positional inverted index incrementally: each
    micro-batch of (doc_id, text) documents is aggregated with the SAME
    postings build the batch query uses (`operators/search.py:
    inverted_postings` — per-doc postings are complete within the batch
    that carries the doc) and lands as one epoch partition of the index.

    Exactly-once: the delta is written with per-epoch overwrite
    (``.../epoch=<id>``), so a replayed micro-batch rewrites its own
    partition instead of double-appending — the same epoch-idempotent
    publication discipline as the bulk sink. Document UPDATES re-emit the
    doc_id in a later epoch; ``read_inverted_index`` resolves
    latest-version-wins at read time (ES upsert semantics mirrored to the
    index). When several versions of one doc land in the SAME micro-batch
    (two source files between triggers), the batch itself arbitrates
    latest-wins BEFORE the postings build — aggregating across versions
    would merge two texts into one corrupted posting. The authoritative
    arbitration key is the feed's explicit ``ver`` column (monotonic
    producer stamp, NULL-tolerant); only feeds WITHOUT it fall back to
    file order (modification time, then path). The fallback is
    deterministic but arbitrary when two versions share one mtime
    (millisecond granularity) — part filenames embed random job UUIDs, so
    path order carries no version information. Producers that can emit
    same-millisecond updates must stamp ``ver``."""
    from elasticsearch_hbase_river_spark.operators.search import inverted_postings
    from elasticsearch_hbase_river_spark.sources.tables import _tune_session

    _tune_session(spark)
    # _metadata must be projected on the SOURCE — foreachBatch frames only
    # carry the selected columns, and the file order is the version order.
    docs = (spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 16).parquet(docs_source_dir)
            .select("doc_id", "text", "ver",
                    F.col("_metadata.file_modification_time").alias("_mtime"),
                    F.col("_metadata.file_path").alias("_path")))

    def build_delta(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from elasticsearch_hbase_river_spark.functions.analyzer import (
            tokens_for_mode,
        )

        # foreachBatch runs driver-side: refuse a foreign-layout (or
        # mode-mismatched) epochs directory BEFORE writing beside it,
        # then stamp the marker with this stream's analyzer mode.
        _check_epochs_layout(index_dir, mode=mode)
        _stamp_epochs_layout(index_dir, mode=mode)

        w = Window.partitionBy("doc_id").orderBy(
            F.col("ver").desc_nulls_last(),
            F.col("_mtime").desc(), F.col("_path").desc(),
            F.col("text").desc())
        latest = (batch_df.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).select("doc_id", "text")
                  .persist())
        # Same analyzer-scope guard as build_index: without it the
        # STREAM would index documents the batch builder refuses —
        # rebuild failing loudly while maintenance degrades silently.
        # Batches are delta-sized, so the full check is cheap per tick.
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            assert_analyzable_corpus,
        )
        assert_analyzable_corpus(latest, mode=mode)
        (inverted_postings(latest, mode)
         .write.mode("overwrite")
         .parquet(f"{index_dir}/postings/epoch={batch_id}"))
        # Per-epoch DOC MANIFEST: one row per document carried by this
        # batch, INCLUDING zero-token documents (an update that empties a
        # doc has no postings rows but must still register as a change,
        # and the doc still counts toward N / avgdl — ES indexes empty
        # documents). The manifest is also the latest-epoch arbitration
        # authority for the merged read.
        (latest.select(
            "doc_id",
            F.size(tokens_for_mode(F.col("text"), mode)).cast("long")
            .alias("dl"))
         .write.mode("overwrite")
         .parquet(f"{index_dir}/docs/epoch={batch_id}"))
        latest.unpersist()

    writer = (docs.writeStream.foreachBatch(build_delta)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_inverted_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged index with latest-version-wins per document: postings are
    kept only from each doc_id's newest epoch (a doc's re-index supersedes
    all its older postings, exactly like an ES upsert replaces the old
    document). Arbitration reads the DOC MANIFEST, not the postings —
    a doc whose newest version has zero tokens keeps NO postings (its
    manifest epoch outranks every postings epoch). The manifest side is
    one row per (doc_id, epoch) — tiny next to the postings, and the join
    is an equi-join on (doc_id, epoch)."""
    _check_epochs_layout(index_dir)
    idx = spark.read.parquet(f"{index_dir}/postings")
    latest = (spark.read.parquet(f"{index_dir}/docs")
              .groupBy("doc_id").agg(F.max("epoch").alias("epoch")))
    return (idx.join(latest, ["doc_id", "epoch"])
            .select("token", "doc_id", "tf", "first_pos", "positions", "dl"))


def read_epoch_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged doc manifest (doc_id, dl), latest epoch wins — the
    authoritative changed-doc set for ``apply_epoch_deltas`` (covers
    zero-token re-indexes that have no postings rows)."""
    from pyspark.sql import Window

    _check_epochs_layout(index_dir)
    d = spark.read.parquet(f"{index_dir}/docs")
    w = Window.partitionBy("doc_id").orderBy(F.col("epoch").desc())
    return (d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("doc_id", "dl"))


# ---------------------------------------------------------------------------
# Fielded (nested-document) index maintenance: the same epoch-delta
# discipline as start_index_stream, for the dynamic-field search surface.

NESTED_EPOCHS_LAYOUT_VERSION = 1
_NESTED_EPOCHS_META = "_nested_epochs_meta.json"


def _check_nested_epochs_layout(index_dir: str) -> None:
    meta = artifact.read_json(os.path.join(index_dir, _NESTED_EPOCHS_META))
    found = (meta or {}).get("layout")
    if found == NESTED_EPOCHS_LAYOUT_VERSION:
        return
    if found is None and not artifact.visible(index_dir):
        return
    raise ValueError(
        f"nested epochs directory {index_dir} has layout={found!r}, engine "
        f"expects {NESTED_EPOCHS_LAYOUT_VERSION} — refuse to write beside "
        "a foreign layout.")


def _stamp_nested_epochs_layout(index_dir: str) -> None:
    os.makedirs(index_dir, exist_ok=True)
    artifact.write_json(os.path.join(index_dir, _NESTED_EPOCHS_META),
                        {"layout": NESTED_EPOCHS_LAYOUT_VERSION})


def start_nested_index_stream(spark: SparkSession, cells_source_dir: str,
                              index_dir: str, checkpoint_dir: str,
                              available_now: bool = True,
                              files_per_trigger: int = 16,
                              base_index_dir: str | None = None
                              ) -> StreamingQuery:
    """Maintain the FIELDED (nested-document) index incrementally: each
    micro-batch of CELLS (the river's input unit) melts to dynamic
    fields and lands as one epoch of fielded postings — the streaming
    maintainer for the `operators/nesteddoc.py` search surface, with the
    same exactly-once per-epoch-overwrite discipline as
    ``start_index_stream``.

    Contract: a micro-batch carries COMPLETE rows for its changed
    row_keys (scan batches arrive row-grouped, HBaseParser.java:101-110
    — the same assumption the pipeline's assemble makes); within a
    batch, cell versions arbitrate by ts_ms (HBase cell semantics).
    Epoch outputs: ``fpostings/epoch=N`` (the batch docs' fielded
    postings), ``fdl/epoch=N`` (per doc/field analyzed lengths),
    ``docs/epoch=N`` (one row per changed doc — the arbitration
    authority, covering re-indexes that emptied every analyzable
    field). Readers resolve latest-epoch-wins per doc
    (`nesteddoc.read_nested_epochs`); serving between compactions is
    `nesteddoc.nested_field_search_live`. ``files_per_trigger`` bounds
    the micro-batch (= epoch) size; lifecycle tests set 1 so one
    availableNow drain crosses real batch boundaries."""
    cells = read_cells_stream(spark, cells_source_dir,
                              max_files_per_trigger=files_per_trigger)

    def build_delta(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from elasticsearch_hbase_river_spark.operators.nesteddoc import (
            _field_dl,
            _fpostings,
            fielded_cells_from,
        )

        _check_nested_epochs_layout(index_dir)
        _stamp_nested_epochs_layout(index_dir)
        w = Window.partitionBy("row_key", "family", "qualifier").orderBy(
            F.col("ts_ms").desc(), F.col("value").desc())
        latest = (batch_df.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).drop("rn").persist())
        # analyzer-scope guard on the VALUE column (the nested index
        # analyzes cell values) — see the docs-stream twin above
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            assert_ascii_corpus,
        )
        assert_ascii_corpus(latest, col="value")
        fc = fielded_cells_from(latest)
        (_fpostings(fc).write.mode("overwrite")
         .parquet(f"{index_dir}/fpostings/epoch={batch_id}"))
        (_field_dl(fc).write.mode("overwrite")
         .parquet(f"{index_dir}/fdl/epoch={batch_id}"))
        (latest.select(F.col("row_key").alias("doc_id")).distinct()
         .write.mode("overwrite")
         .parquet(f"{index_dir}/docs/epoch={batch_id}"))
        # length-stats sidecar (nesteddoc.write_nested_epoch_stats_sidecar):
        # per-field (n_r, s_r, n_a, s_a) vs the live view just before this
        # epoch, so serving never re-derives the base removal per query.
        # Only written when a base index exists alongside the epochs (the
        # maintainer can also run before any base build; serving then uses
        # the fallback derivation).
        if base_index_dir is not None:
            from elasticsearch_hbase_river_spark.operators.nesteddoc import (
                write_nested_epoch_stats_sidecar,
            )

            write_nested_epoch_stats_sidecar(
                spark, base_index_dir, index_dir, batch_id)
        latest.unpersist()

    writer = (cells.writeStream.foreachBatch(build_delta)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


VEC_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    # float32 embeddings, matching the embeddings fixture dtype
    StructField("embedding", ArrayType(FloatType())),
    StructField("label", IntegerType()),
    # Optional monotonic producer version stamp (same contract as
    # DOCS_SCHEMA.ver): feeds without it read as NULL.
    StructField("ver", LongType()),
])


def start_vector_stream(spark: SparkSession, vec_source_dir: str,
                        delta_dir: str, checkpoint_dir: str,
                        available_now: bool = True) -> StreamingQuery:
    """Maintain the persistent VECTOR index incrementally — the embedding
    twin of ``start_index_stream``: each micro-batch of (vec_id,
    embedding, label) upserts lands as one epoch partition of a delta
    directory, with per-epoch overwrite so a replayed micro-batch
    rewrites its own partition (exactly-once under checkpointing).

    Same-batch duplicate vec_ids arbitrate latest-wins BEFORE landing,
    keyed on the producer ``ver`` stamp (falling back to file mtime/path
    order — deterministic but arbitrary at equal mtimes, same caveat as
    the document feed). Cross-epoch updates resolve at merge time:
    ``read_vector_deltas`` keeps each vec_id's newest epoch, and
    ``apply_vector_deltas`` folds the result into a published index via
    the batch ``upsert_vectors`` — stream and batch maintenance share one
    merge semantics."""
    from elasticsearch_hbase_river_spark.sources.tables import _tune_session

    _tune_session(spark)
    vecs = (spark.readStream.schema(VEC_SCHEMA)
            .option("maxFilesPerTrigger", 16).parquet(vec_source_dir)
            .select("vec_id", "embedding", "label", "ver",
                    F.col("_metadata.file_modification_time").alias("_mtime"),
                    F.col("_metadata.file_path").alias("_path")))

    def land_delta(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id").orderBy(
            F.col("ver").desc_nulls_last(),
            F.col("_mtime").desc(), F.col("_path").desc())
        latest = (batch_df.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("vec_id", "embedding", "label"))
        latest.write.mode("overwrite").parquet(f"{delta_dir}/epoch={batch_id}")

    writer = (vecs.writeStream.foreachBatch(land_delta)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_vector_deltas(spark: SparkSession, delta_dir: str) -> DataFrame:
    """The pending vector upserts with latest-version-wins per vec_id
    (newest epoch supersedes older ones). Arbitration joins a per-vec_id
    max-epoch aggregate — one row per touched vector, equi-joined."""
    d = spark.read.parquet(delta_dir)
    latest = d.groupBy("vec_id").agg(F.max("epoch").alias("epoch"))
    return (d.join(latest, ["vec_id", "epoch"])
            .select("vec_id", "embedding", "label"))


def apply_vector_deltas(spark: SparkSession, base_index_dir: str,
                        delta_dir: str, out_dir: str) -> None:
    """Fold the streamed epoch deltas into a published vector index —
    the stream's counterpart of `operators/vector_index.upsert_vectors`
    (which it delegates to, so batch and streaming maintenance provably
    share one merge)."""
    from elasticsearch_hbase_river_spark.operators.vector_index import (
        upsert_vectors,
    )

    upsert_vectors(spark, base_index_dir,
                   read_vector_deltas(spark, delta_dir), out_dir)


def start_percolate_stream(spark: SparkSession, docs_source_dir: str,
                           stored_queries: DataFrame, alerts_dir: str,
                           checkpoint_dir: str,
                           available_now: bool = True) -> StreamingQuery:
    """Streaming percolation — the alerting engine ES's percolator exists
    for: every micro-batch of incoming documents is matched against the
    registered (query_id, token) AND-queries and the hits land as one
    alert epoch ``alerts_dir/epoch=<id>`` with (doc_id, query_id).

    Per batch: analyzed distinct (doc, token) ⋈ broadcast stored terms →
    one partial-aggregated AND count (docs are complete within their
    batch, so the per-batch aggregate is exact — the same reason
    ``start_index_stream`` can build whole postings per epoch). Epoch
    overwrite keeps replays exactly-once. At registration scale the
    broadcast swaps for the canonical-term-set hash join of
    ``q_percolate_indexed`` — same relation shapes. The stored-query
    relation is captured at stream start; re-registering queries means
    restarting the stream, exactly like reloading a percolator index."""
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_tokens,
    )
    from elasticsearch_hbase_river_spark.sources.tables import _tune_session

    _tune_session(spark)
    n_terms = (stored_queries.groupBy("query_id")
               .agg(F.count_distinct("token").alias("need")))
    rules = (stored_queries.select("query_id", "token").distinct()
             .join(n_terms, "query_id").persist())
    rules.count()  # materialize once; every batch broadcasts this

    docs = (spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 16).parquet(docs_source_dir)
            .select("doc_id", "text"))

    def match(batch_df: DataFrame, batch_id: int) -> None:
        doc_tok = (batch_df.select(
            "doc_id", F.explode(analyze_tokens(F.col("text"))).alias("token"))
            .distinct())
        hits = (doc_tok.join(F.broadcast(rules), "token")
                .groupBy("doc_id", "query_id", "need")
                .agg(F.count(F.lit(1)).alias("got"))
                .filter(F.col("got") == F.col("need"))
                .select("doc_id", "query_id"))
        hits.write.mode("overwrite").parquet(f"{alerts_dir}/epoch={batch_id}")

    writer = (docs.writeStream.foreachBatch(match)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming cumulative cardinality — per-user first appearance.

_FIRST_OUT_SCHEMA = "user_id LONG, day_id LONG"
_FIRST_STATE_SCHEMA = "first_day LONG"


def streaming_first_appearance(spark: SparkSession, events_source_dir: str,
                               files_per_trigger: int = 16) -> DataFrame:
    """Streaming twin of the batch ``q_cumulative_cardinality`` firsts
    relation (`operators/esdsl5.py`): emit ``(user_id, day_id)`` the
    FIRST time each user is seen on the stream; later arrivals emit
    nothing, and an earlier-day arrival in a later batch corrects state
    downward and re-emits (out-of-order input converges to the batch
    min, so the union of emissions per user minimized over day equals
    the batch firsts relation — the lifecycle test pins exactly that).

    100 TB shape: state is ONE long per user, keyed by user — Spark
    shards the state store by key, per-arrival work is O(1), and the
    cumulative-count aggregation downstream runs over the day relation,
    never the corpus. ES computes this agg from an HLL sketch per
    bucket; this twin is exact, the same trade `q_cumulative_cardinality`
    documents.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from elasticsearch_hbase_river_spark.sources.tables import _tune_session

    _tune_session(spark)
    # Source = the (user_id, ts_ms) projection of the canonical events
    # relation (the test writes it with `load_events`), same convention
    # as streaming_near_dedup's (doc_id, text) source.
    ev = (spark.readStream
          .schema("user_id LONG, ts_ms LONG")
          .option("maxFilesPerTrigger", files_per_trigger)
          .parquet(events_source_dir))
    day_ms = 86_400_000
    keyed = ev.select(
        "user_id", F.expr(f"ts_ms div {day_ms}").alias("day_id"))

    def first_seen(key, pdfs, state):
        import pandas as pd  # runs on Python workers

        (user_id,) = key
        out = {"user_id": [], "day_id": []}
        best = state.get[0] if state.exists else None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["day_id"].min())
                if best is None or m < best:
                    best = m
                    out["user_id"].append(int(user_id))
                    out["day_id"].append(m)
        if best is not None:
            state.update((best,))
        yield pd.DataFrame(out)

    return keyed.groupBy("user_id").applyInPandasWithState(
        first_seen,
        outputStructType=_FIRST_OUT_SCHEMA,
        stateStructType=_FIRST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_EQL_OUT_SCHEMA = "user_id LONG, vts LONG, cts LONG, pts LONG, span_ms LONG"
_EQL_STATE_SCHEMA = ("pv ARRAY<LONG>, ppv ARRAY<LONG>, ppc ARRAY<LONG>")


def streaming_eql_sequence(spark: SparkSession, events_source_dir: str,
                           files_per_trigger: int = 1) -> DataFrame:
    """Streaming CEP twin of the batch EQL ``sequence by user_id with
    maxspan [view] [click] [purchase]`` (`operators/esdsl8.py:
    eql_matches`): per-user keyed state carries the PENDING partial
    matches — views awaiting their first click, (view, click) pairs
    awaiting their first purchase — and each arriving event advances or
    expires them, emitting completed matches immediately. This is the
    ES/EQL executor's own model (pending sequence state per join key,
    expired by maxspan) re-expressed on Structured Streaming keyed
    state.

    Transition rules, applied in (ts, event_id) stream order:

    - ``view``      → enters the pending-view set.
    - ``click``     → ALL pending views pair with it (the click is each
      one's first-following click) and move to the pending-pair set;
      the pending-view set empties.
    - ``purchase``  → every pending pair resolves: emit a match if
      ``pts - vts <= maxspan`` else drop (this purchase was the pair's
      first-following purchase either way); the pending-pair set
      empties.
    - every arrival first EVICTS state older than maxspan (a view or
      pair whose ``vts`` is more than maxspan behind the current event
      can never complete) — state per user is BOUNDED by one maxspan
      window of its own events, the CEP state-size story at 100 TB.

    Ordering contract: per-user events must arrive in (ts, event_id)
    order ACROSS batches (within a batch they are sorted here). That is
    the standard CEP ingestion contract (Flink's event-time order after
    watermarking); the lifecycle test feeds time-ordered files and pins
    emission-equality with the batch relation.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from elasticsearch_hbase_river_spark.operators.esdsl8 import (
        EQL_MAXSPAN_MS,
        EQL_STAGES,
    )
    from elasticsearch_hbase_river_spark.sources.tables import _tune_session

    _tune_session(spark)
    ev = (spark.readStream
          .schema("user_id LONG, event_id LONG, ts_ms LONG,"
                  " event_type STRING")
          .option("maxFilesPerTrigger", files_per_trigger)
          .parquet(events_source_dir))
    keyed = ev.filter(F.col("event_type").isin(*EQL_STAGES))
    v_t, c_t, p_t = EQL_STAGES
    maxspan = EQL_MAXSPAN_MS

    def advance(key, pdfs, state):
        import pandas as pd  # runs on Python workers

        (user_id,) = key
        pv, ppv, ppc = ((list(state.get[0]), list(state.get[1]),
                         list(state.get[2]))
                        if state.exists else ([], [], []))
        out = {"user_id": [], "vts": [], "cts": [], "pts": [],
               "span_ms": []}
        chunks = list(pdfs)
        batch = (pd.concat(chunks, ignore_index=True) if chunks
                 else pd.DataFrame(columns=["ts_ms", "event_id",
                                            "event_type"]))
        if len(batch):
            batch = batch.sort_values(["ts_ms", "event_id"])
            for ts, typ in zip(batch["ts_ms"], batch["event_type"]):
                ts = int(ts)
                # evict state that can no longer complete within maxspan
                pv = [t for t in pv if ts - t <= maxspan]
                keep = [i for i, t in enumerate(ppv)
                        if ts - t <= maxspan]
                ppv = [ppv[i] for i in keep]
                ppc = [ppc[i] for i in keep]
                if typ == v_t:
                    pv.append(ts)
                elif typ == c_t:
                    ppv.extend(pv)
                    ppc.extend([ts] * len(pv))
                    pv = []
                elif typ == p_t:
                    for vts, cts in zip(ppv, ppc):
                        if ts - vts <= maxspan:
                            out["user_id"].append(int(user_id))
                            out["vts"].append(vts)
                            out["cts"].append(cts)
                            out["pts"].append(ts)
                            out["span_ms"].append(ts - vts)
                    ppv, ppc = [], []
        state.update((pv, ppv, ppc))
        yield pd.DataFrame(out)

    return keyed.groupBy("user_id").applyInPandasWithState(
        advance,
        outputStructType=_EQL_OUT_SCHEMA,
        stateStructType=_EQL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
