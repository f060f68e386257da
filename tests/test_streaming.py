"""Streaming river: drain-and-stop (availableNow) end-to-end."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.config import RiverConfig
from elasticsearch_hbase_river_spark.sources.cells import cells_from_events
from elasticsearch_hbase_river_spark.streaming.river_stream import (
    start_river_stream, streaming_event_rollup, streaming_exact_dedup,
    streaming_latest_version, streaming_near_dedup, streaming_sessionize,
)


def _write_cells(spark, sf_dir, out, n_files=4):
    cells_from_events(spark, sf_dir).repartition(n_files) \
        .write.mode("overwrite").parquet(out)


def test_stream_drains_and_upserts(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_cells(spark, sf_dir, src)
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::", interval_ms=1000)
    q = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    out = spark.read.parquet(sink)
    # every row key appears exactly once per micro-batch it arrived in;
    # with maxFilesPerTrigger=16 and 4 files this is a single batch
    assert out.select("doc_id").distinct().count() == 1000
    doc = json.loads(out.limit(1).collect()[0].doc_json)
    assert set(doc) <= {"data", "meta"}

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q2.awaitTermination(120), "stream did not drain in 120s"
    assert spark.read.parquet(sink).count() == out.count()


def test_stream_restart_picks_up_only_new_files(spark, sf_dir, tmp_path):
    """Checkpoint recovery: a restarted river resumes from its offsets and
    processes ONLY files that arrived while it was down (the streaming
    analog of the watermark-incremental tick)."""
    src = str(tmp_path / "src_restart")
    sink = str(tmp_path / "sink_restart")
    ckpt = str(tmp_path / "ckpt_restart")
    base = cells_from_events(spark, sf_dir)
    old = base.filter(F.col("row_key").cast("long") < 800)
    new = base.filter(F.col("row_key").cast("long") >= 800)
    old.repartition(2).write.mode("overwrite").parquet(src)
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      interval_ms=1000)
    q1 = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q1.awaitTermination(120), "stream did not drain in 120s"
    n1 = spark.read.parquet(sink).count()
    assert n1 == 800

    # river is down; new data lands
    new.repartition(1).write.mode("append").parquet(src)
    q2 = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q2.awaitTermination(120), "stream did not drain in 120s"
    out = spark.read.parquet(sink)
    assert out.count() == 1000                       # old NOT reprocessed
    assert out.select("doc_id").distinct().count() == 1000


def test_stream_to_es_bulk_files(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src_bulk")
    sink = tmp_path / "sink_bulk"
    ckpt = str(tmp_path / "ckpt_bulk")
    _write_cells(spark, sf_dir, src)
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      interval_ms=1000, batch_size=200)
    q = start_river_stream(spark, cfg, src, str(sink), ckpt,
                           available_now=True, sink_format="es_bulk")
    assert q.awaitTermination(120), "stream did not drain in 120s"
    lines = [ln for p in sink.iterdir() if p.name.startswith("part-")
             for ln in p.read_text().rstrip("\n").split("\n")]
    assert len(lines) == 2 * 1000  # action+source per doc
    actions = [json.loads(ln)["index"] for ln in lines[0::2]]
    assert {a["_index"] for a in actions} == {"river"}
    assert len({a["_id"] for a in actions}) == 1000


def test_streaming_enrich_joins_static_dimension(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        streaming_enrich,
    )

    src = str(tmp_path / "src_enrich")
    _write_cells(spark, sf_dir, src)
    # static dimension: per-row-key user attribution from the events table
    from elasticsearch_hbase_river_spark.sources.tables import load_events

    dim = load_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("row_key"),
        F.col("user_id").alias("dim_user"))
    df = streaming_enrich(spark, src, dim)
    assert df.isStreaming
    q = (df.writeStream.format("memory").queryName("enrich_t")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in 120s"
    out = spark.table("enrich_t")
    assert out.count() == 4000  # 4 cells per event
    assert out.filter(F.col("dim_user").isNull()).count() == 0


def test_streaming_sessionize(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src_sess")
    _write_cells(spark, sf_dir, src)
    df = streaming_sessionize(spark, src)
    assert df.isStreaming
    q = (df.writeStream.format("memory").queryName("sess_t")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in 120s"
    assert spark.table("sess_t").columns == [
        "row_key", "session_start", "session_end",
        "n_cells", "first_ts", "last_ts"]


def test_streaming_exact_dedup_drops_duplicate_cells(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src_dd")
    cells = cells_from_events(spark, sf_dir)
    # duplicate the whole relation: every cell appears twice in the stream
    cells.unionByName(cells).repartition(4).write.mode("overwrite").parquet(src)
    out = streaming_exact_dedup(spark, src)
    q = (out.writeStream.format("memory").queryName("dedup_t")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = spark.table("dedup_t")
    n_unique = cells.select("row_key", "family", "qualifier", "value") \
                    .distinct().count()
    assert got.count() == n_unique
    assert got.select("content_hash").distinct().count() == n_unique


def test_streaming_latest_version_state(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src_state")
    # 4 source files, 1 per trigger: 4 micro-batches, so per-key state is
    # genuinely read back and updated across batches
    _write_cells(spark, sf_dir, src)
    out = streaming_latest_version(spark, src, files_per_trigger=1)
    q = (out.writeStream.format("memory").queryName("state_t")
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = spark.table("state_t")
    cells = cells_from_events(spark, sf_dir)
    per_key = got.groupBy("row_key").agg(
        F.max("latest_ts_ms").alias("latest_ts_ms"),
        F.max("n_versions").alias("n_versions"))
    expect = cells.groupBy("row_key").agg(
        F.max("ts_ms").alias("e_ts"), F.count(F.lit(1)).alias("e_n"))
    joined = per_key.join(expect, "row_key")
    assert joined.count() == 1000
    assert joined.filter((F.col("latest_ts_ms") != F.col("e_ts"))
                         | (F.col("n_versions") != F.col("e_n"))).count() == 0


def test_streaming_near_dedup_finds_planted_duplicates(spark, sf_dir, tmp_path):
    """LSH band-bucket state: exact copies arriving on the stream are
    reported as candidate pairs against the originals."""
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    src = str(tmp_path / "docs_src")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    docs.write.mode("overwrite").parquet(src)
    copies.write.mode("append").parquet(src)

    out = streaming_near_dedup(spark, src)
    q = (out.writeStream.format("memory").queryName("near_t")
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not drain in 180s"
    pairs = (spark.table("near_t")
             .select("doc_a", "doc_b").distinct())
    planted = {(r.doc_id, r.doc_id + 1_000_000) for r in copies
               .select((F.col("doc_id") - 1_000_000).alias("doc_id")).collect()}
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # every planted exact copy shares all bands with its original
    assert planted <= got


def test_streaming_near_dedup_bucket_occupancy_cap(spark, tmp_path):
    """A degenerate bucket (many identical texts) never holds more than
    MAX_BUCKET_OCCUPANCY members: arrival n pairs against min(n-1, cap)
    remembered members, so total pairs per band is bounded linearly by
    cap·n instead of n²."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        MAX_BUCKET_OCCUPANCY, streaming_near_dedup,
    )

    n_docs = MAX_BUCKET_OCCUPANCY + 20
    src = str(tmp_path / "docs_degenerate")
    rows = [(i, "same text repeated for every doc in this bucket")
            for i in range(n_docs)]
    spark.createDataFrame(rows, "doc_id LONG, text STRING") \
         .coalesce(1).write.mode("overwrite").parquet(src)

    out = streaming_near_dedup(spark, src)
    q = (out.writeStream.format("memory").queryName("near_cap_t")
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not drain in 180s"
    per_band = (spark.table("near_cap_t")
                .groupBy("band_idx", "doc_b").count())
    # doc_b arrives after doc_a, so doc_b's pair count per band == number of
    # members it compared against — never more than the cap
    assert per_band.agg(F.max("count")).collect()[0][0] <= MAX_BUCKET_OCCUPANCY
    expected_pairs_per_band = sum(
        min(i, MAX_BUCKET_OCCUPANCY) for i in range(n_docs))
    total = spark.table("near_cap_t").groupBy("band_idx").count()
    assert all(r["count"] == expected_pairs_per_band for r in total.collect())


def test_streaming_rollup_plan_is_streaming(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src2")
    _write_cells(spark, sf_dir, src)
    df = streaming_event_rollup(spark, src)
    assert df.isStreaming
    q = (df.writeStream.format("memory").queryName("rollup_t")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in 120s"
    # watermarked append-mode windows close only when the watermark passes;
    # with a bounded backlog the final window stays open, so just assert the
    # query ran and the in-flight state machinery works
    assert spark.table("rollup_t").columns == ["hour_start", "family", "n_cells"]


def test_streaming_index_maintenance(spark, sf_dir, tmp_path):
    """Incremental inverted-index upkeep: tick 1 indexes the initial docs,
    an idle tick changes nothing, tick 2 adds new docs AND re-indexes an
    existing one — the merged index must equal the batch postings build
    over the corpus's LATEST document versions (old postings superseded)."""
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators.search import inverted_postings
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_inverted_index, start_index_stream,
    )

    src = str(tmp_path / "docs_src")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "index_ckpt")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").persist())
    batch1 = docs.filter(F.col("doc_id") < 100)
    batch1.write.mode("append").parquet(src)

    def tick():
        q = start_index_stream(spark, src, index, ckpt)
        assert q.awaitTermination(120), "stream did not drain in 120s"

    def merged():
        return Counter(map(tuple, read_inverted_index(spark, index).collect()))

    def batch_build(d):
        return Counter(map(tuple, inverted_postings(d).collect()))

    tick()
    assert merged() == batch_build(batch1)
    tick()  # idle: no new files, index unchanged
    assert merged() == batch_build(batch1)

    # tick 2: new docs 100..199 plus doc 0 re-indexed with new text
    updated = (docs.filter(F.col("doc_id") == 0)
               .select("doc_id", F.lit("fresh text only").alias("text")))
    batch2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)) \
                 .select("doc_id", "text").unionByName(updated)
    batch2.write.mode("append").parquet(src)
    tick()
    want = batch_build(
        batch1.filter(F.col("doc_id") != 0).unionByName(batch2))
    assert merged() == want
    docs.unpersist()


def test_streaming_index_same_batch_update_keeps_latest(spark, sf_dir, tmp_path):
    """Two versions of the same doc arriving within ONE micro-batch must
    resolve latest-wins by file order before the postings build — merging
    them would produce a posting matching neither text."""
    import time
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators.search import inverted_postings
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_inverted_index, start_index_stream,
    )

    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    v1 = spark.createDataFrame([(0, "old stale text")], "doc_id long, text string")
    v2 = spark.createDataFrame([(0, "fresh text wins")], "doc_id long, text string")
    v1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct file modification times
    v2.coalesce(1).write.mode("append").parquet(src)

    q = start_index_stream(spark, src, index, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = Counter(map(tuple, read_inverted_index(spark, index).collect()))
    want = Counter(map(tuple, inverted_postings(v2).collect()))
    assert got == want


def test_streaming_index_same_mtime_explicit_version_wins(spark, tmp_path):
    """Two versions of one doc written back-to-back (same-millisecond file
    mtimes are possible) must arbitrate on the feed's explicit `ver` stamp,
    not on part-file path order — parquet part names embed random job UUIDs,
    so path order carries no version information. The LOWER-versioned file
    is written LAST so any mtime/path fallback would pick the stale text."""
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators.search import inverted_postings
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_inverted_index, start_index_stream,
    )

    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    v2 = spark.createDataFrame([(0, "fresh text wins", 2)],
                               "doc_id long, text string, ver long")
    v1 = spark.createDataFrame([(0, "old stale text", 1)],
                               "doc_id long, text string, ver long")
    v2.coalesce(1).write.mode("append").parquet(src)
    v1.coalesce(1).write.mode("append").parquet(src)  # newer mtime, older ver

    q = start_index_stream(spark, src, index, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = Counter(map(tuple, read_inverted_index(spark, index).collect()))
    want = Counter(map(tuple, inverted_postings(v2.select("doc_id", "text")).collect()))
    assert got == want


def test_index_delta_maintenance_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """The serving-index maintenance loop: a base index built from the
    initial corpus, plus streamed epoch deltas (new docs AND a re-indexed
    doc), merged by apply_epoch_deltas — every serving table (postings,
    doclen, vocab, stats) must equal a from-scratch batch build over the
    corpus's LATEST document versions."""
    import math
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_index_stream,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").persist())
    base_dir = str(tmp_path / "base_idx")
    ix.build_index(spark, docs.filter(F.col("doc_id") < 100), base_dir)

    # Stream the delta: docs 100..149 plus doc 0 re-indexed with new text.
    src = str(tmp_path / "delta_src")
    epochs = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "delta_ckpt")
    updated = (docs.filter(F.col("doc_id") == 0)
               .select("doc_id", F.lit("fresh text only").alias("text")))
    delta = (docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
             .select("doc_id", "text").unionByName(updated))
    delta.write.mode("append").parquet(src)
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    merged_dir = str(tmp_path / "merged_idx")
    ix.apply_epoch_deltas(spark, base_dir, epochs, merged_dir)

    latest = (docs.filter((F.col("doc_id") > 0) & (F.col("doc_id") < 150))
              .unionByName(updated))
    full_dir = str(tmp_path / "full_idx")
    ix.build_index(spark, latest, full_dir)

    for reader in (ix.read_postings, ix.read_doclen, ix.read_vocab,
                   ix.read_percslots):
        got = Counter(map(tuple, reader(spark, merged_dir).collect()))
        want = Counter(map(tuple, reader(spark, full_dir).collect()))
        assert got == want, f"{reader.__name__} diverged after delta merge"
    got_s = ix.read_stats(spark, merged_dir).first()
    want_s = ix.read_stats(spark, full_dir).first()
    assert got_s.n_docs == want_s.n_docs
    assert math.isclose(got_s.avgdl, want_s.avgdl, rel_tol=1e-12)
    docs.unpersist()


def test_connector_river_latency_under_trickle(spark, tmp_path):
    """The reference's operating promise: rows written to the source table
    become visible in the index within ~interval (the scheduler loop,
    HBaseRiver.java + HBaseParser.java:49-73). Against a RUNNING
    continuous-trigger connector river (cellstore source -> bulksink),
    measure (a) the cold-start backfill drain and (b) per-append
    visibility latency under a steady trickle, and bound both. The bounds
    are deliberately loose for a shared CI box (the trigger interval is
    500 ms; normal visibility is ~1-3 s) — they catch order-of-magnitude
    regressions like a stream that only sees appends on restart."""
    import time

    from elasticsearch_hbase_river_spark.sources import bulksink, cellstore

    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_connector_river,
    )

    store = str(tmp_path / "store")
    bulk = str(tmp_path / "bulk")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(f"k{i:05d}", "f", "q", f"v{i}", 1_000 + i) for i in range(200)],
        cellstore.CELLS_DDL)
    cellstore.write_cellstore(base, store, n_regions=4)
    cfg = RiverConfig(table="t", index="i", type_name="d", interval_ms=500)
    q = start_connector_river(spark, cfg, store, bulk, ckpt)

    def n_docs() -> int:
        try:
            return bulksink.read_manifest(bulk)["n_docs"]
        except (FileNotFoundError, json.JSONDecodeError):
            return 0

    def wait_docs(n: int, bound_s: float, what: str) -> float:
        t0 = time.time()
        while time.time() - t0 < bound_s:
            if n_docs() >= n:
                return time.time() - t0
            time.sleep(0.2)
        raise AssertionError(
            f"{what}: sink has {n_docs()}/{n} docs after {bound_s}s")

    try:
        cold_start = wait_docs(200, 60, "cold-start backfill")
        latencies = []
        for tick in range(3):
            lo = 10_000 + 1_000 * tick
            delta = spark.createDataFrame(
                [(f"t{lo + i:06d}", "f", "q", "x", lo + i)
                 for i in range(100)],
                cellstore.CELLS_DDL)
            t_append = time.time()
            cellstore.append_cells(delta, store)
            wait_docs(200 + 100 * (tick + 1), 30,
                      f"trickle append {tick}")
            latencies.append(time.time() - t_append)
    finally:
        q.stop()
    # every append visible within the 30s ceiling (wait_docs enforced it);
    # the median must be well under it — steady-state, not timeout-riding
    assert sorted(latencies)[1] < 15, (cold_start, latencies)


def test_streaming_vector_index_maintenance(spark, sf_dir, tmp_path):
    """Incremental VECTOR-index upkeep: tick 1 lands the initial vectors,
    tick 2 upserts one moved vector and one new vector; folding the epoch
    deltas into a base index must equal a from-scratch build over the
    corpus's latest vector versions. A same-batch double-update (two vers
    of one vec_id in one tick) must arbitrate by the producer ver stamp."""
    from elasticsearch_hbase_river_spark.operators import vector_index as vx
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        apply_vector_deltas, read_vector_deltas, start_vector_stream,
    )

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding", "label").persist())
    src = str(tmp_path / "vec_src")
    delta = str(tmp_path / "vec_delta")
    ckpt = str(tmp_path / "vec_ckpt")

    base_dir = str(tmp_path / "vidx_base")
    vx.build_vector_index(spark, emb, base_dir)

    def tick():
        q = start_vector_stream(spark, src, delta, ckpt)
        assert q.awaitTermination(120), "stream did not drain in 120s"

    # tick 1: vec 3 takes vec 5's embedding/label — stamped ver, with a
    # STALE same-batch version (ver=1 carrying the original embedding)
    # that must lose the arbitration
    moved = (emb.filter(F.col("vec_id") == 5)
             .select(F.lit(3).cast("long").alias("vec_id"),
                     "embedding", "label", F.lit(2).cast("long").alias("ver")))
    stale = (emb.filter(F.col("vec_id") == 3)
             .select("vec_id", "embedding", "label",
                     F.lit(1).cast("long").alias("ver")))
    moved.unionByName(stale).write.mode("append").parquet(src)
    tick()

    # tick 2: a brand-new vector cloned from vec 7 (no ver column — feed
    # without the stamp keeps working via schema evolution)
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    new = (emb.filter(F.col("vec_id") == 7)
           .select(F.lit(max_id + 1).cast("long").alias("vec_id"),
                   "embedding", "label"))
    new.write.mode("append").parquet(src)
    tick()

    pending = {r["vec_id"] for r in
               read_vector_deltas(spark, delta).select("vec_id").collect()}
    assert pending == {3, max_id + 1}

    merged_dir = str(tmp_path / "vidx_merged")
    apply_vector_deltas(spark, base_dir, delta, merged_dir)

    rebuilt_corpus = (
        emb.filter(F.col("vec_id") != 3)
        .unionByName(emb.filter(F.col("vec_id") == 5)
                     .select(F.lit(3).cast("long").alias("vec_id"),
                             "embedding", "label"))
        .unionByName(new))
    rebuilt_dir = str(tmp_path / "vidx_rebuilt")
    vx.build_vector_index(spark, rebuilt_corpus, rebuilt_dir)

    def snap(path):
        cells = sorted((r["vec_id"], r["cell"]) for r in
                       vx.read_cells(spark, path)
                       .select("vec_id", "cell").collect())
        cents = sorted((r["cell"], tuple(r["centroid"])) for r in
                       vx.read_centroids(spark, path).collect())
        return cells, cents

    assert snap(merged_dir) == snap(rebuilt_dir)
    emb.unpersist()

def test_delta_sidecar_refresh_never_reads_postings(spark, sf_dir, tmp_path):
    """The derived-table refresh of an epoch merge must be DELTA-
    PROPORTIONAL: its plans read the base SIDECARS (vocab, doclen, the
    dbucket-pruned forward index) and the epoch delta — never the full
    postings table. At 100 TB a full-postings aggregation per maintenance
    tick would dwarf the delta it applies."""
    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_index_stream,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    base_dir = str(tmp_path / "base_idx")
    ix.build_index(spark, docs.filter(F.col("doc_id") < 100), base_dir)

    src = str(tmp_path / "delta_src")
    epochs = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "delta_ckpt")
    (docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
     .write.mode("append").parquet(src))
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_epoch_docs,
        read_inverted_index,
    )

    fresh = read_inverted_index(spark, epochs).localCheckpoint(eager=True)
    fresh_docs = read_epoch_docs(spark, epochs).localCheckpoint(eager=True)
    dbkts = sorted({r[0] for r in fresh_docs.select(
        ix._dbucket(F.col("doc_id"))).collect()})
    plans = ix._delta_sidecar_plans(spark, base_dir, fresh, fresh_docs, dbkts)

    for name in ("vocab", "doclen", "vkeys"):
        files = plans[name].inputFiles()
        assert files, f"{name} refresh reads no base files at all"
        assert not any("/postings/" in f for f in files), (
            f"{name} refresh re-aggregates the full postings table")
    # the vocab refresh must consult the forward index (old contributions)
    assert any("/tvectors/" in f for f in plans["vocab"].inputFiles())
    # and the tvectors read is PRUNED to the changed docs' buckets
    tv_plan = (ix.read_tvectors(spark, base_dir, dbkts)
               ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in tv_plan and "dbucket" in tv_plan

def test_freshness_loop_stream_merge_swap_serves_new_docs(spark, sf_dir, tmp_path):
    """The reference's actual promise closed over the native index
    (HBaseParser.java:49-73: new rows become searchable after the next
    river tick): trickle NEW documents through the streaming index
    maintainer, merge the epochs into the next index generation, repoint
    the serving alias — and the BM25 query THROUGH THE ALIAS must surface
    the new documents, while readers that resolved before the swap keep a
    consistent old view."""
    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_index_stream,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    gen1 = str(tmp_path / "idx_gen1")
    alias = str(tmp_path / "serving_alias.json")
    ix.build_index(spark, docs.filter(F.col("doc_id") < 100), gen1)
    ix.write_alias(alias, gen1)

    # Tick 1: a new doc saturated with the query terms — must become the
    # top BM25 hit once it is searchable.
    hot_id = 9_000_000
    src = str(tmp_path / "src")
    epochs = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "ckpt")
    hot_text = " ".join(["spark join window"] * 8)
    spark.createDataFrame([(hot_id, hot_text)],
                          "doc_id long, text string") \
        .write.mode("append").parquet(src)
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    # Before the swap: the alias still serves gen1 — no hot doc.
    pre = {r.doc_id for r in
           ix.bm25_from_index(spark, ix.resolve_alias(alias)).collect()}
    assert hot_id not in pre

    # Merge + atomic alias repoint (one maintenance tick).
    gen2 = str(tmp_path / "idx_gen2")
    ix.apply_epoch_deltas(spark, ix.resolve_alias(alias), epochs, gen2)
    ix.write_alias(alias, gen2)

    post = ix.bm25_from_index(spark, ix.resolve_alias(alias)).collect()
    assert post[0].doc_id == hot_id, "freshly indexed doc must rank first"
    # Old generation remains intact (readers mid-flight + rollback).
    assert hot_id not in {
        r.doc_id for r in ix.bm25_from_index(spark, gen1).collect()}

    # Tick 2: an UPDATE through the same loop — the hot doc is re-indexed
    # to PUNCTUATION-ONLY text (zero tokens after analysis; carried by the
    # epoch doc manifest, not by any postings row); after merge+swap it
    # must vanish from the result while the doc count stays constant —
    # an emptied document is still an indexed document (ES semantics).
    spark.createDataFrame([(hot_id, "?!...", 2)],
                          "doc_id long, text string, ver long") \
        .write.mode("append").parquet(src)
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    gen3 = str(tmp_path / "idx_gen3")
    ix.apply_epoch_deltas(spark, ix.resolve_alias(alias), epochs, gen3)
    ix.write_alias(alias, gen3)
    final = {r.doc_id for r in
             ix.bm25_from_index(spark, ix.resolve_alias(alias)).collect()}
    assert hot_id not in final
    assert ix.index_stats(gen3)["n_docs"] == ix.index_stats(gen2)["n_docs"]

def test_streaming_percolate_alerts_match_batch_semantics(spark, sf_dir, tmp_path):
    """The percolator as an alerting STREAM: stored AND-queries registered
    up front; each micro-batch of documents emits (doc_id, query_id)
    alert epochs. Alerts must equal the batch AND-semantics over the same
    docs, analyzer included; an idle tick adds nothing; a second batch
    alerts independently."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_percolate_stream,
    )

    stored = spark.createDataFrame(
        [(0, "spark"), (0, "join"), (1, "window"), (2, "spark"), (2, "nosuchtoken")],
        "query_id long, token string")
    src = str(tmp_path / "src")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [(1, "Spark JOIN ahead"),          # q0 (analyzer folds case)
         (2, "the window, the window"),    # q1
         (3, "spark alone"),               # none (q2 needs nosuchtoken too)
         (4, "nothing at all")],
        "doc_id long, text string")
    batch1.write.mode("append").parquet(src)
    q = start_percolate_stream(spark, src, stored, alerts, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    got = {(r.doc_id, r.query_id)
           for r in spark.read.parquet(alerts).select("doc_id", "query_id").collect()}
    assert got == {(1, 0), (2, 1)}

    # idle tick: no new files, no new alerts
    q = start_percolate_stream(spark, src, stored, alerts, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    assert spark.read.parquet(alerts).count() == 2

    # batch 2: one more match for q1
    spark.createDataFrame([(9, "a Window!")], "doc_id long, text string") \
        .write.mode("append").parquet(src)
    q = start_percolate_stream(spark, src, stored, alerts, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = {(r.doc_id, r.query_id)
           for r in spark.read.parquet(alerts).select("doc_id", "query_id").collect()}
    assert got == {(1, 0), (2, 1), (9, 1)}


def test_epochs_layout_marker_refuses_foreign_directory(spark, tmp_path):
    """A populated epochs directory without (or with a wrong) layout marker
    must be refused by both the stream writer and the merged readers — a
    v2 writer resumed over a pre-marker layout would otherwise write
    beside the old epochs and silently drop them at read time."""
    import os

    import pytest

    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        EPOCHS_LAYOUT_VERSION,
        read_epoch_docs,
        read_inverted_index,
        start_index_stream,
    )

    # old-layout directory: epoch partitions directly under the root
    old = tmp_path / "old_index"
    (old / "epoch=0").mkdir(parents=True)
    with pytest.raises(ValueError, match="layout"):
        read_inverted_index(spark, str(old))
    with pytest.raises(ValueError, match="layout"):
        read_epoch_docs(spark, str(old))

    # the stream writer stamps fresh directories and then reads fine
    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    spark.createDataFrame([(1, "spark join window", None)],
                          "doc_id long, text string, ver long") \
        .write.mode("append").parquet(src)
    q = start_index_stream(spark, src, index, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120), "stream did not drain in 120s"
    assert os.path.exists(os.path.join(index, "_epochs_meta.json"))
    assert read_inverted_index(spark, index).count() == 3

    # a marker-less directory that already HAS the v2 shape (postings/ +
    # docs/, no epoch=N at root — written by this engine just before the
    # marker existed) is stamped in place, not refused
    meta = os.path.join(index, "_epochs_meta.json")
    os.remove(meta)
    assert read_inverted_index(spark, index).count() == 3
    assert os.path.exists(meta)
    with open(meta) as f:
        assert json.load(f)["layout"] == EPOCHS_LAYOUT_VERSION

    # a future-version marker is refused too (no silent downgrade)
    with open(meta, "w") as f:
        json.dump({"layout": EPOCHS_LAYOUT_VERSION + 1}, f)
    with pytest.raises(ValueError, match="layout"):
        read_inverted_index(spark, index)

    # a FOREIGN marker-less directory that merely shares the two subdir
    # NAMES (postings/ + docs/ with no epoch=N children — some other
    # tool's output) is refused, not adopted: the in-place stamp demands
    # the epoch=N partition shape only this writer produces
    foreign = tmp_path / "foreign"
    (foreign / "postings").mkdir(parents=True)
    (foreign / "docs").mkdir()
    (foreign / "postings" / "data.parquet").touch()
    with pytest.raises(ValueError, match="layout"):
        read_inverted_index(spark, str(foreign))
    assert not os.path.exists(str(foreign / "_epochs_meta.json"))


def test_streaming_first_appearance_equals_batch_firsts(spark, sf_dir,
                                                        tmp_path):
    """Streaming twin of q_cumulative_cardinality's firsts relation:
    union of emissions minimized per user over day == the batch
    per-user min-day, even when files arrive out of day order."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        streaming_first_appearance,
    )
    from elasticsearch_hbase_river_spark.sources.tables import load_events

    src = str(tmp_path / "ev_firsts_src")
    day_ms = 86_400_000
    ev = load_events(spark, sf_dir).select(
        "user_id", F.col("ts_ms").cast("long").alias("ts_ms"))
    # Write LATER days first so a later batch must correct state downward.
    late = ev.filter((F.col("ts_ms") / day_ms) >= 2)
    early = ev.filter((F.col("ts_ms") / day_ms) < 2)
    late.coalesce(1).write.mode("overwrite").parquet(src)
    early.coalesce(1).write.mode("append").parquet(src)

    out = streaming_first_appearance(spark, src, files_per_trigger=1)
    q = (out.writeStream.format("memory").queryName("firsts_t")
         .outputMode("update").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not drain in 180s"
    got = (spark.table("firsts_t")
           .groupBy("user_id")
           .agg(F.min("day_id").alias("day_id")))
    want = ev.groupBy("user_id").agg(
        F.expr(f"min(ts_ms div {day_ms})").alias("day_id"))
    diff = got.join(want, ["user_id", "day_id"], "full_outer") \
              .count()
    assert got.count() == want.count()
    assert diff == want.count()  # full outer join collapses iff identical


def test_streaming_eql_sequence_equals_batch_matches(spark, sf_dir,
                                                     tmp_path):
    """Streaming CEP twin of the EQL sequence: feeding the event stream
    in time order (three time-sliced files, one per trigger, so pending
    state must survive batch boundaries) emits EXACTLY the batch match
    relation (`operators/esdsl8.py:eql_matches`)."""
    from elasticsearch_hbase_river_spark.operators.esdsl8 import (
        EQL_STAGES,
        eql_matches,
    )
    from elasticsearch_hbase_river_spark.sources.tables import load_events
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        streaming_eql_sequence,
    )

    src = str(tmp_path / "ev_eql_src")
    ev = (load_events(spark, sf_dir)
          .filter(F.col("event_type").isin(*EQL_STAGES))
          .select("user_id", "event_id",
                  F.col("ts_ms").cast("long").alias("ts_ms"),
                  "event_type"))
    lo, hi = ev.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    # time-ordered file layout: one file per time slice, oldest first
    (ev.filter(F.col("ts_ms") < cut1)
       .coalesce(1).write.mode("overwrite").parquet(src))
    (ev.filter((F.col("ts_ms") >= cut1) & (F.col("ts_ms") < cut2))
       .coalesce(1).write.mode("append").parquet(src))
    (ev.filter(F.col("ts_ms") >= cut2)
       .coalesce(1).write.mode("append").parquet(src))

    out = streaming_eql_sequence(spark, src, files_per_trigger=1)
    q = (out.writeStream.format("memory").queryName("eql_t")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(240), "stream did not drain in 240s"
    # multiplicity-safe compare: identical rows CAN legitimately repeat
    # (two same-ts views sharing one click+purchase), so compare
    # per-row-group counts with a full-outer join, as the
    # first-appearance test above does
    cols = ["user_id", "vts", "cts", "pts"]
    got = (spark.table("eql_t").groupBy(cols)
           .agg(F.count(F.lit(1)).alias("c")))
    want = (eql_matches(spark, sf_dir).groupBy(cols)
            .agg(F.count(F.lit(1)).alias("c")))
    n_want = want.count()
    assert n_want > 0
    assert got.count() == n_want
    assert got.join(want, cols + ["c"], "full_outer").count() == n_want
