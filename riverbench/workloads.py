"""The benchmark's workloads: closed loop, one client, one process.

A workload lands its generated inputs before the session starts, prepares
the program's state ``setup_reps`` times (the last preparation is the one
the ops use), then runs ops. Around each timed op it may land data
(``before_op``) and check the op's output (``check_op``); neither is
timed. Every output check here avoids the engine: expected counts come
from the generator, final state is read back with DuckDB, and BM25
rankings are recomputed in DuckDB from the program's own oracle SQL.
"""

from __future__ import annotations

import contextlib
import hashlib
import os

import duckdb

from riverbench import gen


def _sql_str(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


class Workload:
    name: str
    #: Preparations per run (setup_s takes their median) and marked,
    #: untimed warm-up ops before the measured window.
    setup_reps: int
    warmup_ops: int
    #: Every noop_every-th op finds no new work.
    noop_every: int
    #: Timed no-op ops a run needs (beyond measure.MIN_WORK_OPS working
    #: ones). A fixed-count workload stops there; the others also run on
    #: until --seconds have passed.
    min_noop_ops: int
    fixed_count: bool = False
    #: Layer functions a traced run wraps: (module, attribute, span name).
    traced: tuple[tuple[str, str, str], ...] = ()

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None   # set once the session is up
        self.tracer = None  # set on traced runs
        self.setup_ok = True

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def is_noop(self, i: int) -> bool:
        return gen.is_noop(i, self.noop_every)

    def before_op(self, i: int) -> bool:
        """Untimed preparation of op ``i``; False when inputs ran out."""
        return True

    def after_op(self, i: int, result) -> dict:
        """Untimed per-op facts for the run record."""
        return {}

    def extras(self, ops: list[dict]) -> dict[str, float]:
        """Workload-measured per-layer counts over the timed ``ops``."""
        return {}


class RiverTicks(Workload):
    """Repeated ``run_once`` ticks against a backfilled sink, each reading a
    freshly listed cells source (the CLI batch path), with a ~3k-event
    time slice landed before every data tick and a no-op tick every
    ``noop_every`` ops. Each tick grows the sink, so the run times a fixed
    number of ticks: a faster program then meets the same sink sizes."""

    name = "river_ticks"
    setup_reps = 2
    warmup_ops = 4
    noop_every = gen.RIVER_NOOP_EVERY
    min_noop_ops = 7
    fixed_count = True
    traced = (
        ("elasticsearch_hbase_river_spark.sources.formats", "read_cells",
         "sources.read_cells"),
        ("elasticsearch_hbase_river_spark.plans.pipeline", "run_once",
         "pipeline.run_once"),
        ("elasticsearch_hbase_river_spark.plans.pipeline", "sink_max_ts",
         "pipeline.sink_max_ts"),
        ("elasticsearch_hbase_river_spark.plans.pipeline", "river_tick_plan",
         "pipeline.river_tick_plan"),
        ("elasticsearch_hbase_river_spark.operators.bulk_sink", "write_bulk",
         "bulk_sink.write_bulk"),
    )

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work)
        from elasticsearch_hbase_river_spark.config import RiverConfig

        # The reference's example config (import.sh).
        self.config = RiverConfig(table="events", index="river",
                                  type_name="doc", batch_size=1000,
                                  column_separator="::")
        self.inputs = gen.river_inputs(seed)
        self.cells_dir = os.path.join(work, "cells")
        self.sink = ""
        self.landed = 0
        self.expected: dict[int, int] = {}
        self.watermark = 0
        self.last_result = None
        self.sink_files: tuple[int, int] = (0, 0)

    def land_inputs(self) -> None:
        os.makedirs(self.cells_dir)
        self.inputs.write_history(os.path.join(self.cells_dir,
                                               "history.parquet"))
        lo, hi = self.inputs.history
        self.watermark = int(self.inputs.ts_ms[hi - 1]) + 1

    def _tick(self, sink: str):
        from elasticsearch_hbase_river_spark.plans import pipeline
        from elasticsearch_hbase_river_spark.sources import formats

        cells = formats.read_cells(self.spark, self.cells_dir)
        return pipeline.run_once(self.spark, cells, self.config, sink)

    def prepare(self, rep: int) -> None:
        """Backfill the whole landed history into a fresh sink."""
        self.sink = os.path.join(self.work, f"sink{rep}")
        res = self._tick(self.sink)
        lo, hi = self.inputs.history
        self.setup_ok &= (res.rows_indexed == hi - lo
                          and res.watermark_ms == self.watermark)

    def _sink_files(self) -> tuple[int, int]:
        files = [e for e in os.scandir(self.sink)
                 if e.name.endswith(".parquet")]
        return len(files), sum(e.stat().st_size for e in files)

    def before_op(self, i: int) -> bool:
        if self.is_noop(i):
            self.expected[i] = 0
        else:
            if self.landed == len(self.inputs.slices):
                return False
            self.inputs.write_slice(self.landed, os.path.join(
                self.cells_dir, f"slice-{self.landed:05d}.parquet"))
            lo, hi = self.inputs.slices[self.landed]
            self.expected[i] = hi - lo
            self.watermark = int(self.inputs.ts_ms[hi - 1]) + 1
            self.landed += 1
        self.sink_files = self._sink_files()
        return True

    def op(self, i: int):
        return self._tick(self.sink)

    def check_op(self, i: int, res) -> bool:
        """rows_indexed is the slice's distinct row keys (event ids are
        unique, so its event count); the watermark is max landed ts + 1."""
        self.last_result = res
        return (res.rows_indexed == self.expected[i]
                and res.watermark_ms == self.watermark)

    def after_op(self, i: int, res) -> dict:
        files, size = self._sink_files()
        return {"new_cells": 4 * self.expected[i],
                "files_written": files - self.sink_files[0],
                "bytes_written": size - self.sink_files[1]}

    def final_check(self) -> list:
        """The sink holds exactly one document per landed row key, and the
        last tick's watermark is max(ts_ms)+1 over the landed cells."""
        cells = _sql_str(os.path.join(self.cells_dir, "*.parquet"))
        sink = _sql_str(os.path.join(self.sink, "*.parquet"))
        con = duckdb.connect()
        try:
            keys, max_ts = con.execute(
                f"SELECT count(DISTINCT row_key), max(ts_ms) "
                f"FROM read_parquet({cells})").fetchone()
            docs, ids = con.execute(
                f"SELECT count(*), count(DISTINCT doc_id) "
                f"FROM read_parquet({sink})").fetchone()
        finally:
            con.close()
        ok = (docs == ids == keys and self.last_result is not None
              and self.last_result.watermark_ms == max_ts + 1)
        return [] if ok else ["final"]

    def extras(self, ops: list[dict]) -> dict[str, float]:
        return {
            "bulk_sink.files_per_tick":
                sum(o.get("files_written", 0) for o in ops) / len(ops),
            "bulk_sink.bytes_per_tick":
                sum(o.get("bytes_written", 0) for o in ops) / len(ops),
            "bulk_sink.sink_files_total": float(self._sink_files()[0]),
        }


class SearchServe(Workload):
    """A seeded stream of 1-3-term BM25 top-20 queries served through
    ``indexed_search.bm25_from_index`` over an index built in setup; every
    ``noop_every``-th query names only terms absent from the corpus."""

    name = "search_serve"
    setup_reps = 2
    warmup_ops = 8
    noop_every = gen.QUERY_NOOP_EVERY
    min_noop_ops = 11
    #: Every CHECK_EVERY-th query, warm-ups included, is recomputed in
    #: DuckDB (about 0.15 s a query).
    CHECK_EVERY = 4
    traced = (
        ("elasticsearch_hbase_river_spark.operators.indexed_search",
         "build_index", "indexed_search.build_index"),
        ("elasticsearch_hbase_river_spark.operators.indexed_search",
         "bm25_from_index", "indexed_search.bm25_from_index"),
        ("elasticsearch_hbase_river_spark.operators.indexed_search",
         "index_stats", "indexed_search.index_stats"),
        ("elasticsearch_hbase_river_spark.operators.indexed_search",
         "read_postings", "indexed_search.read_postings"),
        ("elasticsearch_hbase_river_spark.operators.indexed_search",
         "read_vocab", "indexed_search.read_vocab"),
    )

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work)
        self.inputs = gen.search_inputs(seed)
        self.docs_path = os.path.join(work, "documents.parquet")
        self.index = ""
        self.results: dict[int, list[tuple]] = {}
        self.postings: dict[str, set[int]] = {}

    def land_inputs(self) -> None:
        self.inputs.write_docs(self.docs_path)
        docs = self.inputs.docs
        for doc_id, text in zip(docs["doc_id"].to_pylist(),
                                docs["text"].to_pylist()):
            for tok in text.split(" "):
                self.postings.setdefault(tok, set()).add(doc_id)

    def prepare(self, rep: int) -> None:
        """Build the serving index from the corpus into a fresh path."""
        from elasticsearch_hbase_river_spark.operators import indexed_search

        self.index = os.path.join(self.work, f"index{rep}")
        docs = self.spark.read.parquet(self.docs_path).select("doc_id",
                                                              "text")
        indexed_search.build_index(self.spark, docs, self.index)

    def before_op(self, i: int) -> bool:
        return i < len(self.inputs.queries)

    def op(self, i: int):
        from elasticsearch_hbase_river_spark.operators import indexed_search

        df = indexed_search.bm25_from_index(self.spark, self.index,
                                            self.inputs.queries[i])
        with self.span("indexed_search.execute"):
            return df.collect()

    def check_op(self, i: int, rows) -> bool:
        """Top-k size is min(k, docs holding any term); every
        CHECK_EVERY-th result is kept for the DuckDB ranking check."""
        from elasticsearch_hbase_river_spark.operators.search import BM25_TOP

        hits = set().union(*(self.postings.get(t, set())
                             for t in self.inputs.queries[i]))
        if i % self.CHECK_EVERY == 0:
            self.results[i] = sorted((r["doc_id"], r["score"], r["rank"])
                                     for r in rows)
        return len(rows) == min(BM25_TOP, len(hits))

    def after_op(self, i: int, rows) -> dict:
        return {"result_rows": len(rows)}

    def final_check(self) -> list:
        """Every sampled query's (doc_id, score, rank) rows hash-match
        DuckDB running ``search.ORACLES['q_bm25']`` with the query's terms
        substituted for the fixed ones."""
        from elasticsearch_hbase_river_spark.operators import search

        template = search.ORACLES["q_bm25"]
        fixed = search._BM25_TERMS_SQL
        if fixed not in template:
            raise RuntimeError("q_bm25 oracle SQL no longer names its terms "
                               "as search._BM25_TERMS_SQL")
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE documents AS SELECT * FROM "
                        f"read_parquet({_sql_str(self.docs_path)})")
            failed = []
            for i, got in self.results.items():
                terms = ", ".join("'" + t.replace("'", "''") + "'"
                                  for t in self.inputs.queries[i])
                want = sorted(tuple(r) for r in con.execute(
                    template.replace(fixed, terms)).fetchall())
                if _digest(got) != _digest(want):
                    failed.append(i)
        finally:
            con.close()
        return failed


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr([(int(d), repr(float(s)), int(r))
                                for d, s, r in rows]).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (RiverTicks, SearchServe)}
