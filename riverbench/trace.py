"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded from outside the program: :meth:`Tracer.wrap` swaps a
public module-level function for a wrapper that opens a span around it.
This works because the program looks those functions up by module
attribute at call time (``run_once`` calls ``sink_max_ts`` and
``river_tick_plan`` as module globals and imports ``write_bulk`` inside its
body; ``bm25_from_index`` calls ``index_stats``/``read_postings``/
``read_vocab`` as module globals).

Each span tags the Spark jobs it launches with the job group
``"<op tag>|<span name>"``. Job, stage and task counts per op come from the
status tracker right after the op; executor CPU, GC, shuffle-write bytes
and input records come from Spark's event log, read after the session
stops. Spans live in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

#: (name, unit, better) of every per-layer metric a traced run prints, in
#: output order. Layers a workload never enters read 0.
PER_LAYER = (
    ("pipeline.sink_max_ts_s", "s", "lower"),
    ("pipeline.sink_max_ts_calls", "count", "lower"),
    ("pipeline.sink_rows_read_per_tick", "count", "lower"),
    ("pipeline.river_tick_plan_s", "s", "lower"),
    ("pipeline.run_once_self_s", "s", "lower"),
    ("bulk_sink.write_bulk_s", "s", "lower"),
    ("bulk_sink.files_per_tick", "count", "lower"),
    ("bulk_sink.bytes_per_tick", "bytes", "lower"),
    ("bulk_sink.sink_files_total", "count", "lower"),
    ("sources.read_cells_s", "s", "lower"),
    ("sources.cells_scanned_per_tick", "count", "lower"),
    ("sources.useful_scan_ratio", "ratio", "higher"),
    ("indexed_search.build_index_s", "s", "lower"),
    ("indexed_search.construct_s", "s", "lower"),
    ("indexed_search.index_stats_s", "s", "lower"),
    ("indexed_search.read_postings_s", "s", "lower"),
    ("indexed_search.read_vocab_s", "s", "lower"),
    ("indexed_search.execute_s", "s", "lower"),
    ("indexed_search.postings_rows_per_result", "count", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.executor_cpu_s_per_op", "s", "lower"),
    ("spark.gc_s_per_op", "s", "lower"),
    ("spark.shuffle_write_bytes_per_op", "bytes", "lower"),
    ("trace.op_p50_s", "s", "lower"),
    ("trace.span_coverage", "ratio", "higher"),
    ("trace.span_coverage_min", "ratio", "higher"),
)

#: Span -> per-layer time metric (mean seconds per timed op).
SPAN_TIME_METRICS = {
    "pipeline.sink_max_ts": "pipeline.sink_max_ts_s",
    "pipeline.river_tick_plan": "pipeline.river_tick_plan_s",
    "bulk_sink.write_bulk": "bulk_sink.write_bulk_s",
    "sources.read_cells": "sources.read_cells_s",
    "indexed_search.bm25_from_index": "indexed_search.construct_s",
    "indexed_search.index_stats": "indexed_search.index_stats_s",
    "indexed_search.read_postings": "indexed_search.read_postings_s",
    "indexed_search.read_vocab": "indexed_search.read_vocab_s",
    "indexed_search.execute": "indexed_search.execute_s",
}

OP_SPAN = "op"


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: dict[str, set[str]] = defaultdict(set)
        self.tag = "idle"

    def begin(self, tag: str) -> None:
        """Attribute the following spans and jobs to ``tag`` (an op or a
        setup repetition)."""
        self.tag = tag

    def _set_group(self, name: str) -> None:
        group = f"{self.tag}|{name}"
        self._groups[self.tag].add(group)
        self.sc.setJobGroup(group, name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "tag": self.tag, "name": name,
               "parent": parent, "start": time.perf_counter(), "end": None}
        self._stack.append(rec["id"])
        self.spans.append(rec)
        self._set_group(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["name"]
                            if self._stack else "-")

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)

    def job_counts(self, tag: str) -> dict[str, int]:
        """Jobs, stages that ran tasks, and tasks of every job group used
        under ``tag``, from the status tracker (call right after the op,
        before the tracker's retention evicts them)."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for group in self._groups.get(tag, ()):
            for jid in st.getJobIdsForGroup(group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in list(info.stageIds):
                    sinfo = st.getStageInfo(sid)
                    if sinfo is None:
                        continue
                    ran = sinfo.numCompletedTasks + sinfo.numFailedTasks
                    if ran:
                        stages += 1
                        tasks += ran
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from Spark's (uncompressed) event
    log: executor CPU seconds, GC seconds, shuffle bytes written, input
    records read, tasks and failed tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "-")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev.get("Stage ID"), "-")]
                    g["tasks"] += 1
                    if (ev.get("Task Info") or {}).get("Failed"):
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["records_read"] += (
                        m.get("Input Metrics") or {}).get("Records Read", 0)
    return {k: dict(v) for k, v in out.items()}


def _by_tag(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        out[s["tag"]].append(s)
    return out


def _self_time(spans: list[dict], idx: int) -> float:
    """A span's duration minus the part its children cover (children run
    sequentially on the caller's thread, so their durations add)."""
    s = spans[idx]
    kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == idx)
    return (s["end"] - s["start"]) - kids


def per_layer(spans: list[dict], ops: list[dict],
              setup_tags: list[str], events: dict[str, dict[str, float]],
              extras: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, name -> (value, unit), over the timed ops.

    ``ops`` are the timed op samples (``tag``, ``seconds``, ``jobs``,
    ``stages``, ``tasks``, ``result_rows``, ``new_cells``); ``extras``
    carries workload-measured counts (``bulk_sink.*``)."""
    n = len(ops)
    tags = [o["tag"] for o in ops]
    tagged = _by_tag(spans)
    vals: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}

    covered = []
    for o in ops:
        group = tagged.get(o["tag"], [])
        for s in group:
            metric = SPAN_TIME_METRICS.get(s["name"])
            if metric:
                vals[metric] += (s["end"] - s["start"]) / n
            if s["name"] == "pipeline.sink_max_ts":
                vals["pipeline.sink_max_ts_calls"] += 1 / n
            if s["name"] == "pipeline.run_once":
                vals["pipeline.run_once_self_s"] += (
                    _self_time(spans, s["id"]) / n)
        root = [s["id"] for s in group if s["name"] == OP_SPAN]
        top = [s for s in group if s["parent"] in root]
        covered.append(sum(s["end"] - s["start"] for s in top) / o["seconds"])

    def ev_sum(tag: str, key: str, span: str | None = None) -> float:
        return sum(v.get(key, 0.0) for g, v in events.items()
                   if g.split("|")[0] == tag
                   and (span is None or g.split("|", 1)[1] == span))

    builds = [s["end"] - s["start"] for s in spans
              if s["tag"] in setup_tags
              and s["name"] == "indexed_search.build_index"]
    if builds:
        vals["indexed_search.build_index_s"] = statistics.median(builds)

    scanned = [ev_sum(t, "records_read", "bulk_sink.write_bulk")
               for t in tags]
    vals["sources.cells_scanned_per_tick"] = sum(scanned) / n
    if sum(scanned):
        vals["sources.useful_scan_ratio"] = (
            sum(o.get("new_cells", 0) for o in ops) / sum(scanned))
    vals["pipeline.sink_rows_read_per_tick"] = sum(
        ev_sum(t, "records_read", "pipeline.sink_max_ts") for t in tags) / n
    results = sum(o.get("result_rows", 0) for o in ops)
    if results:
        vals["indexed_search.postings_rows_per_result"] = sum(
            ev_sum(o["tag"], "records_read", "indexed_search.execute")
            for o in ops if o.get("result_rows")) / results

    vals["spark.jobs_per_op"] = sum(o["jobs"] for o in ops) / n
    vals["spark.stages_per_op"] = sum(o["stages"] for o in ops) / n
    vals["spark.tasks_per_op"] = sum(o["tasks"] for o in ops) / n
    vals["spark.failed_tasks"] = sum(ev_sum(t, "failed_tasks") for t in tags)
    vals["spark.executor_cpu_s_per_op"] = sum(
        ev_sum(t, "cpu_s") for t in tags) / n
    vals["spark.gc_s_per_op"] = sum(ev_sum(t, "gc_s") for t in tags) / n
    vals["spark.shuffle_write_bytes_per_op"] = sum(
        ev_sum(t, "shuffle_write_bytes") for t in tags) / n
    vals["trace.op_p50_s"] = statistics.median(
        o["seconds"] for o in ops if not o.get("noop"))
    vals["trace.span_coverage"] = (
        sum(c * o["seconds"] for c, o in zip(covered, ops))
        / sum(o["seconds"] for o in ops))
    vals["trace.span_coverage_min"] = min(covered)
    vals.update(extras)
    return {name: (vals[name], unit) for name, unit, _ in PER_LAYER}
