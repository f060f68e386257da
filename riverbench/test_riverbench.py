"""The benchmark's own tests (no Spark): generator determinism, the
tail-percentile rule, and agreement between the printed metrics and
BENCHMARK.json.

    python3 -m pytest riverbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pytest

from riverbench import gen, measure, trace
from riverbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _river_files(seed: int, d: str) -> list[str]:
    ev = gen.river_inputs(seed)
    ev.write_history(os.path.join(d, f"h{seed}.parquet"))
    ev.write_slice(0, os.path.join(d, f"s{seed}.parquet"))
    return [_digest(os.path.join(d, f"{k}{seed}.parquet")) for k in "hs"]


def test_river_generator_is_byte_identical_per_seed(tmp_path):
    for d in "ab":
        os.makedirs(tmp_path / d)
    a = _river_files(3, str(tmp_path / "a"))
    assert a == _river_files(3, str(tmp_path / "b"))
    assert a != _river_files(4, str(tmp_path / "b"))


def test_search_generator_is_byte_identical_per_seed(tmp_path):
    runs = []
    for i, seed in enumerate((3, 3, 4)):
        s = gen.search_inputs(seed)
        path = str(tmp_path / f"d{i}.parquet")
        s.write_docs(path)
        runs.append((_digest(path), s.queries))
    assert runs[0] == runs[1]
    assert runs[0][0] != runs[2][0] and runs[0][1] != runs[2][1]


def test_river_slices_cut_between_timestamps():
    ev = gen.river_inputs(5)
    ts = ev.ts_ms
    assert ev.history[0] == 0 and ev.slices[0][0] == ev.history[1]
    for (lo, hi), nxt in zip(ev.slices, ev.slices[1:] + [None]):
        assert ts[lo - 1] < ts[lo]
        assert hi - lo >= gen.SLICE_EVENTS
        if nxt:
            assert nxt[0] == hi
    assert len(set(ev.event_id.tolist())) == len(ev.event_id)


def test_noop_queries_name_absent_terms_only():
    s = gen.search_inputs(5)
    corpus = set(" ".join(s.docs["text"].to_pylist()).split(" "))
    assert corpus == set(gen.VOCAB)
    assert s.docs.column_names == ["doc_id", "text"]
    for i, q in enumerate(s.queries[:200]):
        noop = gen.is_noop(i, gen.QUERY_NOOP_EVERY)
        assert noop == (not corpus.intersection(q))
        assert 1 <= len(q) <= 3


def test_search_docs_have_the_fixture_lengths():
    lengths = [len(t.split(" "))
               for t in gen.search_inputs(6).docs["text"].to_pylist()]
    assert len(lengths) == gen.N_DOCS
    assert min(lengths) == gen.MIN_TOKENS and max(lengths) == gen.MAX_TOKENS


@pytest.mark.parametrize("n", range(22, 130))
def test_tail_has_ten_beyond_and_is_not_the_median(n):
    samples = [float(x) for x in range(n)][::-1]
    value, pct = measure.op_tail(samples)
    assert sum(x > value for x in samples) == measure.TAIL_BEYOND
    assert value > sorted(samples)[(n - 1) // 2]
    assert 50 < pct < 100


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        measure.tail_rank(2 * measure.TAIL_BEYOND + 1)
    assert measure.MIN_WORK_OPS >= 2 * measure.TAIL_BEYOND + 2


def test_end_to_end_metrics_match_benchmark_json():
    ops = [0.1 + 0.01 * i for i in range(measure.MIN_WORK_OPS)]
    got = measure.end_to_end(1.5, ops, [0.05] * 4, 900.0)
    want = [(m["name"], m["unit"]) for m in _bench()["end_to_end"]]
    assert [(k, u) for k, (_, u) in got.items()] == want
    assert all(v > 0 for v, _ in got.values())
    assert got["noop_op_p50_s"][0] == 0.05
    assert got["op_p50_s"][0] == pytest.approx(0.205)
    assert got["ops_per_s"][0] == pytest.approx(26 / (sum(ops) + 0.2))


def _fake_trace() -> tuple[list[dict], list[dict]]:
    spans, ops = [], []

    def span(tag, name, parent, start, end):
        spans.append({"id": len(spans), "tag": tag, "name": name,
                      "parent": parent, "start": start, "end": end})
        return len(spans) - 1

    for k in range(3):
        tag, t = f"op{k}", 10.0 * k
        root = span(tag, trace.OP_SPAN, None, t, t + 1.0)
        span(tag, "sources.read_cells", root, t, t + 0.1)
        once = span(tag, "pipeline.run_once", root, t + 0.1, t + 0.95)
        span(tag, "pipeline.sink_max_ts", once, t + 0.1, t + 0.3)
        span(tag, "bulk_sink.write_bulk", once, t + 0.3, t + 0.7)
        span(tag, "pipeline.sink_max_ts", once, t + 0.75, t + 0.95)
        ops.append({"tag": tag, "seconds": 1.0, "jobs": 4, "stages": 5,
                    "tasks": 9, "new_cells": 40})
    return spans, ops


def test_per_layer_metrics_match_benchmark_json_and_self_time():
    spans, ops = _fake_trace()
    events = {"op0|bulk_sink.write_bulk": {"records_read": 120.0,
                                           "cpu_s": 0.3}}
    got = trace.per_layer(spans, ops, [], events,
                          {"bulk_sink.files_per_tick": 2.0})
    want = [(m["name"], m["unit"], m["better"])
            for m in _bench()["per_layer"]]
    assert [(n, u, b) for n, u, b in trace.PER_LAYER] == want
    assert [(k, u) for k, (_, u) in got.items()] == [(n, u)
                                                     for n, u, _ in want]
    assert got["pipeline.sink_max_ts_calls"][0] == pytest.approx(2.0)
    assert got["pipeline.sink_max_ts_s"][0] == pytest.approx(0.4)
    # run_once 0.85 s minus children 0.2 + 0.4 + 0.2
    assert got["pipeline.run_once_self_s"][0] == pytest.approx(0.05)
    assert got["trace.span_coverage"][0] == pytest.approx(0.95)
    assert got["sources.cells_scanned_per_tick"][0] == pytest.approx(40.0)
    assert got["sources.useful_scan_ratio"][0] == pytest.approx(1.0)
    assert got["bulk_sink.files_per_tick"][0] == 2.0


def test_benchmark_json_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["riverbench"]
    assert b["command"][1].startswith("riverbench/")
    assert [w["name"] for w in b["workloads"]] == sorted(WORKLOADS)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in b[k]]
    names += [w["name"] for w in b["workloads"]]
    assert all(name.match(n) for n in names)
    assert len(set(names)) == len(names)
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 for w in b["workloads"])
