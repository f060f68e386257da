#!/usr/bin/env python3
"""Summarize run records written by ``riverbench/run.py``.

    python3 riverbench/summarize.py [--since YYYYmmddTHHMMSS] [RECORD_DIR]

Per workload: each end-to-end metric's median, quartiles and quartile
spread as a share of the median over the untraced runs (the steadiness
test BENCHMARK.json's bounds are set against), the run and op counts,
host steal, and the tracing overhead, i.e. the median traced op_p50_s
minus the median untraced op_p50_s.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3-q1)/median) as statistics.quantiles gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def load(record_dir: str, since: str = "") -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(record_dir, "*.json"))):
        stamp = os.path.basename(path).split("-")[3]
        if stamp >= since:
            with open(path) as f:
                out.append(json.load(f))
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("record_dir", nargs="?",
                   default=os.path.join(ROOT, ".riverbench", "records"))
    p.add_argument("--since", default="")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for r in load(args.record_dir, args.since):
        runs[(r["workload"], r["trace"])].append(r)
    for wl in sorted({w for w, _ in runs}):
        plain, traced = runs.get((wl, 0), []), runs.get((wl, 1), [])
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs; "
              f"ops/run {[r['attempted'] for r in plain]}; "
              f"max steal {max((r['host']['steal_share'] for r in plain), default=0):.4f}")
        if len(plain) >= 2:
            for name, bound in bounds.items():
                vals = [r["metrics"][name] for r in plain]
                med, q1, q3, s = spread(vals)
                flag = "ok" if s < bound / 3 else ("WIDE" if s > bound else "near")
                print(f"  {name:16s} med {med:12.4f}  q1 {q1:12.4f}  "
                      f"q3 {q3:12.4f}  spread {s:6.3f}  bound {bound:4.2f} "
                      f"{flag}")
        if plain and traced:
            over = (statistics.median(r["metrics"]["trace.op_p50_s"]
                                      for r in traced)
                    - statistics.median(r["metrics"]["op_p50_s"]
                                        for r in plain))
            print(f"  tracing overhead (traced - untraced op_p50_s): "
                  f"{over:+.4f} s")


if __name__ == "__main__":
    main()
