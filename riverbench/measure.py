"""Host facts, memory, the tail-percentile rule and the end-to-end metrics.

Pure Python (no Spark), so the benchmark's own tests can pin it.
"""

from __future__ import annotations

import os
import statistics

#: op_tail_s is the highest-percentile sample with at least this many
#: samples beyond it.
TAIL_BEYOND = 10
#: A run keeps measuring past --seconds until it has this many timed
#: working (not no-op) ops, so op_tail_s always sits above the median.
MIN_WORK_OPS = 2 * TAIL_BEYOND + 2


def tail_rank(n: int) -> int:
    """0-based index, in ascending order, of the op_tail_s sample: the
    highest percentile with >= TAIL_BEYOND samples beyond it. Refuses
    sample counts for which that sample would not lie above the median."""
    if n < 2 * TAIL_BEYOND + 2:
        raise ValueError(f"{n} samples: op_tail_s needs at least "
                         f"{2 * TAIL_BEYOND + 2} to lie above the median")
    return n - 1 - TAIL_BEYOND


def op_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the op_tail_s sample."""
    s = sorted(samples)
    r = tail_rank(len(s))
    return s[r], 100.0 * (r + 1) / len(s)


def end_to_end(setup_s: float, work_s: list[float], noop_s: list[float],
               driver_mem_mb: float) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics, name -> (value, unit), from the timed ops
    (warm-up ops excluded) of one untraced run: latencies of the working
    ops and of the no-op ops apart, throughput over both."""
    tail, _ = op_tail(work_s)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(work_s), "s"),
        "op_tail_s": (tail, "s"),
        "ops_per_s": ((len(work_s) + len(noop_s))
                      / (sum(work_s) + sum(noop_s)), "1/s"),
        "noop_op_p50_s": (statistics.median(noop_s), "s"),
        "driver_mem_mb": (driver_mem_mb, "MB"),
    }


# ---------------------------------------------------------------------------
# Host facts


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb_for(total_mb: float) -> int:
    """JVM heap from the machine's RAM: 15% of it, 1-8 GiB (a fixed 16g
    heap does not fit a 15 GB machine). The run fixes the heap at this
    size (-Xms = -Xmx), so the collector's sizing does not depend on when
    it chose to grow the heap."""
    return max(1, min(8, int(total_mb * 0.15 / 1024)))


def cpu_times() -> list[int]:
    """The aggregate 'cpu' line of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two cpu_times() readings that the
    hypervisor stole (field 8 of /proc/stat's cpu line)."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
