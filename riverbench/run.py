#!/usr/bin/env python3
"""River benchmark: one workload, one seed, one run.

    python3 riverbench/run.py --workload river_ticks --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout; the program under test is the
``elasticsearch_hbase_river_spark`` package beside this directory, and the
run fails (exit 2, no result line) when it is missing. Workloads are
listed in BENCHMARK.json and described in ``workloads.py``.

The run lands the seeded inputs (untimed), starts one Spark session with
the benchmark's profile, prepares the program's state several times
(``setup_s`` = session start + median preparation), runs a few marked
warm-up ops, then times ops back to back until it has
``measure.MIN_WORK_OPS`` working ops and the workload's ``min_noop_ops``
no-op ops, and, unless the workload times a fixed count, until
``--seconds`` have passed. The last stdout line is one
JSON object: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced run. Each run also writes a record with
every op sample and the host facts to ``.riverbench/records/``. All files
stay under the checkout's ``.riverbench/``; the run's work directory
is removed at exit and the JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".riverbench")


def _program_importable() -> str | None:
    """Why the program under test cannot be imported from ROOT, or None."""
    try:
        import pyspark  # noqa: F401

        import elasticsearch_hbase_river_spark as prog
    except ImportError as e:
        return str(e)
    where = os.path.dirname(os.path.abspath(prog.__file__))
    if os.path.dirname(where) != ROOT:
        return f"imported from {where}, not from the checkout {ROOT}"
    return None


def build_session(work: str, app: str, cores: int, heap_gb: int,
                  event_log: str | None):
    """The benchmark's session profile: local[cores], a fixed JVM heap
    sized from the machine's RAM (-Xms = -Xmx), and bench.py's JVM and
    codegen flags.
    Temp and warehouse files stay under ``work`` (shuffle files too: see
    SPARK_LOCAL_DIRS in :func:`run`)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cores}]").appName(app)
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.driver.memory", f"{heap_gb}g")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.sql.codegen.hugeMethodLimit", "8000")
         .config("spark.driver.extraJavaOptions",
                 f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData "
                 f"-Xms{heap_gb}g "
                 f"-Djava.io.tmpdir={tmp}")
         .config("spark.sql.codegen.cache.maxEntries", "1000")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
    if event_log:
        os.makedirs(event_log)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(heap, non-heap) MiB the JVM holds after a full collection: the heap
    the program keeps live (caches, broadcasts, state) and the metaspace
    and code cache it has grown, apart from short-lived garbage whose peak
    the collector's sizing policy sets."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Drop the Python proxies that pin JVM objects, then collect until the
    # heap stops shrinking: each collection lets Spark's ContextCleaner
    # release the broadcasts and shuffles of dead plans for the next one.
    gc.collect()
    heap = float("inf")
    for _ in range(6):
        jvm.java.lang.System.gc()
        before, heap = heap, bean.getHeapMemoryUsage().getUsed() / 2**20
        if before - heap < 1.0:
            break
        time.sleep(0.5)
    return heap, bean.getNonHeapMemoryUsage().getUsed() / 2**20


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    from riverbench import measure, trace
    from riverbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = os.path.join(BENCH_DIR,
                        f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # shuffle/spill dirs; the variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit runs first: no /tmp/hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cpu0 = measure.cpu_times()
    cores = measure.nproc()
    mem_mb = measure.mem_total_mb()
    heap_gb = measure.heap_gb_for(mem_mb)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        # inputs are generated and landed before the session starts, so
        # neither counts toward setup_s
        wl = cls(work, args.seed)
        wl.land_inputs()

        t0 = time.perf_counter()
        spark = build_session(work, f"riverbench-{args.workload}", cores,
                              heap_gb, event_log)
        session_s = time.perf_counter() - t0
        wl.spark = spark
        tracer = trace.Tracer(spark.sparkContext) if args.trace else None
        wl.tracer = tracer
        if tracer:
            for mod, attr, name in wl.traced:
                tracer.wrap(importlib.import_module(mod), attr, name)

        setup_tags, prep_s = [], []
        for rep in range(wl.setup_reps):
            if tracer:
                setup_tags.append(f"setup{rep}")
                tracer.begin(setup_tags[-1])
            t0 = time.perf_counter()
            wl.prepare(rep)
            prep_s.append(time.perf_counter() - t0)

        samples: list[dict] = []

        def one_op(i: int, warmup: bool) -> bool:
            if not wl.before_op(i):
                return False
            tag = f"op{i}"
            if tracer:
                tracer.begin(tag)
            s = {"i": i, "tag": tag, "warmup": warmup, "noop": wl.is_noop(i)}
            t0 = time.perf_counter()
            try:
                with wl.span(trace.OP_SPAN):
                    result = wl.op(i)
                s["seconds"] = time.perf_counter() - t0
                s["ok"] = bool(wl.check_op(i, result))
                s.update(wl.after_op(i, result))
            except Exception:  # a failed op is counted, not fatal
                s.setdefault("seconds", time.perf_counter() - t0)
                s["ok"] = False
                s["error"] = traceback.format_exc()[-2000:]
            if tracer:
                s.update(tracer.job_counts(tag))
            samples.append(s)
            return True

        def enough() -> bool:
            timed = [s for s in samples if not s["warmup"]]
            noops = sum(s["noop"] for s in timed)
            return (len(timed) - noops >= measure.MIN_WORK_OPS
                    and noops >= wl.min_noop_ops
                    and (wl.fixed_count
                         or time.perf_counter() - t_window >= args.seconds))

        i = 0
        while i < wl.warmup_ops and one_op(i, warmup=True):
            i += 1
        t_window = time.perf_counter()
        while not enough() and one_op(i, warmup=False):
            i += 1
        window_s = time.perf_counter() - t_window
        # memory is read before the output checks, which run in this
        # process too
        python_mb = measure.vm_hwm_mb()
        jvm_rss_mb = measure.vm_hwm_mb(jvm_pid()) if jvm_pid() else 0.0
        heap_mb, nonheap_mb = jvm_memory_mb(spark)
        driver_mem_mb = python_mb + heap_mb + nonheap_mb

        failed_checks = wl.final_check()
        by_i = {s["i"]: s for s in samples}
        for f in failed_checks:
            if f in by_i:
                by_i[f]["ok"] = False
        stop_session(spark)
        spark = None

        timed = [s for s in samples if not s["warmup"]]
        attempted = len(timed)
        failed = sum(not s["ok"] for s in timed) + ("final" in failed_checks)
        failed = min(failed, attempted)
        # warm-up ops are left out of timing, not out of the checks
        warmup_failed = sum(not s["ok"] for s in samples if s["warmup"])
        correct = wl.setup_ok and failed == 0 and warmup_failed == 0
        work_s = [s["seconds"] for s in timed if not s["noop"]]
        noop_s = [s["seconds"] for s in timed if s["noop"]]
        setup_s = session_s + statistics.median(prep_s)
        if args.trace:
            events = trace.read_event_log(event_log)
            metrics = trace.per_layer(tracer.spans, timed, setup_tags,
                                      events, wl.extras(timed))
        else:
            metrics = measure.end_to_end(setup_s, work_s, noop_s,
                                         driver_mem_mb)
        cpu1 = measure.cpu_times()
        _, tail_pct = measure.op_tail(work_s)
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": {"nproc": cores, "mem_total_mb": mem_mb,
                     "jvm_heap_gb": heap_gb,
                     "steal_share": measure.steal_share(cpu0, cpu1),
                     "loadavg": os.getloadavg()},
            "session_s": session_s, "prepare_s": prep_s,
            "window_s": window_s, "op_tail_percentile": tail_pct,
            "attempted": attempted, "failed": failed,
            "failed_op_ratio": failed / attempted,
            "warmup_failed": warmup_failed,
            "setup_ok": wl.setup_ok, "failed_checks": failed_checks,
            "python_vm_hwm_mb": python_mb, "jvm_vm_hwm_mb": jvm_rss_mb,
            "jvm_live_heap_mb": heap_mb, "jvm_nonheap_mb": nonheap_mb,
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "samples": samples,
        }
        if tracer:
            record["spans"] = tracer.spans
        os.makedirs(os.path.join(BENCH_DIR, "records"), exist_ok=True)
        rec_path = os.path.join(
            BENCH_DIR, "records",
            f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-"
            f"{os.getpid()}.json")
        with open(rec_path, "w") as f:
            json.dump(record, f, indent=1)
        print(f"riverbench: {args.workload} seed={args.seed} "
              f"nproc={cores} mem={mem_mb:.0f}MB heap={heap_gb}g "
              f"steal={record['host']['steal_share']:.4f} ops={attempted} "
              f"tail=p{tail_pct:.1f} record={os.path.relpath(rec_path, ROOT)}",
              file=sys.stderr)
        return {"correct": bool(correct), "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from riverbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(prog="riverbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    why = _program_importable()
    if why:
        print(f"riverbench: program under test not importable: {why}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
