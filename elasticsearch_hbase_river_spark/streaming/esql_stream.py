"""Streaming ES|QL: a continuously-maintained materialized ES|QL result.

The reference's whole loop is "poll the changefeed on a timer, transform,
publish" (`HBaseRiver.java:263` drives the tick); `streaming/river_stream.py`
re-expresses that loop as Structured Streaming. This module puts the ES|QL
language on top of the same tick: one pipeline text, compiled once, whose
stateless prefix runs ON THE STREAMING RELATION itself (pinning that the
compiler emits stream-capable plans) and whose ``STATS`` is maintained
incrementally across micro-batches.

Two maintenance modes, chosen automatically from the query:

- **mergeable** (the scale path): every aggregate in ``STATS`` is
  COUNT / SUM / MIN / MAX / AVG / WEIGHTED_AVG (scalar wrappers like
  ``ROUND(SUM(x), 4)``
  and per-aggregate ``WHERE`` filters allowed). Each micro-batch computes
  the batch's PARTIAL aggregates — one |groups|-sized relation — and
  overwrites ``partials/epoch=<batch_id>`` (idempotent on retry, the same
  exactly-once-per-epoch discipline as ``start_index_stream``). Reading the
  result merges partials with the algebraic combine (sum of sums, sum of
  counts, min of mins; AVG = merged sum / merged count) and then evaluates
  the original wrapper expressions over the merged columns. Per-tick work
  is O(batch), read-time work is O(epochs x groups) — rows are never
  rescanned, which is what makes the view maintainable against a 100 TB
  feed.
- **recompute** (the honest fallback): a non-decomposable aggregate
  (MEDIAN, PERCENTILE, COUNT_DISTINCT, VALUES, TOP, STD_DEV) stores the
  prefix-transformed rows per epoch and re-runs the ``STATS`` over the
  accumulated rows at read time. Still exactly-once, but read cost grows
  with history — the mode is surfaced on the plan so callers can see which
  contract they bought.

Commands after ``STATS`` (SORT / LIMIT / KEEP / DROP / RENAME / EVAL /
WHERE) act on the |groups|-sized aggregate relation and are applied at
read time by the same compiler.

**Streaming TS** (the continuous hypertable rollup): a ``TS`` head works
too — each tick lands per-(series, bucket) INNER partials of the
``*_OVER_TIME`` aggregates (a series' bucket may span micro-batches, so
these really are partials: AVG = sum+count, FIRST/LAST = (timestamp,
value) pairs merged with min_by/max_by), and the read merges them, then
runs the OUTER aggregate and suffix over the |series x buckets|
relation. RATE is refused: its positive-delta sum needs ordered
cross-batch boundaries per-epoch partials cannot carry — use batch TS
for counters.

State poisoning guard: the state dir is stamped with the query text's
fingerprint; a tick or read against a different query refuses loudly
instead of silently merging incompatible partials.
"""

from __future__ import annotations

import hashlib
import os
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark import artifact
from elasticsearch_hbase_river_spark.esql import (
    DEFAULT_POLICIES,
    DEFAULT_TS_SPECS,
    ESQLError,
    _AGGS,
    _Compiler,
    _TS_AGG_NAMES,
    _ts_dec6,
    parse,
)

#: aggregates with an algebraic partial/combine decomposition
#: (AVG = sum+count pair; WEIGHTED_AVG = sum(x*w)+sum(w) pair)
MERGEABLE_AGGS = frozenset({"COUNT", "SUM", "MIN", "MAX", "AVG",
                            "WEIGHTED_AVG",
                            "MEDIAN", "PERCENTILE",
                            "MEDIAN_ABSOLUTE_DEVIATION",
                            "VARIANCE", "SKEWNESS", "KURTOSIS"})

#: moment-family aggregates (population, from raw power sums): the
#: partial is (n, Σx, Σx², [Σx³, Σx⁴]) — algebraic, merged by summation,
#: finalized with the same formulas as the batch aggregates
_MOMENT_AGGS = {"VARIANCE": 2, "SKEWNESS": 3, "KURTOSIS": 4}

#: order statistics (MEDIAN / PERCENTILE / MAD) stream as EXACT bounded
#: partials: each micro-batch lands the group's sorted value array, the
#: read concatenates and re-aggregates with the SAME batch aggregate
#: functions (bit-for-bit batch equality). The array is a per-group
#: cardinality contract — a group whose per-batch or merged value count
#: exceeds this cap aborts in-plan with a clear error instead of
#: building an unbounded state row (at that cardinality a TDigest-class
#: sketch is the right tool, which this engine exposes batch-side as
#: q_approx_stats).
STREAM_VALUES_CAP = 100_000

#: list-partial aggregates (subset of MERGEABLE_AGGS)
_LIST_AGGS = frozenset({"MEDIAN", "PERCENTILE",
                        "MEDIAN_ABSOLUTE_DEVIATION"})

#: per-series inner aggregates maintainable across micro-batches — a
#: series' (bucket) may SPAN batches, so each tick lands partials of the
#: inner aggregate and the read merges them (FIRST/LAST carry a
#: (timestamp, value) pair merged with min_by/max_by). RATE is excluded:
#: its positive-delta sum needs the ordered boundary between adjacent
#: batches of the same series, which per-epoch partials do not carry —
#: use the batch TS path for counters.
TS_MERGEABLE = frozenset({"AVG_OVER_TIME", "MAX_OVER_TIME",
                          "MIN_OVER_TIME", "SUM_OVER_TIME",
                          "COUNT_OVER_TIME", "FIRST_OVER_TIME",
                          "LAST_OVER_TIME"})

#: per-row commands the compiler can bind to a streaming relation
#: (LOOKUP JOIN / ENRICH are stream-static joins — the lookup side is a
#: batch dimension table, which Structured Streaming supports natively)
_PREFIX_OK = frozenset({"WHERE", "EVAL", "RENAME", "KEEP", "DROP",
                        "MV_EXPAND", "DISSECT", "GROK", "SAMPLE",
                        "LOOKUP", "ENRICH"})

#: commands that operate on the (small) aggregate relation at read time
_SUFFIX_OK = frozenset({"WHERE", "EVAL", "SORT", "LIMIT", "KEEP", "DROP",
                        "RENAME"})

_META = "_esql_stream_meta.json"


def _query_sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _split_agg_calls(ast, sink: list, spec_ix: int):
    """Replace every aggregate call in ``ast`` with a placeholder field
    reference ``__a<spec>_<k>`` and append the original call to ``sink`` —
    the wrapper expression is then re-evaluable over merged partials."""
    if isinstance(ast, tuple):
        if ast[0] == "call" and ast[1] in _AGGS:
            sink.append(ast)
            return ("field", f"__a{spec_ix}_{len(sink) - 1}")
        return tuple(
            _split_agg_calls(x, sink, spec_ix)
            if isinstance(x, (tuple, list)) else x
            for x in ast)
    if isinstance(ast, list):
        return [_split_agg_calls(x, sink, spec_ix)
                if isinstance(x, (tuple, list)) else x for x in ast]
    return ast


def _split_ts_agg_calls(ast, sink: list, spec_ix: int):
    """TS variant of :func:`_split_agg_calls`: placeholders replace the
    per-series ``*_OVER_TIME`` calls; the outer aggregate stays in the
    expression and runs at read time over the merged series relation."""
    if isinstance(ast, tuple):
        if ast[0] == "call" and ast[1] in _TS_AGG_NAMES:
            sink.append(ast)
            return ("field", f"__a{spec_ix}_{len(sink) - 1}")
        return tuple(
            _split_ts_agg_calls(x, sink, spec_ix)
            if isinstance(x, (tuple, list)) else x
            for x in ast)
    if isinstance(ast, list):
        return [_split_ts_agg_calls(x, sink, spec_ix)
                if isinstance(x, (tuple, list)) else x for x in ast]
    return ast


def plan_esql_stream(text: str) -> dict:
    """Validate and split the pipeline for streaming maintenance.

    Returns ``{"cmds", "stats_at", "specs", "mergeable", "key_names"}``
    where each spec is ``(out_name, final_ast, agg_calls, cond_ast)``.
    """
    cmds = parse(text)
    is_ts = cmds[0]["cmd"] == "TS"
    if cmds[0]["cmd"] not in ("FROM", "TS"):
        raise ESQLError("streaming ES|QL needs a FROM or TS <stream> head",
                        0, text)
    if len(cmds[0].get("tables", [cmds[0]["table"]])) > 1:
        raise ESQLError("streaming ES|QL binds exactly one stream — "
                        "multi-index FROM is batch-only",
                        cmds[0]["pos"], text)
    stats_ix = [i for i, c in enumerate(cmds) if c["cmd"] == "STATS"]
    if len(stats_ix) != 1:
        raise ESQLError(
            "streaming ES|QL maintains exactly one STATS (got "
            f"{len(stats_ix)})", cmds[0]["pos"], text)
    at = stats_ix[0]
    for c in cmds[1:at]:
        if c["cmd"] not in _PREFIX_OK:
            raise ESQLError(
                f"{c['cmd']} is not streamable before STATS in this "
                "subset", c["pos"], text)
    for c in cmds[at + 1:]:
        if c["cmd"] not in _SUFFIX_OK:
            raise ESQLError(
                f"{c['cmd']} is not supported after STATS in the "
                "streaming subset", c["pos"], text)
    stats = cmds[at]
    specs = []
    mergeable = True
    if is_ts:
        any_inner = False
        for si, (name, e, cond) in enumerate(stats["aggs"]):
            if cond is not None:
                raise ESQLError("per-aggregate WHERE is outside the TS "
                                "STATS subset", stats["pos"], text)
            calls: list = []
            final_ast = _split_ts_agg_calls(e, calls, si)
            bad = [c[1] for c in calls if c[1] not in TS_MERGEABLE]
            if bad:
                raise ESQLError(
                    f"{bad[0]} is not stream-maintainable (per-epoch "
                    "partials cannot carry cross-batch deltas) — use the "
                    "batch TS path", stats["pos"], text)
            if not _Compiler._has_agg(final_ast):
                raise ESQLError(
                    f"TS STATS column {name!r} needs an OUTER aggregate "
                    "over the per-series value", stats["pos"], text)
            any_inner = any_inner or bool(calls)
            specs.append((name or _Compiler._default_name(e), final_ast,
                          calls, None))
        if not any_inner:
            raise ESQLError("TS STATS needs at least one *_OVER_TIME "
                            "aggregate", stats["pos"], text)
    else:
        for si, (name, e, cond) in enumerate(stats["aggs"]):
            calls = []
            final_ast = _split_agg_calls(e, calls, si)
            if not calls:
                raise ESQLError(
                    f"STATS column {name!r} contains no aggregate",
                    stats["pos"], text)
            if any(c[1] not in MERGEABLE_AGGS for c in calls):
                mergeable = False
            specs.append((name or _Compiler._default_name(e), final_ast,
                          calls, cond))
    key_names = [name or _Compiler._default_name(e)
                 for name, e in stats["by"]]
    return {"cmds": cmds, "stats_at": at, "specs": specs, "ts": is_ts,
            "mergeable": mergeable, "key_names": key_names}


def _stamp_state(state_dir: str, text: str, mode: str,
                 extra: Optional[dict] = None) -> None:
    meta = artifact.read_json(os.path.join(state_dir, _META))
    if meta is not None:
        if meta.get("query_sha") != _query_sha(text):
            raise ValueError(
                f"esql stream state at {state_dir} was built for a "
                "DIFFERENT query (sha "
                f"{meta.get('query_sha')} != {_query_sha(text)}); refusing "
                "to merge incompatible partials")
        return
    if any(not n.startswith("_") for n in artifact.visible(state_dir)):
        raise ValueError(
            f"{state_dir} is non-empty but carries no esql-stream marker; "
            "refusing a foreign layout")
    os.makedirs(state_dir, exist_ok=True)
    artifact.write_json(os.path.join(state_dir, _META),
                        {"query_sha": _query_sha(text), "mode": mode,
                         "text": text, **(extra or {})})


def _check_state(state_dir: str, text: str) -> None:
    meta = artifact.read_json(os.path.join(state_dir, _META))
    if meta is None:
        raise ValueError(f"{state_dir} carries no esql-stream marker")
    if meta.get("query_sha") != _query_sha(text):
        raise ValueError(
            f"esql stream state at {state_dir} belongs to a different "
            "query; refusing")


def _capped_list(lst: Column) -> Column:
    return F.when(F.size(lst) <= STREAM_VALUES_CAP, lst).otherwise(
        F.raise_error(F.lit(
            "esql stream: a group's value count exceeds "
            f"STREAM_VALUES_CAP={STREAM_VALUES_CAP} for an exact "
            "order-statistic partial (MEDIAN/PERCENTILE/MAD) — use a "
            "sketch or the batch path for groups this large")))


def _partial_agg(comp: _Compiler, df: DataFrame, plan: dict) -> DataFrame:
    """The batch's partial aggregates: one row per group, columns
    ``__p<spec>_<k>`` (AVG contributes ``_s`` / ``_n`` sum+count pairs)."""
    stats = plan["cmds"][plan["stats_at"]]
    cols = df.columns
    # mapping-dispatched predicates (KQL term/date forms) read the bound
    # column dtypes; apply() stashes these, but this entry point calls
    # comp.col() directly — without the stash a per-aggregate
    # WHERE KQL("num:404") would silently take the analyzed-text path
    comp._cur_dtypes = dict(df.dtypes)
    keys = [comp.col(e, cols).alias(name or _Compiler._default_name(e))
            for name, e in stats["by"]]
    pcols: list[Column] = []
    for si, (_oname, _fast, calls, cond) in enumerate(plan["specs"]):
        condc = comp.col(cond, cols) if cond is not None else None
        for ci, call in enumerate(calls):
            agg = call[1]
            args = [comp.col(a, cols) for a in call[2] if a[0] != "star"]
            p = f"__p{si}_{ci}"
            if agg == "WEIGHTED_AVG":
                xw, w = args[0] * args[1], args[1]
                if condc is not None:
                    xw, w = F.when(condc, xw), F.when(condc, w)
                pcols.append(F.sum(xw).alias(p + "_s"))
                pcols.append(F.sum(w).alias(p + "_w"))
                continue
            arg = args[0] if args else F.lit(1)
            if condc is not None:
                arg = F.when(condc, arg)
            if agg == "COUNT":
                pcols.append(F.count(arg).cast("long").alias(p))
            elif agg == "SUM":
                pcols.append(F.sum(arg).alias(p))
            elif agg == "MIN":
                pcols.append(F.min(arg).alias(p))
            elif agg == "MAX":
                pcols.append(F.max(arg).alias(p))
            elif agg in _LIST_AGGS:
                # exact order-statistic partial: the group's sorted
                # values, bounded by STREAM_VALUES_CAP (in-plan abort
                # beyond it — see the constant's rationale)
                lst = F.sort_array(F.collect_list(arg))
                pcols.append(_capped_list(lst).alias(p + "_l"))
            elif agg in _MOMENT_AGGS:
                x = arg.cast("double")
                pcols.append(F.count(x).cast("long").alias(p + "_n"))
                pcols.append(F.sum(x).alias(p + "_s1"))
                pcols.append(F.sum(x * x).alias(p + "_s2"))
                if _MOMENT_AGGS[agg] >= 3:
                    pcols.append(F.sum(x * x * x).alias(p + "_s3"))
                if _MOMENT_AGGS[agg] >= 4:
                    pcols.append(F.sum(x * x * x * x).alias(p + "_s4"))
            else:  # AVG: sum+count pair, finalized at merge
                pcols.append(F.sum(arg).alias(p + "_s"))
                pcols.append(F.count(arg).cast("long").alias(p + "_n"))
    return df.groupBy(*keys).agg(*pcols) if keys else df.agg(*pcols)


def _ts_partial_agg(comp: _Compiler, df: DataFrame, plan: dict,
                    spec) -> DataFrame:
    """The batch's per-(series, bucket) INNER partials for a TS pipeline —
    a series' bucket may span micro-batches, so these are partials of the
    *_OVER_TIME aggregates, merged at read (FIRST/LAST carry a
    (timestamp, value) pair)."""
    stats = plan["cmds"][plan["stats_at"]]
    comp._cur_dtypes = dict(df.dtypes)  # see _partial_agg
    missing = [x for x in (spec.ts, *spec.dimensions) if x not in df.columns]
    if missing:
        raise ESQLError(f"TS series column(s) {missing} missing from the "
                        "stream", stats["pos"], comp.text)
    stage = df
    by_names: list[str] = []
    for name, e in stats["by"]:
        if e[0] == "call" and e[1] == "BUCKET":
            if name is None:
                raise ESQLError("BUCKET in TS BY needs an explicit "
                                "`name =`", stats["pos"], comp.text)
            args = e[2]
            if not (args and args[0][0] == "field"
                    and args[0][1] == spec.ts):
                raise ESQLError(
                    f"TS BUCKET must bucket the series timestamp "
                    f"{spec.ts!r}", stats["pos"], comp.text)
            stage = stage.withColumn(name, comp.col(e, stage.columns))
            by_names.append(name)
        elif e[0] == "field":
            nm = name or e[1]
            if e[1] not in spec.dimensions:
                raise ESQLError(
                    f"TS BY key {e[1]!r} is not a series dimension "
                    f"(dimensions: {list(spec.dimensions)})",
                    stats["pos"], comp.text)
            if nm != e[1]:
                stage = stage.withColumn(nm, F.col(e[1]))
            by_names.append(nm)
        else:
            raise ESQLError("TS BY supports series dimensions and one "
                            "BUCKET(ts, span)", stats["pos"], comp.text)
    g1 = list(spec.dimensions)
    g1 += [n for n in by_names if n not in g1]
    pcols: list[Column] = []
    for si, (_o, _f, calls, _c) in enumerate(plan["specs"]):
        for ci, call in enumerate(calls):
            fname, args = call[1], call[2]
            a0 = comp.col(args[0], df.columns) if args else None
            p = f"__p{si}_{ci}"
            if fname == "SUM_OVER_TIME":
                pcols.append(F.sum(a0).alias(p))
            elif fname == "MAX_OVER_TIME":
                pcols.append(F.max(a0).alias(p))
            elif fname == "MIN_OVER_TIME":
                pcols.append(F.min(a0).alias(p))
            elif fname == "COUNT_OVER_TIME":
                pcols.append(F.count(a0 if a0 is not None else F.lit(1))
                             .cast("long").alias(p))
            elif fname == "AVG_OVER_TIME":
                # exact-decimal partial (see esql._ts_dec6): decimal sums
                # are associative, so merging per-epoch partials lands on
                # EXACTLY the batch inner average, bit-for-bit
                pcols.append(F.sum(_ts_dec6(a0)).alias(p + "_s"))
                pcols.append(F.count(a0).cast("long").alias(p + "_n"))
            elif fname == "FIRST_OVER_TIME":
                # (ts, value) struct key = batch semantics (value is the
                # deterministic tiebreak under equal timestamps)
                pcols.append(F.min(F.col(spec.ts)).alias(p + "_t"))
                pcols.append(F.min_by(
                    a0, F.struct(F.col(spec.ts), a0)).alias(p + "_v"))
            else:  # LAST_OVER_TIME
                pcols.append(F.max(F.col(spec.ts)).alias(p + "_t"))
                pcols.append(F.max_by(
                    a0, F.struct(F.col(spec.ts), a0)).alias(p + "_v"))
    return stage.groupBy(*g1).agg(*pcols)


def start_esql_stream(spark: SparkSession, text: str, stream_df: DataFrame,
                      state_dir: str, checkpoint_dir: str, *,
                      sf_dir: Optional[str] = None,
                      tables: Optional[dict[str, DataFrame]] = None,
                      ts_specs: Optional[dict] = None,
                      available_now: bool = True):
    """Maintain the ES|QL query over a streaming relation.

    ``stream_df`` binds the pipeline's ``FROM`` head. The stateless prefix
    is compiled onto the STREAMING DataFrame itself — the same plans the
    batch path emits, proving they are stream-capable — and each
    micro-batch lands its partials (or rows, in recompute mode) under
    ``state_dir`` keyed by batch_id, idempotent on retry."""
    plan = plan_esql_stream(text)
    head = plan["cmds"][0]["table"]
    spec = None
    if plan["ts"]:
        spec = (ts_specs if ts_specs is not None
                else DEFAULT_TS_SPECS).get(head)
        if spec is None:
            raise ESQLError(f"{head!r} has no TimeSeriesSpec",
                            plan["cmds"][0]["pos"], text)
        _stamp_state(state_dir, text, "ts",
                     {"series_dims": list(spec.dimensions)})
    else:
        mode = "mergeable" if plan["mergeable"] else "recompute"
        _stamp_state(state_dir, text, mode)
    bound = dict(tables or {})
    bound[head] = stream_df
    comp = _Compiler(spark, sf_dir, bound, DEFAULT_POLICIES, text)
    df = stream_df
    for c in plan["cmds"][1:plan["stats_at"]]:
        df = comp.apply(df, c)
    sub = ("partials" if plan["ts"] or plan["mergeable"] else "rows")

    def tick(batch_df: DataFrame, batch_id: int) -> None:
        _check_state(state_dir, text)
        bcomp = _Compiler(batch_df.sparkSession, sf_dir, bound,
                          DEFAULT_POLICIES, text)
        if plan["ts"]:
            out = _ts_partial_agg(bcomp, batch_df, plan, spec)
        elif plan["mergeable"]:
            out = _partial_agg(bcomp, batch_df, plan)
        else:
            out = batch_df
        out.write.mode("overwrite").parquet(
            f"{state_dir}/{sub}/epoch={batch_id}")

    writer = (df.writeStream.foreachBatch(tick)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_esql_stream_result(spark: SparkSession, text: str,
                            state_dir: str) -> DataFrame:
    """Serve the maintained result: merge partials (or recompute), then
    apply the post-STATS commands. Pure DataFrame plan — nothing runs."""
    plan = plan_esql_stream(text)
    _check_state(state_dir, text)
    stats = plan["cmds"][plan["stats_at"]]
    comp = _Compiler(spark, None, {}, DEFAULT_POLICIES, text)
    keys = plan["key_names"]
    if plan["ts"]:
        part = spark.read.parquet(f"{state_dir}/partials").drop("epoch")
        dims = artifact.read_json(
            os.path.join(state_dir, _META))["series_dims"]
        g1 = list(dims) + [n for n in keys if n not in dims]
        mcols: list[Column] = []
        for si, (_o, _f, calls, _c) in enumerate(plan["specs"]):
            for ci, call in enumerate(calls):
                fname, p = call[1], f"__p{si}_{ci}"
                if fname == "SUM_OVER_TIME":
                    mcols.append(F.sum(p).alias(p))
                elif fname == "MAX_OVER_TIME":
                    mcols.append(F.max(p).alias(p))
                elif fname == "MIN_OVER_TIME":
                    mcols.append(F.min(p).alias(p))
                elif fname == "COUNT_OVER_TIME":
                    mcols.append(F.sum(p).cast("long").alias(p))
                elif fname == "AVG_OVER_TIME":
                    mcols.append(F.sum(p + "_s").alias(p + "_s"))
                    mcols.append(
                        F.sum(p + "_n").cast("long").alias(p + "_n"))
                elif fname == "FIRST_OVER_TIME":
                    # merge on the same (ts, value) struct key as the
                    # per-batch partial — min over structs is associative
                    mcols.append(F.min_by(
                        F.col(p + "_v"),
                        F.struct(F.col(p + "_t"), F.col(p + "_v"))
                    ).alias(p + "_v"))
                else:  # LAST_OVER_TIME
                    mcols.append(F.max_by(
                        F.col(p + "_v"),
                        F.struct(F.col(p + "_t"), F.col(p + "_v"))
                    ).alias(p + "_v"))
        merged = part.groupBy(*g1).agg(*mcols)
        ph_cols = [F.col(k) for k in keys]
        for si, (_o, _f, calls, _c) in enumerate(plan["specs"]):
            for ci, call in enumerate(calls):
                fname, p = call[1], f"__p{si}_{ci}"
                a = f"__a{si}_{ci}"
                if fname == "AVG_OVER_TIME":
                    ph_cols.append(
                        F.when(F.col(p + "_n") > 0,
                               F.col(p + "_s").cast("double")
                               / F.col(p + "_n")).alias(a))
                elif fname in ("FIRST_OVER_TIME", "LAST_OVER_TIME"):
                    ph_cols.append(F.col(p + "_v").alias(a))
                else:
                    ph_cols.append(F.col(p).alias(a))
        ph = merged.select(*ph_cols)
        # the outer combine-AVG uses the same order-free exact-decimal
        # form as batch TS STATS (esql._ts_pinned_avg), so the streamed
        # rollup equals the batch answer bit-for-bit
        comp._ts_outer_pin = True
        try:
            out = [comp.col(fast, ph.columns, allow_agg=True).alias(oname)
                   for oname, fast, _calls, _cond in plan["specs"]]
        finally:
            comp._ts_outer_pin = False
        df = (ph.groupBy(*[F.col(k) for k in keys]).agg(*out) if keys
              else ph.agg(*out))
    elif plan["mergeable"]:
        part = spark.read.parquet(f"{state_dir}/partials").drop("epoch")
        mcols: list[Column] = []
        for si, (_oname, _fast, calls, _cond) in enumerate(plan["specs"]):
            for ci, call in enumerate(calls):
                agg, p = call[1], f"__p{si}_{ci}"
                if agg == "COUNT":
                    mcols.append(F.sum(p).cast("long").alias(p))
                elif agg in ("SUM",):
                    mcols.append(F.sum(p).alias(p))
                elif agg == "MIN":
                    mcols.append(F.min(p).alias(p))
                elif agg == "MAX":
                    mcols.append(F.max(p).alias(p))
                elif agg == "WEIGHTED_AVG":
                    mcols.append(F.sum(p + "_s").alias(p + "_s"))
                    mcols.append(F.sum(p + "_w").alias(p + "_w"))
                elif agg in _LIST_AGGS:
                    # concatenate the per-epoch sorted arrays (the same
                    # cardinality cap applies to the merged multiset)
                    mcols.append(_capped_list(F.flatten(
                        F.collect_list(F.col(p + "_l")))).alias(p + "_l"))
                elif agg in _MOMENT_AGGS:
                    mcols.append(F.sum(p + "_n").cast("long")
                                 .alias(p + "_n"))
                    for s in ["_s1", "_s2", "_s3", "_s4"][
                            :_MOMENT_AGGS[agg]]:
                        mcols.append(F.sum(p + s).alias(p + s))
                else:  # AVG
                    mcols.append(F.sum(p + "_s").alias(p + "_s"))
                    mcols.append(
                        F.sum(p + "_n").cast("long").alias(p + "_n"))
        merged = (part.groupBy(*keys).agg(*mcols) if keys
                  else part.agg(*mcols))
        # order statistics finalize by EXPLODING the merged multiset and
        # re-running the BATCH aggregate function per group — bit-for-bit
        # the batch answer (no reimplemented interpolation to drift). The
        # relation here is result-sized, so the explode + re-aggregate +
        # join-back is trivial.
        list_fins = [(si, ci, call)
                     for si, (_o, _f, calls, _c) in enumerate(plan["specs"])
                     for ci, call in enumerate(calls)
                     if call[1] in _LIST_AGGS]
        for si, ci, call in list_fins:
            agg, p = call[1], f"__p{si}_{ci}"
            vals = merged.select(*keys, F.explode(F.col(p + "_l"))
                                 .alias("__v"))
            fin_args = [F.col("__v")]
            if agg == "PERCENTILE":
                fin_args.append(F.lit(call[2][1][1]))
            fin_col = _AGGS[agg](fin_args, call[2]).alias(p + "_fin")
            fin = (vals.groupBy(*keys).agg(fin_col) if keys
                   else vals.agg(fin_col))
            if keys:
                # NULL-SAFE key equality: a NULL BY-key group is a real
                # group (groupBy keeps it) and must get its finalized
                # value back — a plain equi-join would drop it to null
                m, f_ = merged.alias("__m"), fin.alias("__f")
                cond = None
                for k in keys:
                    c = F.col(f"__m.{k}").eqNullSafe(F.col(f"__f.{k}"))
                    cond = c if cond is None else cond & c
                merged = (m.join(F.broadcast(f_), cond, "left")
                          .select("__m.*", F.col(f"__f.{p}_fin")
                                  .alias(p + "_fin")))
            else:
                merged = merged.crossJoin(F.broadcast(fin))
            merged = merged.drop(p + "_l")
        # placeholder columns __a<spec>_<k>, then the wrapper expressions
        ph_cols = [F.col(k) for k in keys]
        for si, (_oname, _fast, calls, _cond) in enumerate(plan["specs"]):
            for ci, call in enumerate(calls):
                agg, p = call[1], f"__p{si}_{ci}"
                a = f"__a{si}_{ci}"
                if agg == "AVG":
                    ph_cols.append(
                        F.when(F.col(p + "_n") > 0,
                               F.col(p + "_s").cast("double")
                               / F.col(p + "_n")).alias(a))
                elif agg == "WEIGHTED_AVG":
                    # same expression shape as the batch aggregate
                    # (sum(x*w)/sum(w)) so null/zero semantics match
                    ph_cols.append(
                        (F.col(p + "_s") / F.col(p + "_w")).alias(a))
                elif agg in _LIST_AGGS:
                    ph_cols.append(F.col(p + "_fin").alias(a))
                elif agg in _MOMENT_AGGS:
                    n = F.col(p + "_n").cast("double")
                    mu = F.col(p + "_s1") / n
                    # same n·2⁻⁵⁰ cancellation clamp as the batch
                    # aggregate (esql._m2_clamped): sub-noise m2 is
                    # exactly 0 → variance 0, skew/kurt NULL
                    from elasticsearch_hbase_river_spark.esql import \
                        M2_EPS_PER_N
                    raw_m2 = F.col(p + "_s2") / n - mu * mu
                    m2 = F.when(
                        raw_m2 <= n * F.lit(M2_EPS_PER_N)
                        * F.abs(F.col(p + "_s2") / n),
                        F.lit(0.0)).otherwise(raw_m2)
                    if agg == "VARIANCE":
                        fin = F.when(F.col(p + "_n") > 0, m2)
                    elif agg == "SKEWNESS":
                        m3 = (F.col(p + "_s3") / n
                              - 3 * mu * F.col(p + "_s2") / n
                              + 2 * mu * mu * mu)
                        fin = F.when(m2 > 0, m3 / F.pow(m2, 1.5))
                    else:  # KURTOSIS
                        m4 = (F.col(p + "_s4") / n
                              - 4 * mu * F.col(p + "_s3") / n
                              + 6 * mu * mu * F.col(p + "_s2") / n
                              - 3 * mu * mu * mu * mu)
                        fin = F.when(m2 > 0, m4 / (m2 * m2) - 3)
                    ph_cols.append(fin.alias(a))
                else:
                    ph_cols.append(F.col(p).alias(a))
        ph = merged.select(*ph_cols)
        out = [F.col(k) for k in keys]
        for _si, (oname, fast, _calls, _cond) in enumerate(plan["specs"]):
            out.append(comp.col(fast, ph.columns).alias(oname))
        df = ph.select(*out)
    else:
        rows = spark.read.parquet(f"{state_dir}/rows").drop("epoch")
        df = comp.apply(rows, stats)
    for c in plan["cmds"][plan["stats_at"] + 1:]:
        df = comp.apply(df, c)
    return df
