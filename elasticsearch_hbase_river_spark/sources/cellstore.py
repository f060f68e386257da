"""``cellstore`` — a real pluggable source connector (Python Data Source
API) with the reference scanner's pushdown surface.

The reference's core is an HBase RPC scanner: one table of sorted
``(key, family, qualifier, value, timestamp)`` cells served by region, with
three storage-side restrictions — ``scanner.setFamily``
(HBaseParser.java:91-93), ``scanner.setQualifier`` (:94-98) and
``scanner.setMinTimestamp`` (:100, set from the sink high-watermark,
:258-280). This module re-creates that as a first-class Spark source
instead of a pre-loaded DataFrame:

- the **store layout** is a directory of sorted, non-overlapping row-key
  ranges ("regions", one parquet file each + a JSON manifest) — the unit of
  scan parallelism, exactly HBase's unit;
- the **batch reader** maps one Spark ``InputPartition`` per region and
  applies the pushed family/qualifier/ts filters inside the region read
  (pyarrow predicate → storage-level filtering, the RegionServer analog);
- the **stream reader** is the incremental scanner: each micro-batch serves
  only cells with ``ts_ms`` greater than the last committed offset —
  the CDC high-watermark loop of HBaseParser.java:258-280 as a
  checkpointable Structured Streaming source.

At 100 TB this is the part of the engine that keeps the scan parallel
(1000 regions → 1000 tasks; the reference runs ONE scanner on ONE thread,
HBaseRiver.java:263) and keeps the watermark predicate out of Spark
entirely — unmatched regions are skipped without reading a byte
(min/max ts per region in the manifest).

Pure public APIs: ``pyspark.sql.datasource`` + ``pyarrow``.

Storage assumption (reader AND writer): the store ``path`` must be on
storage every executor and the driver can reach — a shared mount
(NFS / fuse-mounted object store) on a real cluster, the local filesystem
in tests. This is the same contract as any Spark file-based source; the
per-task ``artifact.replace_file`` publish is atomic on POSIX-semantics
mounts.

Usage note: open a fresh ``spark.read.format("cellstore")...load()`` per
tick — the region list binds when a plan is first executed, so a reused
DataFrame can miss regions appended afterwards. The reference has the
same discipline: one new scanner per run (HBaseParser.java:89).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Iterator, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from elasticsearch_hbase_river_spark import artifact

#: The canonical cells schema (sources/cells.py docstring).
CELLS_DDL = "row_key STRING, family STRING, qualifier STRING, value STRING, ts_ms BIGINT"

MANIFEST = "_cellstore_manifest.json"


#: Manifest-row schema produced by the per-region writer tasks.
_MANIFEST_ROW_DDL = ("file string, start_key string, end_key string, "
                     "min_ts_ms long, max_ts_ms long, n_cells long")


def _write_region_files(df, path: str, start_idx: int) -> list[dict[str, Any]]:
    """Distributed region writer: each Spark partition writes its own sorted
    parquet region file (``artifact.replace_file``, so task retries are safe)
    and emits ONE manifest row. Only those bounded manifest rows — one per
    region, never cell data — reach the driver. This is the 100 TB write
    path: 1000 regions → 1000 parallel writer tasks."""
    target = os.path.abspath(path)

    def write_partition(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        pid = TaskContext.get().partitionId()
        fname = f"region-{start_idx + pid:05d}.parquet"
        artifact.replace_file(os.path.join(target, fname),
                              lambda tmp: pq.write_table(tbl, tmp))
        keys, ts = tbl.column("row_key"), tbl.column("ts_ms")
        yield pa.RecordBatch.from_pylist([{
            "file": fname,
            "start_key": str(pc.min(keys).as_py()),
            "end_key": str(pc.max(keys).as_py()),
            "min_ts_ms": int(pc.min(ts).as_py()),
            "max_ts_ms": int(pc.max(ts).as_py()),
            "n_cells": tbl.num_rows,
        }])

    rows = df.mapInArrow(write_partition, _MANIFEST_ROW_DDL).collect()
    return sorted((r.asDict() for r in rows), key=lambda d: d["file"])


def write_cellstore(cells_df, path: str, n_regions: int = 8) -> None:
    """Materialize a cells DataFrame as a region-sharded store.

    Rows are range-sharded on ``row_key`` (sorted within each region, like
    an HBase region's key range — ``repartitionByRange`` keeps equal keys
    together and the ranges non-overlapping) and each region records its
    min/max ``ts_ms`` in the manifest so scans with a watermark predicate
    can skip whole regions without opening them. The writer is fully
    distributed (``_write_region_files``): the relation is never
    materialized on the driver."""
    os.makedirs(path, exist_ok=True)
    sharded = (cells_df.repartitionByRange(n_regions, "row_key")
               .sortWithinPartitions("row_key", "family", "qualifier"))
    regions = _write_region_files(sharded, path, start_idx=0)
    artifact.write_json(os.path.join(path, MANIFEST), {"regions": regions})


def append_cells(cells_df, path: str, n_regions: int = 1) -> None:
    """Append a batch of new cells as extra region(s) (the CDC write path:
    later-timestamped cells arriving after the initial bulk load). Same
    distributed writer as the bulk path; manifest entries are appended
    after the existing regions."""
    existing = _load_manifest(path)
    sharded = (cells_df.repartitionByRange(n_regions, "row_key")
               .sortWithinPartitions("row_key", "family", "qualifier"))
    # Next index = max index already on disk + 1, NOT len(existing):
    # _write_region_files names files by partition id and skips empty
    # partitions, so a prior write can leave index gaps (e.g. files 0 and 2
    # with only 2 manifest entries). len() would then re-issue index 2 and
    # os.replace-clobber a live region.
    new_regions = _write_region_files(sharded, path,
                                      start_idx=_next_region_idx(existing))
    if not new_regions:
        return
    artifact.write_json(os.path.join(path, MANIFEST),
                        {"regions": existing + new_regions})


def _next_region_idx(existing: list[dict[str, Any]]) -> int:
    hi = -1
    for r in existing:
        m = re.fullmatch(r"region-(\d+)\.parquet", r["file"])
        if m:
            hi = max(hi, int(m.group(1)))
    return hi + 1


def _load_manifest(path: str) -> list[dict[str, Any]]:
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)["regions"]


@dataclass
class RegionPartition(InputPartition):
    path: str
    file: str
    family: str | None
    qualifiers: tuple[str, ...] | None
    min_ts_ms_exclusive: int | None


class CellStoreReader(DataSourceReader):
    """Batch scanner: one task per region, storage-side pushdown."""

    def __init__(self, options: dict[str, str]) -> None:
        self.path = options["path"]
        self.family: str | None = None
        self.qualifiers: tuple[str, ...] | None = None
        self.min_ts_ms_exclusive: int | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:  # noqa: N802
        """Accept exactly the reference scanner's pushdown surface —
        family equality, qualifier IN-list/equality, ts lower bound
        (HBaseParser.java:91-100) — and hand everything else back to Spark."""
        rest: list[Filter] = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("family",):
                self.family = f.value
            elif isinstance(f, EqualTo) and f.attribute == ("qualifier",):
                self.qualifiers = (f.value,)
            elif isinstance(f, In) and f.attribute == ("qualifier",):
                self.qualifiers = tuple(f.value)
            elif isinstance(f, GreaterThan) and f.attribute == ("ts_ms",):
                self.min_ts_ms_exclusive = int(f.value)
            elif isinstance(f, GreaterThanOrEqual) and f.attribute == ("ts_ms",):
                self.min_ts_ms_exclusive = int(f.value) - 1
            else:
                rest.append(f)
        return rest

    def partitions(self) -> Sequence[RegionPartition]:
        parts = []
        for r in _load_manifest(self.path):
            # Region pruning on the watermark: a region whose max ts is at
            # or below the watermark holds no new cells — skip it entirely.
            if (self.min_ts_ms_exclusive is not None
                    and r["max_ts_ms"] <= self.min_ts_ms_exclusive):
                continue
            parts.append(RegionPartition(
                self.path, r["file"], self.family, self.qualifiers,
                self.min_ts_ms_exclusive))
        # An exhausted store still needs >=1 (empty) partition for Spark.
        return parts or [RegionPartition(self.path, "", None, None, None)]

    def read(self, partition: RegionPartition) -> Iterator:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if not partition.file:
            return
        tbl = pq.read_table(os.path.join(partition.path, partition.file))
        mask = None

        def conj(m, cond):
            return cond if m is None else pc.and_(m, cond)

        if partition.family is not None:
            mask = conj(mask, pc.equal(tbl.column("family"), partition.family))
        if partition.qualifiers is not None:
            mask = conj(mask, pc.is_in(
                tbl.column("qualifier"),
                value_set=__import__("pyarrow").array(list(partition.qualifiers))))
        if partition.min_ts_ms_exclusive is not None:
            mask = conj(mask, pc.greater(tbl.column("ts_ms"),
                                         partition.min_ts_ms_exclusive))
        if mask is not None:
            tbl = tbl.filter(mask)
        yield from tbl.to_batches()


class CellStoreStreamReader(SimpleDataSourceStreamReader):
    """Incremental scanner as a streaming source: each batch is the delta
    above the committed ts watermark (HBaseParser.java:258-280), replayable
    between offsets for exactly-once recovery."""

    def __init__(self, options: dict[str, str]) -> None:
        self.path = options["path"]

    def initialOffset(self) -> dict:  # noqa: N802
        # Cold start scans from 0 (HBaseParser.java:277).
        return {"ts_ms": 0}

    def _scan(self, lo_exclusive: int, hi_inclusive: int | None):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        rows: list[tuple] = []
        hi_seen = lo_exclusive
        for r in _load_manifest(self.path):
            if r["max_ts_ms"] <= lo_exclusive:
                continue
            tbl = pq.read_table(os.path.join(self.path, r["file"]))
            mask = pc.greater(tbl.column("ts_ms"), lo_exclusive)
            if hi_inclusive is not None:
                mask = pc.and_(mask, pc.less_equal(tbl.column("ts_ms"),
                                                   hi_inclusive))
            tbl = tbl.filter(mask)
            if tbl.num_rows:
                hi_seen = max(hi_seen, pc.max(tbl.column("ts_ms")).as_py())
                rows.extend(tbl.to_pylist())
        out = [(d["row_key"], d["family"], d["qualifier"], d["value"],
                d["ts_ms"]) for d in rows]
        return out, hi_seen

    def read(self, start: dict):
        rows, hi = self._scan(int(start["ts_ms"]), None)
        return iter(rows), {"ts_ms": hi}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        rows, _ = self._scan(int(start["ts_ms"]), int(end["ts_ms"]))
        return iter(rows)


class CellStoreDataSource(DataSource):
    """``spark.read.format("cellstore").option("path", dir)`` — and the
    same format string for ``readStream`` (incremental scanner)."""

    @classmethod
    def name(cls) -> str:
        return "cellstore"

    def schema(self) -> str:
        return CELLS_DDL

    def reader(self, schema: StructType) -> CellStoreReader:
        return CellStoreReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> CellStoreStreamReader:  # noqa: N802
        return CellStoreStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the connector on a session (and enable Python
    data-source filter pushdown, off by default in Spark 4.1)."""
    from elasticsearch_hbase_river_spark.sources import ship_package_to_workers

    ship_package_to_workers(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CellStoreDataSource)
