"""Seeded input generators for the river benchmark.

Everything here is pure numpy/pyarrow: no Spark, no clock, no environment.
The same seed gives byte-identical parquet files and query streams, and the
program under test only ever sees the files and term tuples made here.

- ``river_ticks``: a 10x replica of an sf-shaped ``events`` table, offset
  per replica the way ``tools/make_scale_fixtures.py`` does it (event_id +
  i*1e7, user_id + i*1e6, same timestamps), melted into the canonical
  cells shape (``sources/cells.py``) and cut on timestamp boundaries into
  a backfill history plus a schedule of ~3k-event time slices.
- ``search_serve``: the ``doc_id``/``text`` columns of a ``documents``
  table shaped like the sf0.1 fixture (TESTDATA.md) as measured on it:
  5000 docs, each 10-99 tokens drawn uniformly from the fixture's 30-word
  vocabulary, and a skewed stream of 1-3-term queries over that
  vocabulary, every ``QUERY_NOOP_EVERY``-th query made of terms absent
  from the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Every RIVER_NOOP_EVERY-th river tick finds no landed slice and every
#: QUERY_NOOP_EVERY-th query matches nothing (see :func:`is_noop`).
RIVER_NOOP_EVERY = 4
QUERY_NOOP_EVERY = 3

EPOCH_MS = 1_704_067_200_000          # 2024-01-01T00:00:00Z, as the fixture
SPAN_MS = 30 * 86_400_000             # the fixture's 30-day timeline
REPLICAS = 10
EVENT_ID_STRIDE = 10_000_000          # tools/make_scale_fixtures.py OFFSETS
USER_ID_STRIDE = 1_000_000
BASE_EVENTS = 22_000                  # events per replica (sf0.1: 100k)
HISTORY_EVENTS = 40_000               # backfilled before the first tick
SLICE_EVENTS = 3_000                  # landed before each data tick
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")

#: The sf0.1 ``documents`` fixture, measured: 5000 docs whose texts are
#: 10-99 space-separated tokens (near-uniform; 4 docs of 100), each token
#: one of these 30 words with near-equal frequency (8.8k-9.2k each; the
#: fixture's only other token, "dup", ends its 250 planted near-copies).
N_DOCS = 5_000
MIN_TOKENS, MAX_TOKENS = 10, 99
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
N_QUERIES = 2_000


def is_noop(i: int, every: int) -> bool:
    """Whether op ``i`` of a workload with no-op cadence ``every`` is one."""
    return i % every == every - 1


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(stream.encode())])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# river_ticks


@dataclass
class RiverInputs:
    """The replicated event timeline, in (ts_ms, event_id) order, and the
    index ranges of the history and of each landing slice."""

    event_id: np.ndarray
    ts_ms: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray
    value: np.ndarray
    props: np.ndarray
    history: tuple[int, int]
    slices: list[tuple[int, int]]

    def cells(self, lo: int, hi: int) -> pa.Table:
        """Events [lo, hi) melted into cells, in the order and string
        rendering of ``sources.cells.cells_from_events``."""
        n = hi - lo
        row_key = np.char.mod("%d", self.event_id[lo:hi])
        return pa.table({
            "row_key": np.concatenate([row_key] * 4),
            "family": np.repeat(np.array(["meta", "meta", "data", "data"]),
                                n),
            "qualifier": np.repeat(
                np.array(["event_type", "user_id", "value", "props"]), n),
            "value": np.concatenate([
                self.event_type[lo:hi],
                np.char.mod("%d", self.user_id[lo:hi]),
                np.char.mod("%.2f", self.value[lo:hi]),
                self.props[lo:hi]]),
            "ts_ms": np.tile(self.ts_ms[lo:hi], 4),
        })

    def write_history(self, path: str) -> None:
        _write(self.cells(*self.history), path)

    def write_slice(self, k: int, path: str) -> None:
        _write(self.cells(*self.slices[k]), path)


def _cut_after(ts: np.ndarray, start: int, size: int) -> int:
    """First index >= start+size that begins a new timestamp, so no
    timestamp straddles two slices (the watermark is max(ts)+1: a split
    timestamp group would strand its late half below the watermark)."""
    i = min(start + size, len(ts))
    while 0 < i < len(ts) and ts[i] == ts[i - 1]:
        i += 1
    return i


def river_inputs(seed: int) -> RiverInputs:
    rng = _rng(seed, "river_ticks")
    b = BASE_EVENTS
    ts = np.sort(rng.integers(EPOCH_MS, EPOCH_MS + SPAN_MS, b))
    user = rng.integers(0, 1_500, b)
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), b)]
    value = np.round(rng.random(b) * 560.21, 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)])[
        rng.integers(0, 100, b)]
    rep = np.repeat(np.arange(REPLICAS), b)
    eid = np.tile(np.arange(b), REPLICAS) + rep * EVENT_ID_STRIDE
    ts_all = np.tile(ts, REPLICAS)
    order = np.lexsort((eid, ts_all))
    ev = RiverInputs(
        event_id=eid[order], ts_ms=ts_all[order],
        user_id=(np.tile(user, REPLICAS) + rep * USER_ID_STRIDE)[order],
        event_type=np.tile(etype, REPLICAS)[order],
        value=np.tile(value, REPLICAS)[order],
        props=np.tile(props, REPLICAS)[order],
        history=(0, 0), slices=[])
    end = _cut_after(ev.ts_ms, 0, HISTORY_EVENTS)
    ev.history = (0, end)
    while end < len(ev.ts_ms):
        nxt = _cut_after(ev.ts_ms, end, SLICE_EVENTS)
        if nxt - end < SLICE_EVENTS // 2:
            break
        ev.slices.append((end, nxt))
        end = nxt
    return ev


# ---------------------------------------------------------------------------
# search_serve


@dataclass
class SearchInputs:
    docs: pa.Table
    queries: list[tuple[str, ...]]

    def write_docs(self, path: str) -> None:
        _write(self.docs, path)


def search_inputs(seed: int) -> SearchInputs:
    rng = _rng(seed, "search_serve")
    vocab = np.array(VOCAB)
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, N_DOCS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)])
             for n in lengths]
    docs = pa.table({"doc_id": np.arange(N_DOCS, dtype=np.int64),
                     "text": texts})

    # Query terms are drawn Zipf-skewed (rank r ~ 1/r) over the vocabulary
    # ranked by the corpus's collection frequency.
    words, counts = np.unique(" ".join(texts).split(" "),
                              return_counts=True)
    ranked = words[np.lexsort((words, -counts))]
    qz = 1.0 / np.arange(1, len(ranked) + 1)
    qz /= qz.sum()
    queries: list[tuple[str, ...]] = []
    for i in range(N_QUERIES):
        if is_noop(i, QUERY_NOOP_EVERY):
            queries.append((f"zq{i}x",))  # digits never occur in the corpus
            continue
        n = int(rng.integers(1, 4))
        picked = ranked[rng.choice(len(ranked), n, p=qz)]
        queries.append(tuple(dict.fromkeys(picked.tolist())))
    return SearchInputs(docs=docs, queries=queries)
