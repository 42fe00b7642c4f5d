"""Event-time windowed sketches under Structured Streaming.

The reference has no streaming at all (SURVEY.md §2.8); this is the
Spark-native extension: per-window sketch state maintained by
``applyInPandasWithState`` — the custom stateful operator API — with
event-time watermarking for late data.

Why sketches fit streaming: they are mergeable monoids, so a window's
state is ONE fixed-size blob regardless of row count, late rows fold
in with the same `update_hashes` used in batch, and restart recovery
is the checkpointed blob — no row buffering, no re-aggregation.

Plan shape: watermark → JVM xxhash64 → groupBy(window start) →
applyInPandasWithState(update sketch blob) → update-mode rows
(window_start, estimate, n_rows) per trigger.

Late-data semantics (observed, Spark 4.1): the watermark is a lower
bound that only advances AFTER a batch completes, so a late row that
arrives in the first batch after a restart still reaches its window's
state and merges correctly (sketches are monoids — folding late data
in is strictly better than dropping it). By default (NoTimeout) the
per-window state lives forever — safe only for bounded replays; an
unbounded deployment passes ``state_ttl`` so each window's state is
evicted by an EventTimeTimeout at window_end + ttl, after one final
"window closed" flush row.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from ..kernels import sketch_from_bytes
from ..operators.agg import _feed, _input_col, _values

_OUT_SCHEMA = StructType([
    StructField("window_start", TimestampType()),
    StructField("estimate", DoubleType()),
    StructField("n_rows", LongType()),
])
_STATE_SCHEMA = StructType([
    StructField("payload", BinaryType()),
    StructField("n_rows", LongType()),
])

_UNIT_MS = {"millisecond": 1, "second": 1_000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000}


def _duration_ms(spec: str) -> int:
    """Parse a Spark-style interval string ('10 minutes', '1 day')."""
    parts = spec.strip().split()
    if len(parts) == 2:
        n, unit = parts
        unit = unit.lower().rstrip("s")
        if unit in _UNIT_MS and n.lstrip("-").isdigit():
            return int(n) * _UNIT_MS[unit]
    raise ValueError(f"unsupported duration spec: {spec!r}")


def _epoch_ms(ts) -> int:
    # the session timezone is UTC (session.get_spark), so the naive
    # window_start the state layer hands back is a UTC instant
    import datetime as _dt
    return int(ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)


def _arm_eviction(state: GroupState, window_start, window_ms: int,
                  ttl_ms: int) -> None:
    """Schedule this window's state drop at window_end + ttl. The
    timestamp must sit above the current watermark or Spark rejects
    it, so a window armed long after it closed evicts next trigger."""
    close_at = _epoch_ms(window_start) + window_ms + ttl_ms
    state.setTimeoutTimestamp(max(close_at,
                                  state.getCurrentWatermarkMs() + 1))


def sketch_per_window(stream_df: DataFrame, time_col: str, col: str,
                      factory: Callable, *, window: str = "10 minutes",
                      slide: str | None = None,
                      watermark: str = "10 minutes", seed: int = 0,
                      value_based: bool = False,
                      emit: Callable | None = None,
                      state_ttl: str | None = None) -> DataFrame:
    """→ streaming DataFrame (window_start, estimate, n_rows), one row
    per updated window per trigger. ``factory`` must build a sketch
    with ``update_hashes``/``merge`` and an ``estimate()`` method
    (e.g. HLLSketch) — the state blob is its serialized bytes.

    ``value_based=True`` feeds raw double values instead of 64-bit
    hashes (KLL / t-digest quantile sketches — the north-star
    per-window text-length-quantile shape); NULL and NaN rows are
    dropped before the fold, matching batch ``build_sketch``. ``emit``
    overrides the emitted scalar (default ``sk.estimate()``), e.g.
    ``lambda sk: sk.quantile(0.5)`` for a windowed median.

    ``slide`` turns the tumbling window into a sliding one (e.g.
    window="10 minutes", slide="5 minutes"): Spark's window() expands
    each row into every window it falls in, and each window keeps its
    own independent sketch state — nothing else changes, because the
    state is keyed by window_start either way. STATE ACCOUNTING: each
    row feeds exactly window/slide sketch states, so a span of T event
    time holds (T + window − slide)/slide live states — the overlap
    factor multiplies state rows, not any single window's row count
    (test-pinned: test_sliding_window_state_row_accounting). On an
    unbounded stream size ``state_ttl`` from it: once eviction keeps
    pace, resident state ≈ (watermark lag + window + ttl)/slide rows.

    ``state_ttl`` bounds state for unbounded window streams: each
    window's state is dropped by an EventTimeTimeout at window_end +
    ttl. On eviction the window's final row is emitted once more (the
    idempotent "window closed" flush — byte-equal to the last update,
    so Update-mode sinks dedupe by overwrite) and the blob is removed;
    without it (default NoTimeout) state lives forever, which is only
    safe for bounded replays."""

    # NULL values are dropped BEFORE hashing, matching build_sketch's
    # batch semantics: xxhash64 skips null children, so a NULL would
    # otherwise fold in as one phantom member (hash of the seed alone)
    # and inflate every distinct estimate by 1
    src = (stream_df
           .withWatermark(time_col, watermark)
           .where(F.col(col).isNotNull()))
    if value_based:
        src = src.where(~F.isnan(F.col(col).cast("double")))
    proj = _input_col(col, seed, value_based)
    window_ms = _duration_ms(window)
    ttl_ms = None if state_ttl is None else _duration_ms(state_ttl)
    win = (F.window(F.col(time_col), window) if slide is None
           else F.window(F.col(time_col), window, slide))
    cols = [win.getField("start").alias("window_start"), proj]
    if ttl_ms is not None:
        # EventTimeTimeout requires the watermarked attribute to survive
        # into the stateful operator's child plan
        cols.append(F.col(time_col).alias("__t"))
    hashed = src.select(*cols)
    emit_fn = emit if emit is not None else (lambda sk: sk.estimate())

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            payload, n = state.get
            sk = sketch_from_bytes(bytes(payload))
            state.remove()
            yield pd.DataFrame({"window_start": [key[0]],
                                "estimate": [float(emit_fn(sk))],
                                "n_rows": [int(n)]})
            return
        if state.exists:
            payload, n = state.get
            sk = sketch_from_bytes(bytes(payload))
            n = int(n)
        else:
            sk, n = factory(), 0
        for pdf in pdfs:
            _feed(sk, pdf["__v"], value_based)
            n += len(pdf)
        state.update((sk.to_bytes(), n))
        if ttl_ms is not None:
            _arm_eviction(state, key[0], window_ms, ttl_ms)
        yield pd.DataFrame({"window_start": [key[0]],
                            "estimate": [float(emit_fn(sk))],
                            "n_rows": [n]})

    timeout = (GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (hashed.groupBy("window_start")
            .applyInPandasWithState(update, _OUT_SCHEMA, _STATE_SCHEMA,
                                    "Update", timeout))


_TOPK_OUT_SCHEMA = StructType([
    StructField("window_start", TimestampType()),
    StructField("item", StringType()),
    StructField("count", LongType()),
    StructField("rank", LongType()),
    StructField("n_rows", LongType()),
])
_TOPK_STATE_SCHEMA = StructType([
    StructField("payload", BinaryType()),
    StructField("names", BinaryType()),
    StructField("n_rows", LongType()),
])


def topk_per_window(stream_df: DataFrame, time_col: str, col: str, *,
                    k: int = 5, capacity: int = 256,
                    window: str = "1 day", slide: str | None = None,
                    watermark: str = "1 day", seed: int = 0,
                    state_ttl: str | None = None) -> DataFrame:
    """Streaming heavy hitters: → (window_start, item, count, rank,
    n_rows), the top-k items of each event-time window, maintained by
    a Misra-Gries state blob per window (the streaming twin of
    operators/frequent.heavy_hitters — the north-star 'heavy-hitter
    counts' query shape under Structured Streaming).

    State per window is ONE capacity-bounded MG summary plus a
    hash→item name table for the ≤ capacity retained keys (an MG key
    can only (re)enter the summary in a batch where the item occurs,
    so every retained key always has a name recorded; names of evicted
    keys are pruned). When ``capacity`` exceeds the window's distinct
    item count MG never decrements, so the emitted counts are EXACT
    (full-strength SQL oracle); past that, counts are the documented
    lower bounds (true − n/(capacity+1) ≤ count ≤ true) and every item
    with true frequency > n/(capacity+1) is retained. Items are
    compared as strings for the deterministic (count desc, item asc)
    tie-break; 64-bit hash collisions between distinct items would
    conflate their names (~2⁻⁶⁴·pairs, negligible at any real k).

    ``slide`` / ``state_ttl`` (see ``sketch_per_window``): sliding
    windows keep one MG state per window_start; eviction flushes each
    window's final top-k rows once at window_end + ttl."""
    import json

    from ..kernels.misragries import MisraGriesSketch

    window_ms = _duration_ms(window)
    ttl_ms = None if state_ttl is None else _duration_ms(state_ttl)
    win = (F.window(F.col(time_col), window) if slide is None
           else F.window(F.col(time_col), window, slide))
    cols = [win.getField("start").alias("window_start"),
            _input_col(col, seed, False),
            F.col(col).cast("string").alias("__s")]
    if ttl_ms is not None:
        # see sketch_per_window: the watermarked attribute must survive
        cols.append(F.col(time_col).alias("__t"))
    hashed = (stream_df
              .withWatermark(time_col, watermark)
              .where(F.col(col).isNotNull())
              .select(*cols))

    def emit_top(key, sk, names, n) -> pd.DataFrame:
        top = sorted(((int(c), names[int(h)]) for h, c in
                      zip(sk.keys.astype(np.uint64), sk.counts)),
                     key=lambda t: (-t[0], t[1]))[:k]
        return pd.DataFrame({
            "window_start": [key[0]] * len(top),
            "item": [s for _, s in top],
            "count": [c for c, _ in top],
            "rank": np.arange(1, len(top) + 1, dtype=np.int64),
            "n_rows": [n] * len(top)})

    def load(state):
        payload, names_raw, n = state.get
        sk = sketch_from_bytes(bytes(payload))
        names = {int(h): s for h, s in
                 json.loads(bytes(names_raw).decode("utf-8"))}
        return sk, names, int(n)

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            sk, names, n = load(state)
            state.remove()
            yield emit_top(key, sk, names, n)
            return
        if state.exists:
            sk, names, n = load(state)
        else:
            sk, names, n = MisraGriesSketch(capacity), {}, 0
        for pdf in pdfs:
            h = _values(pdf["__v"], False)
            sk.update_hashes(h)
            n += len(pdf)
            retained = set(int(x) for x in sk.keys.astype(np.uint64))
            uh, first = np.unique(h.astype(np.uint64), return_index=True)
            batch_names = pdf["__s"].to_numpy()
            for hv, i in zip(uh, first):
                if int(hv) in retained:
                    names[int(hv)] = str(batch_names[i])
        retained = set(int(x) for x in sk.keys.astype(np.uint64))
        names = {h: s for h, s in names.items() if h in retained}
        state.update((sk.to_bytes(),
                      json.dumps(sorted(names.items())).encode("utf-8"),
                      n))
        if ttl_ms is not None:
            _arm_eviction(state, key[0], window_ms, ttl_ms)
        yield emit_top(key, sk, names, n)

    timeout = (GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (hashed.groupBy("window_start")
            .applyInPandasWithState(update, _TOPK_OUT_SCHEMA,
                                    _TOPK_STATE_SCHEMA, "Update",
                                    timeout))


def run_windowed_to_memory(windowed: DataFrame, query_name: str,
                           checkpoint_dir: str):
    """Start the windowed stream into a memory sink (availableNow) and
    wait; results are read back with spark.sql(f"SELECT * FROM name").
    NOTE: memory sinks cannot recover from a checkpoint — for
    restartable queries use run_windowed_foreach_batch."""
    q = (windowed.writeStream.format("memory").queryName(query_name)
         .outputMode("update")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def run_windowed_foreach_batch(windowed: DataFrame, sink,
                               checkpoint_dir: str):
    """Start the windowed stream through a foreachBatch sink callable
    ``sink(batch_df, batch_id)`` with checkpointed offsets+state —
    kill/restart resumes the per-window sketch state."""
    q = (windowed.writeStream.foreachBatch(sink)
         .outputMode("update")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q
