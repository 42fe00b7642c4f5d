"""Streaming seen-before dedup guard over a persistent sharded filter.

The production shape of online url dedup at crawl scale: a parquet
(Iceberg-shaped) table of hash-range Bloom shards is the durable
state; each micro-batch is

  0. key-DEDUPED within itself (one arbitrary representative row per
     key — a crawl batch can carry the same url many times, and the
     shard probe only sees PREVIOUS batches' state);
  1. PROBED against the current shard table (co-partitioned join +
     vectorized numpy probe — ``operators.sharded.probe_sharded``);
  2. rows whose key probes absent are DEFINITELY new (no false
     negatives) and are emitted to the sink;
  3. the new keys are folded into the shard table (per-shard Bloom
     OR-merge), written atomically as the next version directory.

False-positive hits drop ~p of genuinely-new rows (the standard Bloom
dedup trade, bounded by the configured p); false negatives never
happen, so no duplicate whose key was recorded is ever re-emitted.
State is versioned (``v000001, v000002, ...``): a killed stream
restarts from the last complete version — together with Structured
Streaming's checkpointed batch replay this gives at-least-once state
updates, and re-merging a replayed batch is IDEMPOTENT (Bloom OR).

The reference has no streaming; this extends its seen-before theme
(Bloom_project/src/core/Bloom_project.cpp:3689-3696 probes) to the
north-star pipeline shape.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..kernels import BloomSketch
from ..operators.agg import _merge_keyed, estimate_grouped
from ..operators.sharded import build_sharded, probe_sharded


class StreamingShardedDedup:
    """foreachBatch sink: emit never-seen rows, grow the shard table.

    ``emit`` receives (new_rows_df, batch_id) for every micro-batch —
    write them wherever the pipeline needs (parquet append, kafka, ...).
    """

    def __init__(self, spark, col: str, state_dir: str, *,
                 n_shards: int = 64, p: float = 0.01,
                 shard_capacity: int = 100_000, seed: int = 0,
                 emit: Callable[[DataFrame, int], None] | None = None,
                 max_fpr: float | None = None):
        self.spark = spark
        self.col = col
        self.state_dir = state_dir
        self.n_shards = n_shards
        self.p = p
        self.shard_capacity = shard_capacity
        self.seed = seed
        self.emit = emit
        self.n_emitted = 0
        self.n_suppressed = 0
        # SATURATION GUARD: the per-shard capacity is fixed (OR-merge
        # needs identical (m, k) across versions), so a stream that
        # outgrows it would silently drop ever more genuinely-new rows
        # as the fill ratio climbs. After each version write the worst
        # shard's realized FPR ((bits_set/m)^k) is checked against
        # max_fpr (default 10×p) and the stream FAILS LOUDLY with
        # rebuild guidance instead. Pass float("inf") to disable.
        self.max_fpr = (10.0 * p) if max_fpr is None else float(max_fpr)
        self.last_worst_fpr = 0.0
        os.makedirs(state_dir, exist_ok=True)

    # -- versioned state ---------------------------------------------------
    def _versions(self) -> list[str]:
        # numeric sort: zero-padding covers 6 digits, but a stream is
        # allowed to outlive v999999 — lexicographic order would then
        # pick a stale "latest" and collide on the next write
        return sorted((d for d in os.listdir(self.state_dir)
                       if d.startswith("v") and not d.endswith(".tmp")),
                      key=lambda d: int(d[1:]))

    def current_shards(self) -> DataFrame | None:
        vs = self._versions()
        if not vs:
            return None
        return self.spark.read.parquet(
            os.path.join(self.state_dir, vs[-1]))

    def _write_version(self, shards: DataFrame) -> None:
        # max+1, not count+1: versions grow one full shard-table copy
        # per batch, so operators WILL prune old ones — a count-derived
        # name would then collide with a surviving directory and
        # os.replace onto a non-empty dir kills the stream
        vs = self._versions()
        nxt = f"v{(int(vs[-1][1:]) if vs else 0) + 1:06d}"
        tmp = os.path.join(self.state_dir, nxt + ".tmp")
        shards.write.mode("overwrite").parquet(tmp)
        os.replace(tmp, os.path.join(self.state_dir, nxt))

    # -- batch fold --------------------------------------------------------
    def _factory(self):
        # fixed per-shard capacity: shard filters must stay OR-mergeable
        # across batches, so every version uses identical (m, k).
        # Returned as a detached closure — a bound method would drag
        # ``self`` (and its SparkSession) into worker pickles.
        floor, p = max(self.shard_capacity, 1024), self.p
        return lambda cap: BloomSketch.from_capacity(floor, p)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        raw = batch_df.where(F.col(self.col).isNotNull()).cache()
        n_raw = raw.count()
        # WITHIN-batch key dedup too: the guard's contract is "no key
        # is ever emitted twice", and a crawl micro-batch can carry
        # the same url many times (recrawl bursts, redirect fan-in) —
        # the sharded probe alone only sees PREVIOUS batches' state.
        # One arbitrary representative row per key is kept (exactly
        # the keep-any semantics of the batch dedup operator).
        batch_df = raw.dropDuplicates([self.col]).cache()
        shards = self.current_shards()
        if shards is None:
            new_rows = batch_df
        else:
            probed = probe_sharded(batch_df, self.col, shards,
                                   seed=self.seed, out_col="__seen")
            new_rows = probed.where(~F.col("__seen")).drop("__seen").cache()
        n_new = new_rows.count()
        self.n_emitted += n_new
        self.n_suppressed += n_raw - n_new
        if self.emit is not None and n_new:
            self.emit(new_rows, batch_id)
        if n_new:
            # capacity_per_shard → the streaming build path: the worker
            # holds the fixed-(m,k) filters plus one Arrow batch, never
            # a whole shard's buffered hashes
            delta = build_sharded(new_rows, self.col, self.n_shards,
                                  factory=self._factory(), seed=self.seed,
                                  capacity_per_shard=self.shard_capacity)
            merged = self._merge_shards(shards, delta)
            self._write_version(merged)
            self._check_saturation()
        # unpersist BOTH caches: a long-running stream that leaks one
        # cached DataFrame per micro-batch eventually evicts useful
        # blocks / OOMs the storage pool
        if new_rows is not batch_df:
            new_rows.unpersist()
        batch_df.unpersist()
        raw.unpersist()

    def _check_saturation(self) -> float:
        """Worst shard's realized FPR over the just-written version —
        one tiny job over n_shards rows, reading the durable state (no
        recompute of the merge). Raises past ``max_fpr``."""
        shards = self.current_shards()
        if shards is None:
            return 0.0

        worst = estimate_grouped(shards, "expected_fpr", "__fpr").agg(
            F.max("__fpr")).first()[0] or 0.0
        self.last_worst_fpr = float(worst)
        if worst > self.max_fpr:
            raise RuntimeError(
                f"sharded dedup state saturated: worst shard realized "
                f"FPR {worst:.4f} > max_fpr {self.max_fpr:.4f} "
                f"(configured p={self.p}). The fixed shard_capacity="
                f"{self.shard_capacity} has been outgrown, so genuinely "
                "new rows would be dropped beyond the documented bound. "
                "Rebuild the state with a larger shard_capacity or more "
                "shards (or raise max_fpr to accept the degradation).")
        return float(worst)

    def _merge_shards(self, shards: DataFrame | None,
                      delta: DataFrame) -> DataFrame:
        if shards is None:
            return delta
        # NOTE: under at-least-once batch replay n_rows is an UPPER
        # BOUND (a replayed batch re-counts), while the Bloom OR itself
        # is idempotent — membership answers are unaffected.
        return (_merge_keyed(shards.unionByName(delta), ["shard", "n_shards"])
                .select("shard", "payload", "n_rows", "n_shards"))


def run_stream_dedup(stream_df: DataFrame, guard: StreamingShardedDedup,
                     checkpoint_dir: str | None = None):
    """Start (availableNow) a deduplicating stream and wait."""
    writer = stream_df.writeStream.foreachBatch(guard)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
