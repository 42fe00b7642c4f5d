"""Sharded Bloom filter — the seen-before design that survives 10^12 keys.

A single Bloom over 10^12 urls at p=0.01 is ~1.2 TB of bits: it cannot
be broadcast, merged on one driver, or even held by one executor. The
scale design (BENCH/BASELINE.md) shards the key space BY HASH RANGE:

  shard(key) = pmod(xxhash64(key), n_shards)

so each shard is an independent, normally-sized Bloom filter over its
slice of the key space, and the collection is a DataFrame
``(shard int, payload binary, n_rows long, n_shards int)`` — a
first-class table that can be written/read as parquet/Iceberg,
incrementally rebuilt per shard, and probed with a co-partitioned
cogroup instead of a broadcast. ``n_shards`` (the hash modulus) is
CARRIED IN THE TABLE, never inferred from max(shard)+1: an empty top
shard would shrink the inferred modulus, silently mis-route every
probe, and break the no-false-negative contract.

Build plan: one scan → repartition by shard (the ONLY shuffle of key
hashes; each reducer builds exactly one shard's filter from a
contiguous hash range) → the grouped map body folds each shard whole
into its one row (no merge stage).
Probe plan: hash incoming keys JVM-side → cogroup probes with shard
payloads on (shard, salt) → vectorized numpy probe per group. Each
payload crosses the JVM→Python Arrow boundary ONCE PER GROUP (at most
n_shards × n_salts times total, independent of probe row count) —
never once per probe row. No filter ever exceeds shard-sized memory
anywhere.

The per-shard sketch is any membership sketch following the aggregator
protocol (Bloom by default; CountingBloom or Cuckoo for deletable
shards — cuckoo trades the counting shard's ~9.6 bytes/key for
~2-4 bytes/key of fingerprint state).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels import (BloomSketch, CountingBloomSketch, CuckooFilter,
                       sketch_from_bytes)
from ..kernels.bloom import optimal_k, optimal_m
from ..kernels.base import GroupedSketchFold
from .agg import (_PARTIAL_SCHEMA, _grouped_partials, _keyed_payload_schema,
                  hash_col)

_SHARD_SCHEMA = "shard int, payload binary, n_rows long, n_shards int"


def counting_shard_factory(p: float = 0.01):
    """Per-shard COUNTING Bloom factory for ``build_sharded`` —
    deletable shards (see ``remove_sharded``), sized exactly like the
    plain-Bloom default from the observed per-shard key count."""
    def make(cap: int) -> CountingBloomSketch:
        m = optimal_m(max(1024, cap), p)
        return CountingBloomSketch(m, optimal_k(m, max(1024, cap)))
    return make


def cuckoo_shard_factory(headroom: float = 1.3):
    """Per-shard CUCKOO filter factory for ``build_sharded`` —
    deletable shards at ~2-4 bytes/key (a counting-Bloom shard at
    p=0.01 carries ~9.6 byte-counters/key: cuckoo delete state is
    ~3-5x smaller), reference semantics (insert/exists/remove,
    CuckooFilter.hpp K11-K13) at shard scale via the same cogroup
    probe/remove plans.

    Feed DISTINCT keys: duplicate inserts occupy extra slots and can
    exceed the kick bound (the kernel raises rather than silently
    dropping — no false negatives, ever). ``headroom`` over-provisions
    buckets beyond the observed per-shard count so the random-walk
    insert stays comfortably below the bound (pow2 bucket rounding
    usually adds more). Cuckoo remove is exact-by-fingerprint: remove
    only keys that were inserted (standard cuckoo contract,
    matching the reference's remove)."""
    def make(cap: int) -> CuckooFilter:
        return CuckooFilter(capacity=int(max(1024, cap) * headroom))
    return make


class _ExactSized:
    """Exact-sizing stand-in shard sketch: buffers the shard's hashes in
    ``update_hashes`` and builds ``factory(n)`` once, in ``to_bytes``."""

    __slots__ = ("_factory", "_chunks")

    def __init__(self, factory: Callable):
        self._factory, self._chunks = factory, []

    def update_hashes(self, h: np.ndarray) -> None:
        self._chunks.append(h)

    def to_bytes(self) -> bytes:
        h = np.concatenate(self._chunks)
        sk = self._factory(h.size)
        sk.update_hashes(h)
        return sk.to_bytes()


def shard_count(shards_df: DataFrame) -> int:
    """The hash modulus recorded in a shard table (one tiny action).

    Reads the ``n_shards`` column ``build_sharded`` wrote — NOT
    max(shard)+1, which under-counts whenever the top hash range
    happened to receive no keys and then mis-routes every probe."""
    row = shards_df.select("n_shards").first()
    if row is None:
        raise ValueError("empty shard table: build_sharded never ran")
    return int(row["n_shards"])


def build_sharded(df: DataFrame, col: str, n_shards: int, *,
                  factory: Callable | None = None, p: float = 0.01,
                  seed: int = 0,
                  capacity_per_shard: int | None = None) -> DataFrame:
    """→ DataFrame(shard, payload, n_rows, n_shards): one membership
    sketch per hash-range shard.

    ``factory(capacity)`` builds the per-shard sketch; the default is
    ``BloomSketch.from_capacity(capacity, p)`` where capacity is the
    observed per-shard row count (keys of one shard are seen whole by
    construction, so exact sizing needs no estimation pass). Shards
    that received no keys emit no row — consumers read the modulus
    from the ``n_shards`` column, so an empty shard is just an absent
    payload (probe → not seen), never a mis-sized modulus.

    Memory: the exact-sizing default BUFFERS each shard's 8-byte key
    hashes in the worker before the build (it must see the count
    first) — fine into the billions of keys per shard, not at the
    10¹²-key design point (125 GB/shard at 64 shards). For that scale
    pass ``capacity_per_shard``: the sketch is created up front at
    that capacity and updated batch-by-batch, so the worker holds only
    the filters plus ONE Arrow batch regardless of shard size."""
    if factory is None:
        factory = lambda cap: BloomSketch.from_capacity(max(1024, cap), p)

    hashed = (df.where(F.col(col).isNotNull())
              .select(hash_col(F.col(col), seed).alias("__v"))
              .withColumn("shard", F.pmod(F.col("__v"),
                                          F.lit(n_shards)).cast("int"))
              .repartition(n_shards, "shard"))
    # a partition holds >=1 whole shards (never a partial shard)
    if capacity_per_shard is None:
        new = lambda: _ExactSized(factory)
    else:
        cap = int(capacity_per_shard)
        new = lambda: factory(cap)
    fold = lambda: GroupedSketchFold(new)
    return (hashed.mapInPandas(_grouped_partials(["shard"], fold, False),
                               schema="shard int, " + _PARTIAL_SCHEMA)
            .withColumn("n_shards", F.lit(n_shards).cast("int")))


def remove_sharded(df: DataFrame, col: str, shards_df: DataFrame, *,
                   seed: int = 0) -> DataFrame:
    """→ a NEW shard table with ``df``'s keys removed (decremented).

    Requires deletable shards (``counting_shard_factory`` or
    ``cuckoo_shard_factory``): plain Bloom shards cannot delete. Plan: hash + shard the removal keys,
    COGROUP them with the shard payloads on shard id (one shuffle of
    the removal hashes — the analogue of the build shuffle), decrement
    per shard in one numpy pass. Removal hashes stream into the group
    as ordinary Arrow rows — never a collect_list single-cell array,
    which at 10⁹ removals per shard would be an 8 GB column value
    (over Spark's 2 GB limit and a one-reducer memory bomb). Shards
    without removals pass through untouched; a group's transient
    memory is its own removal count (split giant removal feeds into
    multiple remove_sharded passes if one shard's removals outgrow
    executor memory).

    CALLER CONTRACT (multiset): a key inserted c times may appear up
    to c times across removal feeds. Removal instances BEYOND a key's
    insert count over-remove at the configured fp rate (the per-wave
    membership re-check can false-positive), which corrupts counters
    shared with other keys — so if an at-least-once upstream can
    duplicate removal rows for singly-inserted keys, ``.distinct()``
    the feed per batch (as the oracle query does). Within-contract
    sequences are fuzz-verified FN-free (NOTES_r5)."""
    n_shards = shard_count(shards_df)
    rem = (df.where(F.col(col).isNotNull())
           .select(hash_col(F.col(col), seed).alias("__h"))
           .withColumn("shard", F.pmod(F.col("__h"),
                                       F.lit(n_shards)).cast("int")))

    def apply(shard_pdf: pd.DataFrame, rem_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(shard_pdf):        # removals for an empty shard: no-op
            return pd.DataFrame({"shard": [], "payload": [], "n_rows": [],
                                 "n_shards": []}).astype(
                {"shard": "int32", "n_rows": "int64", "n_shards": "int32"})
        sk = sketch_from_bytes(bytes(shard_pdf["payload"].iloc[0]))
        removed = 0
        if len(rem_pdf):
            # membership pre-check: deleting a never-inserted key from
            # a counting filter decrements counters SHARED with real
            # members (a false-negative factory) and corrupts n_rows.
            # contains_hashes has no false negatives, so members always
            # pass; non-members slip through only at the configured fp
            # rate. The check must hold PER REMOVAL INSTANCE, not per
            # batch: a key inserted once but appearing twice in one
            # removal feed would pass a single whole-batch pre-check
            # twice and certainly corrupt shared counters. So duplicates
            # are removed in waves — one instance per distinct hash per
            # wave, membership re-checked against the already-decremented
            # state before each wave — keeping multiset semantics (a key
            # inserted c times removes up to c times) while bounding
            # over-removal by fpp, as documented.
            uniq, counts = np.unique(
                rem_pdf["__h"].to_numpy(dtype=np.int64), return_counts=True)
            while uniq.size:
                present = sk.contains_hashes(uniq)
                batch = uniq[present]
                if not batch.size:
                    break
                res = sk.remove_hashes(batch)
                # cuckoo additionally reports per-item success (a
                # colliding fingerprint may still be absent); counting
                # removes all pre-checked hashes
                removed += int(np.sum(res)) if res is not None else batch.size
                # absent keys stay absent (state only shrinks): drop them
                counts = counts - 1
                keep = present & (counts > 0)
                uniq, counts = uniq[keep], counts[keep]
        return pd.DataFrame({
            "shard": shard_pdf["shard"].iloc[:1],
            "payload": [sk.to_bytes()],
            "n_rows": [int(shard_pdf["n_rows"].iloc[0]) - removed],
            "n_shards": shard_pdf["n_shards"].iloc[:1]})

    return (shards_df.groupby("shard")
            .cogroup(rem.groupby("shard"))
            .applyInPandas(apply, schema=_SHARD_SCHEMA))


def probe_sharded(df: DataFrame, col: str, shards_df: DataFrame, *,
                  seed: int = 0, out_col: str = "seen",
                  n_salts: int = 8) -> DataFrame:
    """Membership probe against a sharded filter table.

    Plan: JVM hash + shard id + salt → COGROUP with the shard payloads
    on (shard, salt) → vectorized numpy probe per group. The payload
    side is exploded once per salt, so each shard's filter bytes cross
    the Arrow boundary at most ``n_shards × n_salts`` times TOTAL —
    independent of probe row count (a per-row payload join would carry
    rows × payload bytes: at 36 MB shards and 10k-row batches that is
    ~360 GB of duplicated transfer). The salt bounds group
    materialization: one group holds ~rows/(n_shards·n_salts) probe
    rows, so raise ``n_salts`` for very probe-heavy jobs. The full
    filter is never assembled in one place."""
    n_shards = shard_count(shards_df)
    hashed = (df.withColumn("__h", hash_col(F.col(col), seed))
              .withColumn("__shard",
                          F.pmod(F.col("__h"),
                                 F.lit(n_shards)).cast("int"))
              .withColumn("__salt",
                          F.pmod(F.xxhash64(F.col("__h"), F.lit(seed + 1)),
                                 F.lit(n_salts)).cast("int")))
    # payload replicated once per salt (n_salts copies total per shard)
    salted_shards = (shards_df
                     .select(F.col("shard").alias("__shard"), "payload",
                             F.explode(F.sequence(
                                 F.lit(0), F.lit(n_salts - 1)))
                             .alias("__salt"))
                     .withColumn("__salt", F.col("__salt").cast("int")))
    schema = _keyed_payload_schema(df, df.columns, f"{out_col} boolean")
    drop_cols = ["__h", "__shard", "__salt"]

    def probe(probe_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(probe_pdf):
            return probe_pdf.drop(columns=drop_cols).assign(
                **{out_col: pd.Series([], dtype=bool)})
        if len(shard_pdf):
            sk = sketch_from_bytes(bytes(shard_pdf["payload"].iloc[0]))
            h = probe_pdf["__h"].to_numpy(dtype=np.int64)
            res = sk.contains_hashes(h)
        else:                     # no filter for this shard: nothing seen
            res = np.zeros(len(probe_pdf), dtype=bool)
        out = probe_pdf.drop(columns=drop_cols)
        out[out_col] = res
        return out

    return (hashed.groupby("__shard", "__salt")
            .cogroup(salted_shards.groupby("__shard", "__salt"))
            .applyInPandas(probe, schema=schema))
