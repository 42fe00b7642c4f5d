"""IBF set reconciliation — diff two huge keyed tables without shuffling them.

The headline use of the invertible Bloom filter
(`kernels/invertible.py`, the published IBLT of Eppstein-Goodrich-
Uyeda-Varghese, SIGCOMM'11): two replicas of a 10^12-row keyed table
that differ in d keys can find the exact symmetric difference while
moving only O(d) sketch bytes — never the tables.

Plan (three stages, NO key-row shuffle anywhere):

1. ``build_ibf_shards``: one scan per side → each input partition
   builds a small per-shard partial IBF of its local key hashes
   (``mapInPandas``, zero shuffle) → ``groupBy(shard)`` merges the
   partials cellwise (the only shuffle, and it carries sketch bytes:
   P × overhead × d × 24 B total, independent of table size).
2. ``ibf_diff_shards``: full-outer join the two shard tables on shard
   id (≤ n_shards rows per side), subtract cellwise, peel each shard
   independently in parallel. A key only in the left peels with sign
   +1, only in the right with sign −1.
3. ``reconcile_keys``: join the recovered key hashes (≤ d rows,
   broadcast) back to each side to materialize the actual key values —
   Catalyst turns recovery into one more scan per side with a
   broadcast semi filter.

Sizing: an IBLT with k=3 decodes a d-item difference w.h.p. at
~1.3d cells; ``overhead`` (default 2.0) is the slack over the caller's
``diff_capacity`` bound. An undersized filter FAILS LOUDLY — undecoded
shards emit a sentinel row (``key_hash`` NULL, ``decoded`` false), and
``reconcile_keys(strict=True)`` raises — never a silently-partial diff.

Keys must be unique per side (they are table KEYS): a key with
multiplicity 2 XORs itself out of its cells and blocks the peel —
which the decoded flag then reports. For diffs too large to size
(d ~ table size), this is the wrong tool: diff by ``bloom_antijoin``
or a plain shuffle join instead.

At 100 TB: both tables scan once at full parallelism; the shard merge
moves P × n_shards sketch rows; the subtract/peel stage is n_shards
tasks over cell arrays; recovery broadcasts ≤ d hashes. Total network
traffic is megabytes where a join-based diff would shuffle terabytes.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.invertible import InvertibleBloomSketch
from ..kernels.base import GroupedSketchFold, sketch_from_bytes
from .agg import _PARTIAL_SCHEMA, _grouped_partials, fold_payloads, hash_col

_SHARD_SCHEMA = "shard int, payload binary, n_rows long, n_shards int"
_DIFF_SCHEMA = "shard int, key_hash long, sign int, decoded boolean"


def build_ibf_shards(df: DataFrame, col: str, n_shards: int,
                     cells_per_shard: int, *, k: int = 3,
                     seed: int = 0, merge_salts: int = 0) -> DataFrame:
    """→ DataFrame(shard, payload, n_rows, n_shards): one IBF per
    hash-range shard, built partial-first (key rows never shuffle).

    With P input partitions the shard merge folds ≤ P partials per
    shard in one task; at very large P pass ``merge_salts`` ≈ √P to
    insert a salted intermediate merge level (two-level tree, the
    same guard as build_grouped_sketches). IBF merge is cellwise
    add/xor — fully associative AND commutative — so the result is
    byte-identical whatever the tree shape (tested)."""
    m, kk, ns = int(cells_per_shard), int(k), int(n_shards)
    hashed = (df.where(F.col(col).isNotNull())
              .select(hash_col(F.col(col), seed).alias("__v"),
                      F.pmod(hash_col(F.col(col), seed + 1),
                             F.lit(ns)).cast("int").alias("shard")))
    fold = lambda: GroupedSketchFold(lambda: InvertibleBloomSketch(m, kk))

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        sk, _ = fold_payloads(list(pdf["payload"]))
        return pd.DataFrame({"shard": pdf["shard"].iloc[:1],
                             "payload": [sk.to_bytes()],
                             "n_rows": [sk.n_inserted],
                             "n_shards": np.int32(ns)})

    parts = hashed.mapInPandas(_grouped_partials(["shard"], fold, False),
                               schema="shard int, " + _PARTIAL_SCHEMA)
    if merge_salts > 1:
        def merge_salted(pdf: pd.DataFrame) -> pd.DataFrame:
            return merge_shard(pdf.drop(columns=["__salt"]))
        parts = (parts
                 .withColumn("__salt",
                             F.pmod(F.xxhash64(F.col("payload")),
                                    F.lit(merge_salts)).cast("int"))
                 .groupby("shard", "__salt")
                 .applyInPandas(merge_salted, schema=_SHARD_SCHEMA)
                 .drop("n_shards"))
    return parts.groupby("shard").applyInPandas(merge_shard,
                                               schema=_SHARD_SCHEMA)


def ibf_diff_shards(left_shards: DataFrame,
                    right_shards: DataFrame) -> DataFrame:
    """→ DataFrame(shard, key_hash, sign, decoded): the peeled
    symmetric difference, sign +1 = left-only, −1 = right-only.

    Shards absent on one side subtract against the zero IBF (an empty
    replica slice is just "all its keys differ"). A shard whose
    residual does not peel to zero emits ONE sentinel row with
    ``key_hash`` NULL and ``decoded`` false — detection is part of the
    result, not a silent truncation."""
    joined = (left_shards.select(F.col("shard"),
                                 F.col("payload").alias("lp"))
              .join(right_shards.select(F.col("shard"),
                                        F.col("payload").alias("rp")),
                    on="shard", how="full_outer"))

    def peel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                lsk = (sketch_from_bytes(bytes(row["lp"]))
                       if row["lp"] is not None else None)
                rsk = (sketch_from_bytes(bytes(row["rp"]))
                       if row["rp"] is not None else None)
                if lsk is None and rsk is None:
                    continue
                if lsk is None:
                    lsk = InvertibleBloomSketch(rsk.m, rsk.k)
                if rsk is None:
                    rsk = InvertibleBloomSketch(lsk.m, lsk.k)
                keys, signs, decoded = lsk.subtract(rsk).peel()
                shard = int(row["shard"])
                if not decoded and keys.size == 0:
                    yield pd.DataFrame({"shard": [shard],
                                        "key_hash": [None],
                                        "sign": [0],
                                        "decoded": [False]})
                    continue
                out = pd.DataFrame({
                    "shard": np.full(keys.size, shard, dtype=np.int32),
                    "key_hash": keys.view(np.int64),
                    "sign": signs.astype(np.int32),
                    "decoded": np.full(keys.size, decoded)})
                if not decoded:
                    out = pd.concat([out, pd.DataFrame(
                        {"shard": [shard], "key_hash": [None],
                         "sign": [0], "decoded": [False]})])
                yield out

    return joined.mapInPandas(peel, schema=_DIFF_SCHEMA)


def reconcile_keys(left: DataFrame, right: DataFrame, col: str, *,
                   diff_capacity: int = 4096, n_shards: int = 32,
                   k: int = 3, overhead: float = 2.0, seed: int = 0,
                   strict: bool = True) -> DataFrame:
    """→ DataFrame(col, side): keys present in exactly one table,
    ``side`` ∈ {'left_only', 'right_only'}.

    ``diff_capacity`` is the caller's upper bound on the symmetric
    difference size (NOT the table size — sketch cost is
    O(diff_capacity), which is the whole point). The peeled diff is
    ≤ diff_capacity rows BY DESIGN, so it is collected once to the
    driver (one job) and re-broadcast as a literal table — the two
    recovery joins then each cost a single scan with a broadcast semi
    filter instead of recomputing the sketch lineage. ``strict=True``
    raises if any shard failed to decode (the bound was too small);
    ``strict=False`` returns the possibly-partial diff (keys peeled
    before a shard stalled are genuine diff members — the recovery is
    then incomplete, never wrong)."""
    # The asymptotic k=3 peel threshold (~1.22 cells/item) only holds
    # for large filters; tiny IBLTs stall on small structures (two keys
    # drawing identical cell triples, etc.) with probability ~1/m², so
    # the per-shard floor is 64 cells (1.5 KB) — negligible cost, and
    # it pushes the small-diff failure probability below ~1e-4.
    cells = max(64, math.ceil(overhead * diff_capacity / n_shards))
    lsh = build_ibf_shards(left, col, n_shards, cells, k=k, seed=seed)
    rsh = build_ibf_shards(right, col, n_shards, cells, k=k, seed=seed)
    rows = ibf_diff_shards(lsh, rsh).collect()
    if strict and any(not r["decoded"] for r in rows):
        raise ValueError(
            "reconcile_keys: some shards did not decode — the real "
            f"difference exceeds diff_capacity={diff_capacity} "
            "(raise it, or raise overhead/n_shards)")
    spark = left.sparkSession
    wanted = spark.createDataFrame(
        [(int(r["key_hash"]), int(r["sign"])) for r in rows
         if r["key_hash"] is not None],
        "key_hash long, sign int")

    def recover(src: DataFrame, sign: int, side: str) -> DataFrame:
        return (src.select(col)
                .withColumn("__h", hash_col(F.col(col), seed))
                .join(F.broadcast(wanted.where(F.col("sign") == sign)
                                  .select("key_hash")),
                      F.col("__h") == F.col("key_hash"), "left_semi")
                .drop("__h")
                .withColumn("side", F.lit(side)))

    return recover(left, 1, "left_only").unionByName(
        recover(right, -1, "right_only"))


def reconcile_rows(left: DataFrame, right: DataFrame, key_col: str,
                   value_cols: list[str], *, diff_capacity: int = 4096,
                   n_shards: int = 32, k: int = 3, overhead: float = 2.0,
                   seed: int = 0, strict: bool = True) -> DataFrame:
    """→ DataFrame(key_col, status): version-aware table diff,
    ``status`` ∈ {'left_only', 'right_only', 'changed'}.

    ``reconcile_keys`` sees only key presence; replicas that hold the
    same keys with DIVERGED values look identical to it. This variant
    sketches the full ROW identity — ``xxhash64(key, value_cols...)``
    computed JVM-side — so an updated key contributes two diff items
    (its old row hash right-only, its new row hash left-only) and is
    classified ``changed`` when both sides recover it. Everything else
    is inherited: one scan per side, O(d) sketch bytes on the wire
    (``diff_capacity`` must bound keys-added + keys-removed +
    2 × keys-changed), loud failure on undecoded shards, recovery via
    broadcast semi joins (the recovered-hash set is ≤ d rows).

    Value comparison is by hash, i.e. exact up to xxhash64 collisions
    (~2⁻⁶⁴ per differing pair) — the standard row-checksum contract of
    table-diff tools. Spark's xxhash64 SKIPS null children (a NULL
    input leaves the running hash untouched), so a bare
    ``xxhash64(key, v1, v2)`` would hash ``(42, NULL)`` and
    ``(NULL, 42)`` identically and miss column-shift corruption; each
    value column therefore contributes an explicit is-null flag ahead
    of its value, making the fold null-discriminating."""
    rh = F.xxhash64(
        F.col(key_col),
        *[e for c in value_cols
          for e in (F.isnull(F.col(c)).cast("int"), F.col(c))],
        F.lit(seed))

    cells = max(64, math.ceil(overhead * diff_capacity / n_shards))
    lsh = build_ibf_shards(left.select(rh.alias("__row")), "__row",
                           n_shards, cells, k=k, seed=seed)
    rsh = build_ibf_shards(right.select(rh.alias("__row")), "__row",
                           n_shards, cells, k=k, seed=seed)
    rows = ibf_diff_shards(lsh, rsh).collect()
    if strict and any(not r["decoded"] for r in rows):
        raise ValueError(
            "reconcile_rows: some shards did not decode — the real "
            f"difference exceeds diff_capacity={diff_capacity} "
            "(note a changed key counts twice; raise the bound, "
            "overhead, or n_shards)")
    spark = left.sparkSession
    wanted = spark.createDataFrame(
        [(int(r["key_hash"]), int(r["sign"])) for r in rows
         if r["key_hash"] is not None],
        "key_hash long, sign int")

    def hits(src: DataFrame, sign: int, out: str) -> DataFrame:
        # __row is hashed through hash_col again inside
        # build_ibf_shards, so the recovery join must apply the same
        # composition to match the peeled hashes
        return (src.select(F.col(key_col),
                           hash_col(rh, seed).alias("__h"))
                .join(F.broadcast(wanted.where(F.col("sign") == sign)
                                  .select("key_hash")),
                      F.col("__h") == F.col("key_hash"), "left_semi")
                .select(F.col(key_col).alias(out)))

    lk = hits(left, 1, "__lk")       # new-version keys (changed ∪ added)
    rk = hits(right, -1, "__rk")     # old-version keys (changed ∪ removed)
    joined = lk.join(rk, lk["__lk"] == rk["__rk"], "full_outer")
    return joined.select(
        F.coalesce(F.col("__lk"), F.col("__rk")).alias(key_col),
        F.when(F.col("__lk").isNotNull() & F.col("__rk").isNotNull(),
               F.lit("changed"))
        .when(F.col("__lk").isNotNull(), F.lit("left_only"))
        .otherwise(F.lit("right_only")).alias("status"))
