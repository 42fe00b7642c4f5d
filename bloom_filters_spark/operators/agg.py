"""Spark aggregation layer: per-partition partial sketches → tree merge.

This is the distributed reshaping of the reference's mutex-guarded
shared-filter ingest (Bloom_project/src/core/Bloom_project.cpp:3910-3933,
:71-84 — 5 threads serialized on one lock): each partition builds its own
partial sketch inside ``mapInPandas`` (Arrow batches, numpy kernels —
never per-row Python), partials are tree-merged, and the final sketch is
a single small object. Data is **never shuffled** — only KB-sized
partials move, so host-level skew in the data cannot pin a reducer.

Two paths:
- map-side combine (default): per-partition dict of per-group sketches →
  shuffle only partials → one batched keyed reduce (``_merge_keyed``:
  one Python call per Arrow batch, never one per group). Its optional
  salt level caps any one reducer's fan-in (two-level tree merge per
  north_rule).
- probe: broadcast the serialized sketch once, probe with a vectorized
  pandas UDF over a JVM-computed xxhash64 column.

Every sketch→column pandas UDF in the package goes through one of two
helpers: ``_broadcast_hash_udf`` (one broadcast sketch applied to a
hashed key column: membership, CMS / Misra-Gries lookups) and
``_payload_udf`` (a function of each row's own ``payload``: per-group
estimates and quantiles, shard FPRs, per-file Bloom sieves). How a
sketch reaches a worker and where its decode is cached is decided here
and nowhere else.

Scale notes (the 100 TB design point):
- partials per global sketch = #partitions (100k tasks × ~16 KB HLL
  = 1.6 GB of partials) → the fan-in-bounded tree merge keeps every
  merge task at ``fanin`` inputs regardless of partition count;
- the base hash is computed JVM-side (whole-stage codegen) so the
  Python boundary carries one int64 column, not strings;
- column pruning: we ``select`` only the hashed/value column before the
  UDF, so the parquet scan reads just the sketched columns.
"""

from __future__ import annotations

import math
from collections import OrderedDict
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels import sketch_from_bytes
from ..kernels.base import GroupedFold, GroupedSketchFold
from ..kernels.hll import HLLSketch

_PARTIAL_SCHEMA = "payload binary, n_rows long"

# xxhash64 default seed constant kept explicit: different logical hash
# families are derived by hashing the tuple (col, lit(seed)).
def hash_col(col, seed: int = 0):
    """JVM-side 64-bit hash column (whole-stage codegen'd)."""
    return F.xxhash64(col, F.lit(seed))


def _keyed_payload_schema(df: DataFrame, key_cols,
                          tail: str = _PARTIAL_SCHEMA) -> str:
    """Output DDL for (key_cols..., tail) with each key column in its
    NATIVE Spark type via ``df.schema`` ``simpleString`` (the same
    derivation as skipping._index_schema) — ``df.dtypes``'s rendering
    can diverge from DDL for nested/exotic types."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join([*(f"`{g}` {types[g]}" for g in key_cols), tail])


# --------------------------------------------------------------------------
# the sketch input: one column projection, one batch feed
# --------------------------------------------------------------------------

def _input_col(col: str, seed: int, value_based: bool):
    """THE ``__v`` column every sketch build feeds on: the value cast to
    double for value sketches (KLL / t-digest), else its JVM xxhash64."""
    c = F.col(col)
    return (c.cast("double") if value_based
            else hash_col(c, seed)).alias("__v")


def _values(v: pd.Series, value_based: bool) -> np.ndarray:
    """One Arrow batch of ``__v`` → the numpy array a sketch update takes."""
    if value_based:
        return v.to_numpy(dtype=np.float64, na_value=np.nan)
    return v.to_numpy(dtype=np.int64, na_value=0)


def _feed(sk, v: pd.Series, value_based: bool) -> None:
    """THE batch feed: fold one batch of ``__v`` into ``sk``."""
    update = sk.update_values if value_based else sk.update_hashes
    update(_values(v, value_based))


def salted_repartition(df: DataFrame, key, num_partitions: int,
                       salts: int = 8, seed: int = 7,
                       salt_from=None) -> DataFrame:
    """Explicit skew-defeating repartition: partition by (key, salt) so a
    single hot key (e.g. one huge host) spreads over ``salts`` partitions.
    north_rule: 'explicit salted-key repartitioning'.

    The salt must vary WITHIN a key, so it is derived from a row-unique
    column when one is given (deterministic), else from F.rand(seed)
    (deterministic per plan, not content-addressed)."""
    if salt_from is not None:
        salt = F.pmod(F.xxhash64(salt_from, F.lit(seed)), F.lit(salts))
    else:
        salt = (F.rand(seed) * salts).cast("int")
    return df.repartition(num_partitions, key, salt)


# --------------------------------------------------------------------------
# global (ungrouped) sketch build
# --------------------------------------------------------------------------

def _partial_builder(factory: Callable, value_based: bool):
    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = factory()
        n = 0
        for pdf in batches:
            _feed(sk, pdf["__v"], value_based)
            n += len(pdf)
        yield pd.DataFrame({"payload": [sk.to_bytes()], "n_rows": [n]})
    return build


def fold_payloads(payloads, counts=None):
    """Left-to-right merge of serialized sketch payloads → (sketch, n).

    THE payload fold of the ungrouped merges (``build_sketch``'s tree
    levels and driver fold, ``query_rollup``, ``SketchCheckpoint.resume``)
    — one definition so a fix to the fold semantics lands everywhere;
    keyed folds go through ``_merge_keyed``. Left-to-right order is
    part of the contract: ordered folds keep the byte-identity
    guarantees the resume/merge tests pin."""
    sk, n = None, 0
    for i, payload in enumerate(payloads):
        part = sketch_from_bytes(bytes(payload))
        sk = part if sk is None else sk.merge(part)
        if counts is not None:
            n += int(counts[i])
    return sk, n


def _merge_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    sk, n = None, 0
    for pdf in batches:
        part, pn = fold_payloads(list(pdf["payload"]),
                                 list(pdf["n_rows"]))
        if part is not None:
            sk = part if sk is None else sk.merge(part)
            n += pn
    if sk is not None:
        yield pd.DataFrame({"payload": [sk.to_bytes()], "n_rows": [n]})


def build_sketch(df: DataFrame, col: str, factory: Callable, *,
                 seed: int = 0, value_based: bool = False):
    """Build one sketch over the non-NULL values of ``df[col]`` →
    (sketch_object, n_rows).

    Plan: pruned scan → [JVM xxhash64] → mapInPandas partials (one row
    per partition) → repartition/merge rounds of a bounded fan-in →
    driver merge of ≤ fan-in survivors. One tiny shuffle per tree
    level; the input data itself never shuffles.

    The fan-in is sized from the sketch's serialized size so no merge
    task (or the final driver collect) ever holds more than ~256MB of
    partials: 64 for KB-sized sketches (HLL/CMS), smaller for multi-MB
    Bloom banks — what keeps a 100k-partition build from shipping
    100k × 28MB to one place.

    For CONCAT-merge sketches (CuckooBank: merge = member-list append)
    the bound holds because the bank AUTO-COMPACTS: past a small member
    count, merge re-packs all (bucket, fingerprint) entries into as few
    same-shaped members as the item count needs (kernels/cuckoo.py
    ``compacted``), so merged partials are O(items seen), not
    O(partitions × seed_size), at every tree level and on the driver.
    """
    probe_size = max(1, factory().size_bytes)
    fanin = int(min(64, max(2, (256 << 20) // probe_size)))
    sel = (df.select(F.col(col).alias("__c"))
           .where(F.col("__c").isNotNull())
           .select(_input_col("__c", seed, value_based)))

    partials = sel.mapInPandas(_partial_builder(factory, value_based),
                               schema=_PARTIAL_SCHEMA)
    n_parts = sel.rdd.getNumPartitions()
    while n_parts > fanin:
        n_parts = math.ceil(n_parts / fanin)
        partials = partials.repartition(n_parts).mapInPandas(
            _merge_batch, schema=_PARTIAL_SCHEMA)

    rows = partials.collect()
    if not rows:
        return factory(), 0
    return fold_payloads([r["payload"] for r in rows],
                         [r["n_rows"] for r in rows])


# --------------------------------------------------------------------------
# grouped sketch build (one sketch per group, e.g. per host / per lang)
# --------------------------------------------------------------------------

# canonical stand-in for NA group-key elements: NaN/NaT are unequal to
# themselves, so raw keys would fail to accumulate ACROSS Arrow batches
# (pandas groupby unifies them only WITHIN a batch) and an NA group
# would emit one row per batch it spans
_NA = object()


def _grouped_fold_factory(factory: Callable, value_based: bool
                          ) -> Callable[[], GroupedFold]:
    """→ constructor of the grouped map-side ``GroupedFold`` for
    ``factory``'s sketches: whole-batch numpy folds for FRESH plain HLL
    and theta sketches (the per-host shape, millions of tiny groups),
    the generic per-group fold for any other sketch. Payloads are
    byte-identical either way (kernel-test pinned)."""
    from ..kernels.theta import GroupedThetaFold, ThetaSketch, _FULL
    from ..kernels.hll import GroupedHLLFold
    probe = factory()
    if not value_based:
        if (type(probe) is HLLSketch and probe.is_sparse
                and not probe._sparse):
            return lambda: GroupedHLLFold(probe.p)
        if (type(probe) is ThetaSketch and probe.theta >= _FULL
                and probe.keys.size == 0):
            return lambda: GroupedThetaFold(probe.k)
    return lambda: GroupedSketchFold(factory, value_based)


def _grouped_partials(gcols: list[str],
                      new_fold: Callable[[], GroupedFold],
                      value_based: bool):
    """THE grouped map body: (gcols..., __v) batches → one
    (gcols..., payload, n_rows) row per group seen in the partition.
    Group keys map to dense gids once per group per batch; the rows go
    to a ``GroupedFold`` from ``new_fold`` in whole batches."""
    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # keys canonicalized like _merge_grouped: NaN/NaT group keys
        # accumulate into ONE gid across Arrow batches instead of
        # fragmenting into per-batch partials
        fold = new_fold()
        keymap: dict = {}   # canon key -> gid
        origs: list = []    # gid -> original key tuple
        counts: list = []   # gid -> n_rows
        for pdf in batches:
            if not len(pdf):
                continue
            codes = (pdf.groupby(gcols, sort=False, dropna=False)
                     .ngroup().to_numpy())
            n_local = int(codes.max()) + 1
            _, first = np.unique(codes, return_index=True)
            local2gid = np.empty(n_local, dtype=np.int64)
            for c in range(n_local):           # one step per GROUP,
                fi = int(first[c])             # not per row
                k = tuple(pdf[g].iloc[fi] for g in gcols)
                ck = tuple(_NA if pd.isna(e) else e for e in k)
                gid = keymap.get(ck)
                if gid is None:
                    gid = keymap[ck] = len(origs)
                    origs.append(k)
                    counts.append(0)
                local2gid[c] = gid
            fold.add(local2gid[codes], _values(pdf["__v"], value_based))
            bc = np.bincount(codes, minlength=n_local)
            for c in range(n_local):
                counts[local2gid[c]] += int(bc[c])
        if origs:
            data = {g: [k[i] for k in origs] for i, g in enumerate(gcols)}
            data["payload"] = fold.payloads(len(origs))
            data["n_rows"] = counts
            yield pd.DataFrame(data)

    return build


def _merge_grouped(keycols: list[str]):
    """Batched grouped-partial fold (the body of ``_merge_keyed``, the
    one keyed reduce): one Python invocation per Arrow batch
    folds every (keycols..., payload, n_rows) partial row into ≤ one
    output row per group. Incremental left-to-right in row order
    (``fold_payloads``' contract); at most one live sketch per group is
    resident; single-partial groups pass their payload bytes through
    untouched (``to_bytes`` is a pure function of content)."""
    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}   # canon key -> [payload|sketch, n, orig key]
        for pdf in batches:
            idxmap = pdf.groupby(keycols, sort=False,
                                 dropna=False).indices
            payloads = pdf["payload"].to_numpy()
            counts = pdf["n_rows"].to_numpy()
            for key, idx in idxmap.items():
                k = key if isinstance(key, tuple) else (key,)
                ck = tuple(_NA if pd.isna(e) else e for e in k)
                ent = acc.get(ck)
                if ent is None:
                    if len(idx) == 1:
                        # single partial (the common case once groups
                        # outnumber partitions): the bytes pass through
                        # without a decode/re-encode
                        acc[ck] = [bytes(payloads[idx[0]]),
                                   int(counts[idx[0]]), k]
                        continue
                    ent = acc[ck] = [None, 0, k]
                sk = (sketch_from_bytes(ent[0])
                      if isinstance(ent[0], bytes) else ent[0])
                for i in idx:
                    part = sketch_from_bytes(bytes(payloads[i]))
                    sk = part if sk is None else sk.merge(part)
                ent[0] = sk
                ent[1] += int(counts[idx].sum())
        if not acc:
            return
        ents = list(acc.values())
        data = {g: [ent[2][i] for ent in ents]
                for i, g in enumerate(keycols)}
        data["payload"] = [
            ent[0] if isinstance(ent[0], bytes) else ent[0].to_bytes()
            for ent in ents]
        data["n_rows"] = [ent[1] for ent in ents]
        yield pd.DataFrame(data)
    return merge


def _with_salt(partials: DataFrame, salts: int) -> DataFrame:
    """Tag each partial with ``__salt`` = its map-side partition id mod
    ``salts``, so one key's partials spread over every salt even when
    their payloads are identical (a hash of the payload would send
    those all to one salt — the low-cardinality hot key the salted
    level exists for)."""
    return partials.withColumn(
        "__salt", F.pmod(F.spark_partition_id(), F.lit(salts)).cast("bigint"))


def _merge_keyed(partials: DataFrame, keys, *, salts: int = 0) -> DataFrame:
    """THE keyed reduce: fold every (keys..., payload, n_rows) partial of
    ``partials`` into one row per key → DataFrame(keys..., payload,
    n_rows), keys in their native Spark types. ``salts`` > 1 inserts a
    salted intermediate merge level (``_with_salt``) that caps any one
    reducer's fan-in."""
    keys = list(keys)
    partials = partials.select(*keys, "payload", "n_rows")
    schema = _keyed_payload_schema(partials, keys)
    # repartition on the key co-locates every partial of a key, then ONE
    # mapInPandas call per Arrow batch folds them (_merge_grouped) —
    # groupBy().applyInPandas would instead invoke Python once per KEY
    # (a tiny DataFrame each), whose fixed cost at millions of groups
    # dwarfs the merges themselves (~300µs vs ~10µs a group).
    if salts > 1:
        partials = (_with_salt(partials, salts)
                    .repartition(*keys, "__salt")
                    .mapInPandas(_merge_grouped(keys + ["__salt"]),
                                 schema=schema + ", `__salt` bigint")
                    .drop("__salt"))
    return (partials.repartition(*keys)
            .mapInPandas(_merge_grouped(keys), schema=schema))


def build_grouped_sketches(df: DataFrame, col: str, factory: Callable,
                           group_cols: list[str], *, seed: int = 0,
                           value_based: bool = False,
                           merge_salts: int = 0) -> DataFrame:
    """→ DataFrame(group_cols..., payload binary, n_rows long).

    Map-side combine: each partition keeps a dict group→sketch, so the
    raw rows never shuffle — only (group, partial) rows do. With G groups
    and P partitions the shuffle is ≤ G·P sketch rows. ``merge_salts``
    > 1 inserts a salted intermediate merge level (two-level tree) for
    very large P — the north_rule skew guard for grouped merges.
    """
    gcols = list(group_cols)
    return _merge_keyed(
        _grouped_partial_rows(df, col, factory, gcols, seed, value_based),
        gcols, salts=merge_salts)


def _grouped_partial_rows(df: DataFrame, col: str, factory: Callable,
                          gcols: list[str], seed: int, value_based: bool,
                          *, whole_groups: bool = False) -> DataFrame:
    """The map side of ``build_grouped_sketches``: one (gcols...,
    payload, n_rows) partial per (input partition, group), or with
    ``whole_groups`` exactly one per group (repartitioned on gcols)."""
    sel = df.where(F.col(col).isNotNull()).select(
        *[F.col(g) for g in gcols], _input_col(col, seed, value_based))
    if whole_groups:
        sel = sel.repartition(*gcols)
    return sel.mapInPandas(
        _grouped_partials(gcols, _grouped_fold_factory(factory, value_based),
                          value_based),
        schema=_keyed_payload_schema(sel, gcols))


# --------------------------------------------------------------------------
# probes / lookups against a finished sketch
# --------------------------------------------------------------------------

_BCAST_CACHE: "OrderedDict[bytes, object]" = OrderedDict()
_BCAST_CACHE_MAX = 8


def _cached_sketch(payload: bytes):
    # broadcast payloads only (``_broadcast_hash_udf``): keyed by the
    # bytes object itself — broadcast.value returns the same object per
    # worker, so the hash is computed once and the key is exact. Per-row
    # payloads decode through sketch_from_bytes (``_payload_udf``).
    # Bounded LRU: long-lived python workers serve many probe jobs, so an
    # unbounded cache of multi-MB deserialized sketches would leak.
    sk = _BCAST_CACHE.get(payload)
    if sk is None:
        sk = _BCAST_CACHE[payload] = sketch_from_bytes(payload)
    else:
        _BCAST_CACHE.move_to_end(payload)
    while len(_BCAST_CACHE) > _BCAST_CACHE_MAX:
        _BCAST_CACHE.popitem(last=False)
    return sk


_DRIVER_BCAST: OrderedDict = OrderedDict()
_DRIVER_BCAST_MAX = 16


def _broadcast_payload(spark, payload: bytes):
    """Driver-side LRU over sketch broadcasts: repeated probes of the
    SAME sketch (per-partition lookups in a loop, bench reps,
    long-lived pipelines) reuse one broadcast instead of pinning a new
    multi-MB blob on the driver per call forever. Evicted entries are
    unpersist()ed (not destroyed), so a lazy plan still holding one
    simply re-fetches from the driver on its next use."""
    key = (spark.sparkContext.applicationId, payload)
    bc = _DRIVER_BCAST.get(key)
    if bc is None:
        bc = _DRIVER_BCAST[key] = spark.sparkContext.broadcast(payload)
    else:
        _DRIVER_BCAST.move_to_end(key)
    while len(_DRIVER_BCAST) > _DRIVER_BCAST_MAX:
        _, old = _DRIVER_BCAST.popitem(last=False)
        try:
            old.unpersist(False)
        except Exception:
            pass
    return bc


def _broadcast_hash_udf(df: DataFrame, col: str, sketch, method: str,
                        rtype: str, *, seed: int, out_col: str) -> DataFrame:
    """THE broadcast probe: ship ``sketch`` once (``_broadcast_payload``),
    decode it once per worker (``_cached_sketch``) and add ``out_col`` =
    ``sketch.<method>`` over each Arrow batch of the JVM xxhash64 of
    ``col``. A NULL key hashes to ``xxhash64(NULL, seed)``, a constant,
    so it gets a plain answer (``False`` / ``0``), never NULL."""
    bc = _broadcast_payload(df.sparkSession, sketch.to_bytes())

    @F.pandas_udf(rtype)
    def probe(h: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc.value)
        return pd.Series(getattr(sk, method)(
            h.to_numpy(dtype=np.int64, na_value=0)))

    return df.withColumn(out_col, probe(hash_col(F.col(col), seed)))


def _payload_udf(df: DataFrame, fn: Callable, rtype: str,
                 out_col: str) -> DataFrame:
    """THE per-row payload map: add ``out_col`` = ``fn(sketch)`` for the
    sketch in each row's ``payload``. Each payload decodes through
    ``sketch_from_bytes``, never the broadcast LRU: row payloads are
    distinct objects, and caching them would evict the probe sketches
    that cache exists for."""

    @F.pandas_udf(rtype)
    def apply(payload: pd.Series) -> pd.Series:
        return pd.Series([fn(sketch_from_bytes(bytes(p))) for p in payload])

    return df.withColumn(out_col, apply(F.col("payload")))


def probe_membership(df: DataFrame, col: str, sketch, *, seed: int = 0,
                     out_col: str = "seen") -> DataFrame:
    """Broadcast the sketch; add a boolean membership column.

    The reference's ``exists`` probe (Bloom_project/src/core/
    BloomFilter.cpp:31-39) as a vectorized column op: JVM xxhash64 →
    Arrow batch → numpy probe of the broadcast bit array.
    """
    return _broadcast_hash_udf(df, col, sketch, "contains_hashes", "boolean",
                               seed=seed, out_col=out_col)


def cms_lookup(df: DataFrame, col: str, cms, *, seed: int = 0,
               out_col: str = "est_count") -> DataFrame:
    """Point-frequency estimates from a broadcast count-min sketch."""
    return _broadcast_hash_udf(df, col, cms, "estimate_hashes", "long",
                               seed=seed, out_col=out_col)


def ibf_recover(df: DataFrame, col: str, ibf, *, seed: int = 0,
                strict: bool = True) -> DataFrame:
    """Materialize IBF-peeled keys as real values — the distributed
    getAllValues (Bloom_project/src/core/InvertibleBloomFilter.hpp:207-213).

    Peel the merged IBF on the driver (cells are small), then SEMI-JOIN
    the recovered key-hashes back to the source — a broadcast join on a
    tiny literal table, so Catalyst turns recovery into one scan.

    ``strict`` (default): raise if the peel did not FULLY decode (more
    keys than the IBF's capacity supports) — a partial key set must
    never masquerade as getAllValues. Pass ``strict=False`` to accept
    whatever subset peeled (reconcile-style best-effort callers).
    """
    keys, signs, decoded = ibf.peel()
    if strict and not decoded:
        raise ValueError(
            "ibf_recover: the IBF did not fully decode — it holds more "
            f"keys than its {ibf.m} cells can peel; recovered "
            f"{len(keys)} before stalling. Size the sketch to "
            "~1.3-2x the expected key count, or pass strict=False to "
            "accept the partial set.")
    spark = df.sparkSession
    # recovery-side columns use reserved names and are ALL dropped: the
    # output carries exactly df's own columns (the documented semi-join
    # shape — a leaked helper column would collide with caller schemas)
    rec = spark.createDataFrame(
        [(int(np.int64(k)),) for k in keys.view(np.int64)],
        "__ibf_key_hash long")
    hashed = df.withColumn("__h", hash_col(F.col(col), seed))
    return (hashed.join(F.broadcast(rec),
                        hashed["__h"] == rec["__ibf_key_hash"], "inner")
            .drop("__h", "__ibf_key_hash"))


def quantiles_grouped(sketches_df: DataFrame, qs: tuple,
                      out_col: str = "quantiles") -> DataFrame:
    """Per-group quantile estimates from grouped value sketches
    (KLL / t-digest payloads from ``build_grouped_sketches(...,
    value_based=True)``) — e.g. per-language text-length percentiles.
    One array<double> column, one entry per requested quantile; the
    payloads are KB-sized summaries, so this is a map over G rows."""
    qlist = [float(q) for q in qs]
    return _payload_udf(
        sketches_df, lambda sk: [float(sk.quantile(q)) for q in qlist],
        "array<double>", out_col)


def estimate_grouped(sketches_df: DataFrame, estimator: str = "estimate",
                     out_col: str = "estimate", args: tuple = ()) -> DataFrame:
    """Apply a sketch method (e.g. HLL estimate) to each group's
    payload; ``args`` parameterizes it — e.g.
    ``estimator="quantile", args=(0.5,)`` for a per-group KLL median."""
    return _payload_udf(
        sketches_df, lambda sk: float(getattr(sk, estimator)(*args)),
        "double", out_col)
