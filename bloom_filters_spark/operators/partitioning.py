"""Sketch-driven balanced range partitioning (stable boundaries).

north_rule: "partitioning / shuffle / skew handled explicitly". Spark's
``repartitionByRange`` solves one instance of this — but its boundaries
come from a fresh reservoir sample per job, so they are (a) job-local:
two runs over overlapping data cut DIFFERENT ranges, so incrementally
written file sets never align run-over-run, and (b) invisible: the
caller cannot persist, merge, or audit them.

This module derives the boundaries from a mergeable KLL sketch instead:

- ``quantile_boundaries``  — one distributed pass (partial sketches →
  tree merge, the library's standard build) → the n-quantile cut
  points. Deterministic for a given dataset, mergeable across days
  (merge yesterday's persisted sketch with today's delta partials),
  checkpointable like every other sketch in the library.
- ``boundaries_from_sketch`` — the incremental path: cut points from a
  pre-built / merged / resumed sketch, no rescan.
- ``with_range_bucket``    — assign each row its bucket with a pure
  JVM expression (a sorted-array literal probe — no Python UDF), so
  the assignment also works in Structured Streaming, where
  ``repartitionByRange``'s sampling cannot run.
- ``repartition_balanced`` — materialize the layout: one shuffle
  partition per bucket.
- ``partition_balance``    — the measurable contract: exact per-bucket
  row counts; KLL rank error ε guarantees every bucket holds
  n/k_parts ± 2εn rows (each cut point's true rank is within εn of
  its target, and a bucket is bounded by two cut points).

Scale notes (100 TB design point): the boundary build moves only
sketch bytes (KLL(200) ≈ a few KB per partial); assignment is
shuffle-free; the only full-data shuffle is the one the caller asked
for (the repartition itself). Skewed value distributions are exactly
what quantile cuts absorb — equal-ROW buckets, not equal-width — the
same reason TeraSort-style jobs sample before range-partitioning.

Reference analogue: none (the reference is single-process); this is
the builder-brief scale requirement, built from the library's own KLL
kernel (kernels/kll.py, Karnin-Lang-Liberty, PODS'16 bounds).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..kernels.kll import KLLSketch
from .agg import build_sketch

# the KLL accuracy parameter of every boundary build; partition_balance's
# stated bound is for this k
_KLL_K = 200


def quantile_boundaries(df: DataFrame, col: str, n_parts: int
                        ) -> tuple[list[float], KLLSketch, int]:
    """→ ``(boundaries, sketch, n_rows)``: the ``n_parts - 1`` cut
    points that split ``df[col]`` into equal-row range buckets.

    The returned sketch is the reusable artifact: persist it (every
    kernel serializes via ``to_bytes``) and tomorrow's boundaries come
    from ``boundaries_from_sketch(yesterday.merge(delta), n_parts)``
    without rescanning history — which is what keeps incremental
    layouts STABLE where ``repartitionByRange`` would re-sample and
    re-cut.
    """
    if n_parts < 1:
        raise ValueError("n_parts must be >= 1")
    sk, n = build_sketch(df, col, lambda: KLLSketch(_KLL_K),
                         value_based=True)
    return boundaries_from_sketch(sk, n_parts), sk, int(n)


def boundaries_from_sketch(sk: KLLSketch, n_parts: int) -> list[float]:
    """Cut points from an existing (possibly merged/resumed) sketch.

    A heavily repeated value can own several quantiles, yielding equal
    cut points; those produce empty buckets but never a WRONG bucket
    (assignment stays searchsorted-consistent), and ``partition_balance``
    makes the resulting skew visible instead of hiding it."""
    return [float(sk.quantile(i / n_parts)) for i in range(1, n_parts)]


def with_range_bucket(df: DataFrame, col: str,
                      boundaries: Sequence[float],
                      out: str = "bucket") -> DataFrame:
    """Add ``out`` = the index of the range bucket holding ``col``.

    bucket = |{b in boundaries : b <= value}| — i.e. numpy
    ``searchsorted(boundaries, value, side='right')`` semantics, a pure
    JVM higher-order-function expression over a sorted-array literal
    (no Python UDF; boundary counts are small — 2..4096 — so the probe
    is a handful of comparisons per row). NULL values get bucket NULL:
    the caller places them explicitly rather than silently polluting
    bucket 0.
    """
    bs = sorted(float(b) for b in boundaries)
    arr = F.array(*[F.lit(b) for b in bs])
    val = F.col(col).cast("double")
    bucket = F.size(F.filter(arr, lambda b: b <= val))
    return df.withColumn(
        out, F.when(val.isNotNull(), bucket).cast("int"))


def repartition_balanced(df: DataFrame, col: str,
                         boundaries: Sequence[float]) -> DataFrame:
    """One shuffle partition per range bucket (len(boundaries)+1).

    Ranges on the precomputed dense bucket id: Spark's RangePartitioner
    maps equal keys to one partition, so a bucket is never split, and
    partitions hold contiguous bucket ranges — the physical layout is
    the quantile layout (with k equal-count ids into k partitions the
    sampled cuts land on id edges; in the worst sampling case two small
    adjacent buckets share a partition, which stays within the balance
    bound). NULL values sort first, joining the lowest partition."""
    n_parts = len(boundaries) + 1
    bucketed = with_range_bucket(df, col, boundaries, out="__bucket")
    return (bucketed.repartitionByRange(n_parts, F.col("__bucket"))
            .drop("__bucket"))


def partition_balance(df: DataFrame, col: str,
                      boundaries: Sequence[float]) -> DataFrame:
    """→ DataFrame(bucket, n_rows): EXACT per-bucket row counts for the
    given cut points — the partitioner's measurable contract. With the
    boundaries' KLL(``_KLL_K`` = 200) (rank error ≤ 0.04 at the tested
    confidence, see quantile_bounds), every bucket count lies within
    n/k_parts ± (2·0.04·n + discreteness). Only (bucket, count) rows
    cross the shuffle."""
    return (with_range_bucket(df, col, boundaries, out="bucket")
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_rows")))


def range_prefix_sums(df: DataFrame, weight: Column,
                      order: Sequence[Column], partitions: int
                      ) -> tuple[DataFrame, int]:
    """→ ``(frame, total)``: ``df`` plus ``__w`` (``weight``, NULL → 0)
    and ``__start`` (the ``__w`` of every row before this one in
    ``order``), with ``total`` the sum of ``__w``. No global
    single-partition sort.

    Ties on ``order`` are broken by ``__tie``, an ``xxhash64`` of all of
    ``df``'s columns (map-typed ones as their JSON: hash expressions
    reject maps), under a ROWS frame: ``__start`` is a function of the
    rows, never of their arrival order, and tied rows are not summed as
    peers. Rows equal in every column are interchangeable.

    Exchanges: the range repartition (plus its bounds sample), a
    ``__pid`` totals aggregate folded on the driver into a literal map
    offset, and the per-``__pid`` window, which runs in the caller's
    action. ``repartitionByRange`` re-samples its bounds per job, so the
    ranged rows are ``localCheckpoint``-ed once: both reads see one
    range cut."""
    tie = F.xxhash64(*[
        F.to_json(F.col(f.name)) if "map<" in f.dataType.simpleString()
        else F.col(f.name) for f in df.schema.fields])
    order = [*order, F.asc("__tie")]
    pinned = (df.withColumn("__w", F.coalesce(weight, F.lit(0)))
              .withColumn("__tie", tie)
              .repartitionByRange(partitions, *order)
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint(eager=True))
    totals = sorted(
        (r["__pid"], r["t"]) for r in
        pinned.groupBy("__pid").agg(F.sum("__w").alias("t")).collect())
    # int keys and long offsets, so int and bigint literals never mix
    pairs, total = [], 0
    for pid, t in totals:
        pairs += [F.lit(pid).cast("int"), F.lit(total).cast("long")]
        total += int(t)
    off = (F.create_map(*pairs)[F.col("__pid")] if pairs
           else F.lit(0).cast("long"))
    w = (Window.partitionBy("__pid").orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return pinned.withColumn(
        "__start", F.sum("__w").over(w) - F.col("__w") + off), total


def assign_token_shards(df: DataFrame, n_shards: int, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        out_col: str = "shard",
                        partitions: int = 32) -> DataFrame:
    """Token-balanced output sharding: assign every document to one of
    ``n_shards`` contiguous shards of ~equal TOKEN mass (what a
    training-data writer wants — equal-sized work units — where
    row-balanced splits skew badly when doc lengths do).

    Definition (re-derivable by any engine): order docs by
    ``id_col`` ascending; with ``start = (tokens before this doc)``
    and ``total`` the corpus token sum,
    ``shard = least(n_shards - 1, start * n_shards div total)``
    (integer division — exact; double division misassigns boundary
    docs once ``start * n_shards`` passes 2^53, i.e. at the 10^12-
    token corpora this library targets). NULL/empty text counts 0
    tokens and rides wherever the order puts it; ``total == 0`` puts
    everything in shard 0. A doc larger than a whole shard just owns
    one (assignment is by prefix start — no doc is split).

    Ties: docs sharing an ``id_col`` value are ordered by ``xxhash64``
    over all their input columns (map-typed ones as their JSON), so the
    assignment is a function of the rows, never of the order they
    arrive in; rows equal in every column are interchangeable.

    Scale shape: ``range_prefix_sums``, the distributed cumulative sum
    ``select_token_budget`` also uses — a range repartition on the
    order, a ``__pid`` totals aggregate folded on the driver, and a
    per-``__pid`` window that runs in the caller's action. No global
    single-partition sort.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from .textstats import tokens_col
    ranked, total = range_prefix_sums(
        df, F.size(tokens_col(text_col)), [F.asc(id_col)], partitions)
    shard = (F.lit(0) if total == 0 else F.least(
        F.lit(n_shards - 1), F.expr(f"__start * {n_shards} div {total}")))
    return (ranked.withColumn(out_col, shard.cast("int"))
            .select(*df.columns, out_col))
