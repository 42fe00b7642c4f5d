"""Exact heavy hitters at scale — Misra-Gries candidates + one recount.

The classic two-pass frequent-items plan that never shuffles the
token stream:

1. Pass 1: ``agg.build_sketch`` folds each partition into a
   capacity-c Misra-Gries summary (`kernels/misragries.py`) and
   tree-merges the partials — the only data moving is c counter rows
   per partition. The merged summary retains EVERY key with true
   frequency > n/(c+1) (mergeable-summaries guarantee), so its ≤ c
   keys are a complete candidate set for any threshold ≥ n/(c+1).
2. Pass 2: re-scan with the ≤ c candidate hashes broadcast as a semi
   filter, count exactly (`groupBy` over a stream that is already
   ~zero rows for non-candidates), keep counts > threshold.

The result is EXACT — complete by the MG retention guarantee, correct
counts by the recount — at the cost of two scans and zero full-width
shuffles; a naive exact top-frequency query shuffles every token once.
A count-min + driver-side heap can't make the completeness claim; this
can, which is why training-data pipelines use it for stopword /
boilerplate discovery over 100 TB corpora.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.base import sketch_from_bytes
from ..kernels.misragries import MisraGriesSketch
from .agg import _cached_sketch, _keyed_payload_schema, \
    build_grouped_sketches, build_sketch, hash_col


def heavy_hitters(df: DataFrame, col: str, *, capacity: int = 256,
                  threshold: float | None = None, seed: int = 0,
                  out_col: str = "cnt") -> DataFrame:
    """→ DataFrame(col, cnt): every value with exact count > threshold.

    ``threshold`` defaults to n/(capacity+1) — the smallest value for
    which the Misra-Gries candidate set is provably complete; anything
    smaller raises (the summary may have evicted a qualifying key, and
    a silently-incomplete "exact" result is worse than an error).
    Returns the exact counts, not the summary's lower bounds."""
    mg, n = build_sketch(df, col, lambda: MisraGriesSketch(capacity),
                         seed=seed)
    floor = n / (capacity + 1)
    if threshold is None:
        threshold = floor
    if threshold < floor:
        hint = (f"; raise capacity to {math.ceil(n / threshold)} or more "
                f"for this threshold" if threshold > 0 else
                "; a non-positive threshold has no capacity that can "
                "guarantee completeness")
        raise ValueError(
            f"threshold {threshold} is below the completeness floor "
            f"n/(capacity+1) = {floor:.1f}{hint}")
    keys = [int(k) for k in mg.keys.view("int64")]
    hashed = (df.where(F.col(col).isNotNull())
              .withColumn("__h", hash_col(F.col(col), seed)))
    if len(keys) <= 4096:
        # small candidate sets compile to an InSet predicate inside
        # whole-stage codegen — no exchange, no broadcast build
        filtered = hashed.where(F.col("__h").isin(keys))
    else:
        cand = df.sparkSession.createDataFrame(
            [(k,) for k in keys], "key_hash long")
        filtered = hashed.join(F.broadcast(cand),
                               F.col("__h") == F.col("key_hash"),
                               "left_semi")
    return (filtered
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias(out_col))
            .where(F.col(out_col) > F.lit(float(threshold))))


_DEFAULT_MAX_GROUPS = 100_000


def heavy_hitters_by_group(df: DataFrame, col: str,
                           group_cols: list[str], *, capacity: int = 64,
                           seed: int = 0,
                           max_groups: int = _DEFAULT_MAX_GROUPS,
                           out_col: str = "cnt") -> DataFrame:
    """→ DataFrame(group_cols..., col, cnt): per-group exact heavy
    hitters — every value whose count WITHIN its group exceeds that
    group's n_g/(capacity+1) floor (e.g. per-language stopwords).

    Same two-pass shape as ``heavy_hitters``, grouped: pass 1 is
    ``build_grouped_sketches`` (map-side group→MG dict; only
    (group, counter-rows) partials shuffle), whose ≤ G summary rows
    are collected once — the driver-side state is G × capacity
    (key, count) pairs, the per-group thresholds come from the same
    rows. Pass 2 semi-joins the (group, candidate-hash) pairs back
    onto the stream and recounts exactly; each group's completeness
    follows from its own MG retention guarantee. G is the grouping
    cardinality (languages, domains-classes — not user ids): the
    broadcast is G × capacity hashes, and ``max_groups`` makes a
    high-cardinality grouping fail loudly (with guidance) instead of
    silently collecting an unbounded summary set onto the driver."""
    gcols = list(group_cols)
    # take(max_groups + 1) is both the guard and the rows in ONE job:
    # if it returns <= max_groups rows it returned every group, so a
    # separate count + persist + collect round trip is redundant.
    rows = build_grouped_sketches(
        df.where(F.col(col).isNotNull()), col,
        lambda: MisraGriesSketch(capacity), gcols,
        seed=seed).take(max_groups + 1)
    if len(rows) > max_groups:
        raise ValueError(
            f"heavy_hitters_by_group collects one {capacity}-counter "
            f"summary per group to the driver; grouping by {gcols} "
            f"yields more than max_groups={max_groups} groups. This "
            "path is for low-cardinality groupings (languages, "
            "domains); for a high-cardinality key use a plain groupBy "
            "count, or raise max_groups explicitly.")
    spark = df.sparkSession
    cand_rows, floor_rows = [], []
    for r in rows:
        g = tuple(r[c] for c in gcols)
        sk = sketch_from_bytes(bytes(r["payload"]))
        floor_rows.append((*g, float(int(r["n_rows"]) / (capacity + 1))))
        cand_rows.extend((*g, int(k)) for k in sk.keys.view("int64"))
    cand = spark.createDataFrame(
        cand_rows, _keyed_payload_schema(df, gcols, "__h long"))
    floors = spark.createDataFrame(
        floor_rows, _keyed_payload_schema(df, gcols, "__floor double"))

    # NULL-SAFE group matching: groupBy keeps a NULL group, so the
    # candidate and floor joins must too — plain equality would
    # silently drop every heavy hitter of a NULL-keyed group
    def _null_safe_on(left, right):
        cond = None
        for c in gcols:
            e = left[c].eqNullSafe(right[c])
            cond = e if cond is None else cond & e
        return cond

    src = (df.where(F.col(col).isNotNull())
           .withColumn("__h", hash_col(F.col(col), seed)))
    bcand = F.broadcast(cand)
    counted = (src.join(bcand, _null_safe_on(src, bcand)
                        & (src["__h"] == bcand["__h"]), "left_semi")
               .groupBy(*gcols, col)
               .agg(F.count(F.lit(1)).alias(out_col)))
    bfloors = F.broadcast(floors)
    return (counted.join(bfloors, _null_safe_on(counted, bfloors))
            .where(F.col(out_col) > F.col("__floor"))
            .select(*[counted[c] for c in gcols], counted[col],
                    counted[out_col]))


def mg_lookup(df: DataFrame, col: str, mg: MisraGriesSketch, *,
              seed: int = 0, out_col: str = "mg_lower_bound") -> DataFrame:
    """Point-frequency LOWER bounds from a broadcast Misra-Gries summary
    (the mirror of ``agg.cms_lookup``'s upper bounds: CMS never under-
    estimates, MG never over-estimates; together they bracket the true
    count within [mg_est, cms_est] with mg_est >= f - n/(c+1))."""
    spark = df.sparkSession
    from .agg import _broadcast_payload
    bc = _broadcast_payload(spark, mg.to_bytes())

    @F.pandas_udf("long")
    def lookup(h: pd.Series) -> pd.Series:
        # _cached_sketch: per-worker LRU — deserialize once per
        # executor, not once per Arrow batch (mirrors cms_lookup)
        sk = _cached_sketch(bc.value)
        est = sk.estimate_hashes(h.to_numpy(dtype=np.int64, na_value=0))
        return pd.Series(est)

    return df.withColumn(out_col, lookup(hash_col(F.col(col), seed)))
