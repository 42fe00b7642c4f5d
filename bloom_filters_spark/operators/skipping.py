"""Sketch-indexed scan pruning: the file you never read is the fastest.

The reference exposes Bloom membership as an interactive probe
(Bloom_project/src/core/BloomFilter.cpp:31-39 ``exists``); at lake
scale the same probe's highest-leverage placement is one level UP from
the row — per *file*. A tiny index table (one row per data file:
row count, key zone map, Bloom filter over the file's keys) lets a
point-lookup / small-IN-list query prove "none of my keys can be in
this file" for almost every file and skip its I/O entirely. On a
100 TB table clustered by the lookup key, a 20-key probe touches a
handful of files instead of all of them — the scan cost becomes
O(selectivity), not O(table).

This is the same idea as Parquet column bloom filters / Iceberg
file-level metrics, materialized as an explicit, engine-agnostic index
DataFrame the library builds and consults itself:

- ``stage_clustered``   — write a table range-clustered by the key so
  the zone maps and Blooms are selective (the layout half of skipping).
- ``build_scan_index``  — one pass over the table → one index row per
  file. The Bloom is EXACTLY sized per file (capacity = the file's own
  row count, so every file filter meets the configured fpp).
- ``prune_files``       — zone-map check (JVM range semi join) then
  Bloom any-hit check (vectorized pandas UDF over broadcast probe
  hashes) → the candidate file list.
- ``pruned_lookup``     — scan ONLY the candidate files and finish with
  an exact broadcast semi join (removes the fpp false positives).
  Bit-identical to the full-scan lookup: Blooms have no false
  negatives, so no qualifying file is ever skipped.
- ``pruned_range_scan`` — the same skipping for RANGE predicates:
  Blooms cannot answer "any key in [lo, hi]?", but the zone map can
  (interval overlap), and on a range-clustered layout that alone
  eliminates every file outside the predicate's key span.
- ``extend_scan_index`` — incremental maintenance: index only files
  not yet covered and union them in. Data that lands file-by-file
  (streaming sinks, compaction output) never triggers a rebuild —
  the index grows O(new files), the invariants are per-file so
  nothing existing is touched.

Scale notes (100 TB design point):
- the index is one row per file (a 100 TB table at 256 MB/file is
  ~400k rows × ~a-few-KB payloads) — it lives comfortably in one
  executor and is itself a normal DataFrame: persist it, checkpoint it,
  or append it file-by-file as data lands;
- index build shuffles only ``(file, key, hash)`` — the 16-byte
  skeleton of each row, never the payload columns;
- probe evaluation broadcasts the probe hashes once (point lookups are
  small by definition; ``max_probes`` guards the contract) and runs
  distributed over the index, so no per-file work ever lands on the
  driver except the final candidate file list.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..kernels.bloom import BloomSketch
from .agg import _payload_udf, hash_col

def _index_schema(key_type: str) -> str:
    """Index schema with the zone map in the KEY'S NATIVE TYPE.

    Storing ``min_key``/``max_key`` as the key's own Spark type (not a
    stringified rendering) keeps pruning comparisons bit-faithful for
    every key type — float/timestamp/decimal keys never round-trip
    through ``str()``/``cast`` where representation infidelity could
    silently prune a qualifying file and break the no-false-negative
    contract.
    """
    return (f"file string, n_rows long, min_key {key_type}, "
            f"max_key {key_type}, payload binary")


_DEFAULT_MAX_PROBES = 100_000


def stage_clustered(df: DataFrame, path: str, key_col: str,
                    n_files: int) -> None:
    """Write ``df`` as parquet range-clustered on ``key_col``.

    Clustering is what makes file skipping selective: after
    ``repartitionByRange`` each file owns a contiguous key range, so a
    probe key's zone-map check eliminates every file but one, and the
    Bloom check handles keys inside a range that were never written.
    (An unclustered layout still skips via Blooms, just less sharply —
    every filter must be consulted.)
    """
    (df.repartitionByRange(n_files, F.col(key_col))
       .write.mode("overwrite").parquet(path))


def build_scan_index(spark: SparkSession, path: str, key_col: str, *,
                     fpp: float = 0.01, seed: int = 0) -> DataFrame:
    """One scan → one index row per data file.

    Columns: ``file`` (fully-qualified URI), ``n_rows``, ``min_key`` /
    ``max_key`` (zone map, carried in the key's NATIVE type so pruning
    comparisons are bit-faithful for every key type), ``payload``
    (Bloom over xxhash64(key, seed), capacity = the file's exact row
    count so the per-file fpp is honoured regardless of file sizes).
    Rows with a NULL key are excluded (a NULL never matches a probe).

    ``applyInPandas`` sees each file's full (key, hash) columns at
    once — that is what lets the filter be exactly sized with no
    second pass. Only (file, key, hash) rows cross the shuffle.
    """
    return _index_over(spark.read.parquet(path), key_col, fpp, seed)


def _index_over(df: DataFrame, key_col: str, fpp: float,
                seed: int) -> DataFrame:
    def build_row(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = BloomSketch.from_capacity(max(len(pdf), 1), fpp)
        sk.update_hashes(pdf["__h"].to_numpy(dtype=np.int64))
        # Spark's total order puts NaN ABOVE every double and NaN = NaN
        # matches in joins, so a float NaN key is a real, matchable
        # value — but Arrow maps a pandas float NaN back to SQL NULL on
        # the return trip. A file holding NaN keys therefore reports
        # max_key = NaN (skipna=False), which lands in the index as
        # NULL; the zone predicates read a NULL bound as "this file
        # contains NaN" and keep the file (the Bloom sieve still
        # applies — NaN's xxhash64 is a normal hash). min keeps pandas'
        # skipna default: the finite lower bound for mixed files.
        return pd.DataFrame({
            "file": [pdf["file"].iloc[0]],
            "n_rows": [len(pdf)],
            "min_key": [pdf["__k"].min()],
            "max_key": [pdf["__k"].max(skipna=False)],
            "payload": [sk.to_bytes()],
        })

    # NULL keys are dropped BEFORE indexing: a NULL never satisfies an
    # equality or range probe (SQL three-valued logic), so excluding it
    # cannot cause a false negative — while letting one through would
    # force Arrow to promote int columns to float64 (precision loss on
    # large int64 keys) and poison the native-typed zone map.
    key_type = df.schema[key_col].dataType.simpleString()
    named = df.select(F.input_file_name().alias("file"),
                      F.col(key_col).alias("__k"))
    src = named.where(F.col("__k").isNotNull()).select(
        "file", "__k", hash_col(F.col("__k"), seed).alias("__h"))
    idx = src.groupBy("file").applyInPandas(
        build_row, schema=_index_schema(key_type))
    # a file whose keys are ALL NULL yields no group above — emit a
    # sentinel row (n_rows=0, NULL bounds, empty Bloom) so the file
    # counts as COVERED: extend_scan_index would otherwise classify it
    # as new and re-scan it on every incremental call, and the prune
    # paths skip it outright via n_rows > 0 (no probe can match NULL)
    sentinel = BloomSketch.from_capacity(1, fpp).to_bytes()
    empties = (named.groupBy("file")
               .agg(F.count("__k").alias("__nn"))
               .where("__nn = 0")
               .select("file",
                       F.lit(0).cast("long").alias("n_rows"),
                       F.lit(None).cast(key_type).alias("min_key"),
                       F.lit(None).cast(key_type).alias("max_key"),
                       F.lit(sentinel).alias("payload")))
    return idx.unionByName(empties)


def prune_files(index_df: DataFrame, probe_df: DataFrame, key_col: str, *,
                seed: int = 0,
                max_probes: int = _DEFAULT_MAX_PROBES) -> list[str]:
    """Candidate files for a lookup of ``probe_df[key_col]``.

    Two sieves, cheapest first:
    1. zone map — a range semi join keeps only files whose
       [min_key, max_key] contains at least one probe key (the bounds
       are stored in the key's native type, so the comparison is
       bit-faithful for int/float/timestamp/string keys alike);
    2. Bloom — probe hashes are broadcast once; a vectorized pandas UDF
       asks each surviving file's filter for ANY hit.

    No false negatives at either sieve, so the returned list is a
    superset of the files that actually contain matches. NULL probe
    keys are ignored (they can never match under SQL semantics).
    """
    rows, k_field = _collect_probes(probe_df, key_col, seed, max_probes)
    if not rows:
        return []
    return _candidate_files(index_df, rows, k_field)


def _collect_probes(probe_df: DataFrame, key_col: str, seed: int,
                    max_probes: int):
    """Collect the distinct non-NULL probe (key, hash) rows once — one
    job serves the size guard, the probe hashes, the zone join's local
    relation, AND the key-range residual pushed into the data scan."""
    probes = (probe_df.select(F.col(key_col).alias("__k"))
              .where(F.col("__k").isNotNull()).distinct())
    rows = (probes.select("__k", hash_col(F.col("__k"), seed).alias("__h"))
            .limit(max_probes + 1).collect())
    if len(rows) > max_probes:
        raise ValueError(
            f"prune_files is the point-lookup path (<= {max_probes} "
            "probe keys); for large probe sets use bloom_semijoin")
    return rows, probes.schema["__k"]


def _probe_bounds(rows):
    """(lo, hi, has_nan) over the collected probe keys — NaN floats are
    split out (python min/max would propagate them unpredictably; under
    Spark's total order a NaN key is matchable and greatest)."""
    ks = [r["__k"] for r in rows]
    nan = [k for k in ks if isinstance(k, float) and k != k]
    fin = [k for k in ks if not (isinstance(k, float) and k != k)]
    return ((min(fin) if fin else None),
            (max(fin) if fin else None), bool(nan))


def _candidate_files(index_df, rows, k_field) -> list[str]:
    spark = index_df.sparkSession
    hashes = np.array([r["__h"] for r in rows], dtype=np.int64)

    # rebuild the probe relation from the ALREADY-COLLECTED keys: the
    # zone join below must never re-run the caller's probe subtree
    # (often a filter over a large table — arbitrarily expensive to
    # evaluate twice). collect → createDataFrame is value-faithful for
    # every supported key type, and ≤ max_probes rows by contract.
    local = spark.createDataFrame([(r["__k"],) for r in rows],
                                  schema=StructType([k_field]))

    # a NULL bound on an n_rows > 0 file means it contains NaN keys
    # (see _index_over): keep the file for any probe on that side —
    # conservative, so the no-false-negative contract holds; the Bloom
    # sieve still prunes. n_rows = 0 marks an all-NULL-key sentinel: no
    # probe can ever match there, so it is excluded outright.
    zoned = index_df.where(F.col("n_rows") > 0).join(
        local,
        ((local["__k"] >= index_df["min_key"])
         | index_df["min_key"].isNull())
        & ((local["__k"] <= index_df["max_key"])
           | index_df["max_key"].isNull()),
        "left_semi")

    bc = spark.sparkContext.broadcast(hashes)

    hit = _payload_udf(
        zoned, lambda sk: bool(sk.contains_hashes(bc.value).any()),
        "boolean", "__hit").where("__hit").select("file")
    files = [r["file"] for r in hit.collect()]
    # the probe-hash broadcast serves exactly the one job above —
    # unpersist immediately so a lookup loop doesn't pin one broadcast
    # per call on the driver for the application lifetime
    bc.unpersist(False)
    return files


def pruned_lookup(spark: SparkSession, path: str, index_df: DataFrame,
                  probe_df: DataFrame, key_col: str, *, seed: int = 0,
                  max_probes: int = _DEFAULT_MAX_PROBES,
                  files_total: int | None = None,
                  ) -> tuple[DataFrame, dict]:
    """Exact lookup of ``probe_df[key_col]`` scanning only candidate files.

    Returns ``(result, stats)`` where ``result`` is bit-identical to
    ``full_scan.join(probes, key, 'left_semi')`` (the final broadcast
    semi join removes Bloom false positives) and ``stats`` records
    ``files_total`` / ``files_scanned`` — the skipping win itself.
    Pass ``files_total`` (one row per file, so ``index_df.count()``) to
    skip the stats-only count job on repeated lookups.

    Inside the candidate files, the probe keys' [min, max] range is
    pushed into the parquet scan as a residual predicate (PushedFilters
    in the plan): a 256 MB candidate file's row groups outside the
    probe span are skipped by parquet min/max statistics — the
    file-level index prunes FILES, the pushed range prunes ROW GROUPS
    within the survivors. Both filters keep a superset of the matches
    (NaN probe keys widen the residual), so the final broadcast semi
    join keeps the result exact. The probe keys are collected ONCE and
    reused for the zone join, the Bloom hashes, the residual bounds,
    and the final join's build side — the caller's probe subtree (often
    a filter over a large table) is never evaluated twice.
    """
    rows, k_field = _collect_probes(probe_df, key_col, seed, max_probes)
    files = _candidate_files(index_df, rows, k_field) if rows else []
    if files_total is None:
        files_total = index_df.select("file").distinct().count()
    full = spark.read.parquet(path)
    if not files:
        return full.where(F.lit(False)), {
            "files_total": files_total, "files_scanned": 0}
    scanned = spark.read.schema(full.schema).parquet(*files)
    lo, hi, has_nan = _probe_bounds(rows)
    rng = None
    if lo is not None:
        # literals cast to the key's EXACT type (e.g. timestamp_ntz)
        # so the comparison stays native and parquet-pushable
        rng = F.col(key_col).between(F.lit(lo).cast(k_field.dataType),
                                     F.lit(hi).cast(k_field.dataType))
    if has_nan:
        nan_pred = F.isnan(F.col(key_col))
        rng = nan_pred if rng is None else (rng | nan_pred)
    if rng is not None:
        scanned = scanned.where(rng)
    local = spark.createDataFrame(
        [(r["__k"],) for r in rows],
        schema=StructType([k_field])).withColumnRenamed("__k", key_col)
    result = scanned.join(F.broadcast(local), on=key_col, how="left_semi")
    return result, {"files_total": files_total,
                    "files_scanned": len(files)}


def pruned_range_scan(spark: SparkSession, path: str, index_df: DataFrame,
                      key_col: str, lo, hi, *,
                      files_total: int | None = None,
                      ) -> tuple[DataFrame, dict]:
    """Exact ``lo <= key_col <= hi`` scan reading only overlapping files.

    Range predicates are the zone map's home turf (a Bloom cannot
    answer "any member in [lo, hi]?"): a file qualifies iff its
    [min_key, max_key] interval overlaps [lo, hi]. On a
    range-clustered layout the candidates are exactly the files whose
    span the predicate crosses — O(predicate width / file span)
    instead of O(files). The residual per-row filter on the scanned
    files makes the result bit-identical to the full scan.
    """
    full = spark.read.parquet(path)
    # NULL bounds on an n_rows > 0 file mark NaN keys — kept
    # conservatively (the residual row filter makes the result exact
    # regardless); n_rows = 0 sentinels (all-NULL-key files) can never
    # satisfy a range predicate and are excluded.
    pred = (F.col("n_rows") > 0) \
        & ((F.col("max_key") >= F.lit(lo)) | F.col("max_key").isNull()) \
        & ((F.col("min_key") <= F.lit(hi)) | F.col("min_key").isNull())
    files = [r["file"] for r in
             index_df.where(pred).select("file").collect()]
    if files_total is None:
        files_total = index_df.select("file").distinct().count()
    if not files:
        return full.where(F.lit(False)), {
            "files_total": files_total, "files_scanned": 0}
    scanned = spark.read.schema(full.schema).parquet(*files)
    result = scanned.where(F.col(key_col).between(F.lit(lo), F.lit(hi)))
    return result, {"files_total": files_total,
                    "files_scanned": len(files)}


def extend_scan_index(spark: SparkSession, index_df: DataFrame, path: str,
                      key_col: str, *, fpp: float = 0.01,
                      seed: int = 0) -> DataFrame:
    """Union ``index_df`` with index rows for files it does not cover yet.

    The per-file rows are independent (each Bloom is sized from its
    own file's row count), so appended data needs no rebuild: list the
    table's files, anti-join against the already-indexed names, and
    run ``build_scan_index``'s one-pass build over only the delta.
    The file listing itself is a metadata operation — no data files
    are opened for already-indexed files.
    """
    listed = (spark.read.parquet(path)
              .select(F.input_file_name().alias("file")).distinct())
    new_files = [r["file"] for r in
                 listed.join(index_df.select("file"), on="file",
                             how="left_anti").collect()]
    if not new_files:
        return index_df
    delta = build_scan_index_for_files(spark, new_files, key_col,
                                       fpp=fpp, seed=seed)
    return index_df.unionByName(delta)


def build_scan_index_for_files(spark: SparkSession, files: Sequence[str],
                               key_col: str, *, fpp: float = 0.01,
                               seed: int = 0) -> DataFrame:
    """``build_scan_index`` over an explicit file list (the delta path)."""
    return _index_over(spark.read.parquet(*files), key_col, fpp, seed)
