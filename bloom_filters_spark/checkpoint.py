"""Partial-sketch checkpointing with lineage + resume.

north_rule: "Per-partition sketches carry lineage and are checkpointed
to Iceberg so a killed job resumes by merging surviving partials."

Design (Iceberg-shaped, parquet-backed — SURVEY.md §7 sandbox note: the
table schema matches an Iceberg append table; swapping the writer to
``writeTo(...).append()`` is a config change, no Iceberg jars here):

- work is split into ``n_shards`` CONTENT-ADDRESSED shards:
  shard = pmod(xxhash64(key, seed), n_shards). Shard membership depends
  only on row content, never on partition ids or task scheduling — so a
  re-run of shard 17 on any cluster layout rebuilds byte-identical
  state, which is what makes resume sound.
- each shard's partial sketch row carries lineage:
  (sketch_id, shard, attempt, n_rows, source, created_ts, payload).
- resume(sketch_id) = read surviving partials, keep the latest attempt
  per shard, recompute ONLY missing shards (filter pushdown on the
  shard expression), merge everything.

The final merged sketch is byte-identical between an uninterrupted run
and any kill/resume sequence (asserted in tests) because the monoid
merges are order-invariant and shard contents are content-addressed.
"""

from __future__ import annotations

import datetime as dt
import os
import secrets
import time
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.agg import _feed, _input_col, fold_payloads

# Single source of truth for the lineage table: (name, iceberg_type).
# _LINEAGE_SCHEMA, ICEBERG_DDL, and CATALOG_DDL are all derived from
# this list so a column added here lands in every surface at once — a
# column added to one literal but not another would only surface when
# the *other* backend is exercised (writeTo().append() schema mismatch).
_LINEAGE_COLUMNS = [
    ("sketch_id", "string"),
    ("shard", "int"),
    ("attempt", "long"),
    ("n_rows", "long"),
    ("source", "string"),
    ("created_ts", "timestamp"),
    ("build_ms", "long"),
    ("n_bytes", "long"),
    ("payload", "binary"),
]

# Iceberg type -> Spark DDL type for the contract test
_ICEBERG_TO_SPARK = {"string": "string", "int": "int", "long": "bigint",
                     "timestamp": "timestamp", "binary": "binary"}

# every Iceberg type name above is also valid Spark DDL, so the Spark
# schema string can use the same spellings directly
_LINEAGE_SCHEMA = ", ".join(f"{n} {t}" for n, t in _LINEAGE_COLUMNS)

_DDL_BODY = ",\n".join(f"  {n:<10} {t}" for n, t in _LINEAGE_COLUMNS)

# The documented Iceberg DDL this lineage table maps onto 1:1 — the
# production form of the checkpoint store (every type is the exact
# Iceberg type Spark's writeTo(...).append() produces for the
# corresponding Spark type; asserted by tests/test_checkpoint_streaming
# test_iceberg_schema_contract so the "swap the writer" claim is a
# tested contract, not prose). Partitioning by shard gives resume's
# per-shard reads partition pruning for free.
ICEBERG_DDL = ("CREATE TABLE IF NOT EXISTS {table} (\n" + _DDL_BODY
               + "\n) USING iceberg PARTITIONED BY (shard)")

# Catalog-agnostic form of the same table: any DataSourceV2 catalog
# (Iceberg on a cluster; Spark's built-in JDBCTableCatalog over embedded
# Derby in the sandbox — tests/test_checkpoint_streaming
# test_catalog_table_kill_resume runs the LIVE writeTo().append() +
# read-back + resume through it). The write branch is therefore
# executed in-repo, not just schema-contract-checked; swapping to
# Iceberg is exactly one catalog config.
CATALOG_DDL = "CREATE TABLE IF NOT EXISTS {table} (\n" + _DDL_BODY + "\n)"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jars are on the classpath
    (sandbox has none; a cluster with --packages
    org.apache.iceberg:iceberg-spark-runtime-* returns True and the
    checkpoint store writes through writeTo(...).append())."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _shard_col(col: str, n_shards: int, seed: int):
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed + 7919)), F.lit(n_shards))


def _build_shard_partials(df: DataFrame, col: str, factory: Callable,
                          sketch_id: str, shards: list[int] | None,
                          n_shards: int, seed: int, attempt: int,
                          source: str, value_based: bool) -> DataFrame:
    """One partial sketch row per shard (content-addressed groups)."""
    sel = df.where(F.col(col).isNotNull()).select(
        _shard_col(col, n_shards, seed).cast("int").alias("shard"),
        _input_col(col, seed, value_based))
    if shards is not None:
        sel = sel.where(F.col("shard").isin([int(s) for s in shards]))
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.time()
        sk = factory()
        _feed(sk, pdf["__v"], value_based)
        payload = sk.to_bytes()
        # per-shard metrics ride the lineage row (north_rule "lineage +
        # metrics"): build wall ms + sketch bytes — the two numbers a
        # straggler/size dashboard needs per unit of resumable work
        return pd.DataFrame({
            "sketch_id": [sketch_id], "shard": [int(key[0])],
            "attempt": [attempt], "n_rows": [len(pdf)],
            "source": [source], "created_ts": [now],
            "build_ms": [int((time.time() - t0) * 1000)],
            "n_bytes": [len(payload)], "payload": [payload]})

    return sel.groupBy("shard").applyInPandas(build, schema=_LINEAGE_SCHEMA)


class SketchCheckpoint:
    """Checkpointed sketch builds over an append-only lineage table.

    Store backends: parquet directory (default; the sandbox has no
    Iceberg jars) or an Iceberg table when ``iceberg_table`` is given
    and the runtime is on the classpath — same schema (ICEBERG_DDL),
    same append-only semantics, so resume logic is backend-agnostic."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str,
                 n_shards: int = 64, seed: int = 0,
                 iceberg_table: str | None = None,
                 catalog_table: str | None = None):
        self.spark = spark
        self.dir = checkpoint_dir
        self.n_shards = int(n_shards)
        self.seed = int(seed)
        self.iceberg_table = iceberg_table
        # ``catalog_table``: any DataSourceV2 catalog table (e.g. Spark's
        # JDBCTableCatalog over Derby); same append-only writeTo() branch
        # as Iceberg, no Iceberg runtime required.
        self.catalog_table = catalog_table
        if iceberg_table is not None:
            if not iceberg_available(spark):
                raise RuntimeError(
                    "iceberg_table given but no Iceberg runtime on the "
                    "classpath (add --packages org.apache.iceberg:"
                    "iceberg-spark-runtime-...)")
            spark.sql(ICEBERG_DDL.format(table=iceberg_table))
        elif catalog_table is not None:
            spark.sql(CATALOG_DDL.format(table=catalog_table))

    @property
    def _v2_table(self) -> str | None:
        return self.iceberg_table or self.catalog_table

    def _append(self, df: DataFrame) -> None:
        if self._v2_table is not None:
            df.writeTo(self._v2_table).append()
        else:
            df.write.mode("append").parquet(self.dir)

    def _table(self) -> DataFrame | None:
        if self._v2_table is not None:
            t = self.spark.read.table(self._v2_table)
            return t if t.limit(1).count() else None
        if not os.path.isdir(self.dir):
            return None
        try:
            return self.spark.read.parquet(self.dir)
        except Exception:
            return None

    def _write_partials(self, df, col, factory, sketch_id, shards,
                        attempt, source, value_based) -> None:
        """Write shard partials + explicit zero-sketch rows for shards
        that matched no data (so an empty shard counts as DONE and is
        not pointlessly recomputed on every resume)."""
        partials = _build_shard_partials(
            df, col, factory, sketch_id, shards, self.n_shards, self.seed,
            attempt, source, value_based)
        self._append(partials)
        requested = set(range(self.n_shards)) if shards is None else set(shards)
        written = self.surviving_shards(sketch_id, attempt=attempt)
        empty = sorted(requested - written)
        if empty:
            now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            zero = bytearray(factory().to_bytes())
            rows = [(sketch_id, int(s), attempt, 0, source, now,
                     0, len(zero), zero) for s in empty]
            self._append(self.spark.createDataFrame(rows, _LINEAGE_SCHEMA))

    def build(self, df: DataFrame, col: str, factory: Callable,
              sketch_id: str, *, source: str = "", value_based: bool = False,
              fail_after_shards: int | None = None):
        """Full checkpointed build. ``fail_after_shards`` simulates a kill:
        only that many shards are checkpointed before raising (test hook
        for the north_rule resume test)."""
        # microsecond clock + random low-bits salt: two writers that
        # build the same sketch_id in the same instant must not mint
        # the same attempt id (resume keeps max(attempt) per shard — a
        # duplicate id would merge BOTH rows and double-count
        # non-idempotent sketches)
        attempt = (time.time_ns() // 1000 << 10) | secrets.randbelow(1024)
        shards = None
        if fail_after_shards is not None:
            shards = list(range(fail_after_shards))
        self._write_partials(df, col, factory, sketch_id, shards, attempt,
                             source, value_based)
        if fail_after_shards is not None:
            raise RuntimeError(
                f"simulated kill after {fail_after_shards} shards")
        return self.resume(df, col, factory, sketch_id, source=source,
                           value_based=value_based)

    def surviving_shards(self, sketch_id: str,
                         attempt: int | None = None) -> set[int]:
        t = self._table()
        if t is None:
            return set()
        t = t.where(F.col("sketch_id") == sketch_id)
        if attempt is not None:
            t = t.where(F.col("attempt") == attempt)
        return {r["shard"] for r in t.select("shard").distinct().collect()}

    def resume(self, df: DataFrame, col: str, factory: Callable,
               sketch_id: str, *, source: str = "",
               value_based: bool = False):
        """Recompute only missing shards, then merge latest-attempt
        partials per shard → (sketch, n_rows, lineage summary)."""
        have = self.surviving_shards(sketch_id)
        missing = sorted(set(range(self.n_shards)) - have)
        if missing:
            # collision-safe attempt id (see build())
            attempt = ((time.time_ns() // 1000 << 10)
                       | secrets.randbelow(1024))
            self._write_partials(df, col, factory, sketch_id, missing,
                                 attempt, source, value_based)
        t = self._table().where(F.col("sketch_id") == sketch_id)
        # latest attempt per shard wins (idempotent re-runs)
        latest = (t.groupBy("shard")
                  .agg(F.max("attempt").alias("attempt")))
        rows = (t.join(latest, ["shard", "attempt"])
                .select("shard", "n_rows", "payload")
                .collect())
        rows = sorted(rows, key=lambda r: r["shard"])
        sk, n = fold_payloads([r["payload"] for r in rows],
                              [r["n_rows"] for r in rows])
        lineage = {"sketch_id": sketch_id, "n_shards": self.n_shards,
                   "recomputed_shards": missing, "n_rows": n}
        return sk, n, lineage
