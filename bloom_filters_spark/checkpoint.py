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

Build plan (the library's one grouped map body, as in ``build_sharded``):
JVM shard id + ``__v`` → repartition on shard → ``_grouped_partials``
folds each shard whole in one task → ONE JVM projection adds the
lineage columns. ``build_ms`` is the shard's completion latency: the
executor clock when its row is projected minus the attempt's start
taken on the driver, floored at 0 (0 for zero-sketch rows).

Store I/O never reads back what the driver already knows (Spark jobs
per call on the parquet store; AQE runs the shard shuffle as its own
job):

- a write (``_write_partials``) = the distributed shard-partial append
  (2 jobs: shuffle + write), ONE read-back of its own attempt's
  (shard, n_rows, payload) rows (1 job; attempt ids are unique), and —
  only when some requested shard matched no rows — one JVM-only append
  of zero-sketch rows built from literals (1 job). It returns
  {shard: (attempt, n_rows, payload)}, so ``build`` folds that directly.
- ``resume`` reads (shard, attempt, n_rows, payload) for the sketch_id
  ONCE (1 job), keeps the latest attempt per shard on the driver,
  writes only the missing shards, and folds the union: no second read,
  no join.
- the parquet store is read with the explicit lineage schema (no
  schema-inference job); the DataSourceV2 store is read as-is.

Kill + resume therefore costs 3 + 4 jobs and a no-op resume 1
(budget pinned by tests/test_checkpoint_streaming).

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

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.agg import _grouped_partial_rows, fold_payloads

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


def _new_attempt() -> int:
    """Microsecond clock + random low-bits salt: two writers that build
    the same sketch_id in the same instant must not mint the same
    attempt id (resume keeps max(attempt) per shard, and a write reads
    back its own rows by attempt id — a duplicate id would merge BOTH
    rows and double-count non-idempotent sketches)."""
    return (time.time_ns() // 1000 << 10) | secrets.randbelow(1024)


def _shard_col(col: str, n_shards: int, seed: int):
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed + 7919)), F.lit(n_shards))


def _lineage_rows(parts: DataFrame, sketch_id: str, attempt: int,
                  source: str, start_ms: int | None) -> DataFrame:
    """(shard, n_rows, payload) → lineage rows in ONE JVM projection;
    ``build_ms`` as in the module docstring, 0 when ``start_ms`` is None."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    build_ms = F.lit(0) if start_ms is None else F.greatest(
        F.expr("java_method('java.lang.System', 'currentTimeMillis')")
        .cast("long") - F.lit(start_ms), F.lit(0))
    cols = {"sketch_id": F.lit(sketch_id), "attempt": F.lit(attempt),
            "source": F.lit(source), "created_ts": F.lit(now),
            "build_ms": build_ms, "n_bytes": F.octet_length("payload")}
    return parts.select(*[cols.get(n, F.col(n)).cast(t).alias(n)
                          for n, t in _LINEAGE_COLUMNS])


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
            return self.spark.read.table(self._v2_table)
        if not os.path.isdir(self.dir):
            return None
        # explicit schema: without it every read runs a footer-sampling
        # schema-inference job before the real one
        return self.spark.read.schema(_LINEAGE_SCHEMA).parquet(self.dir)

    def _rows(self, sketch_id: str, cols: list[str],
              attempt: int | None = None) -> list:
        """One job: ``cols`` of every lineage row of ``sketch_id``
        (optionally of one attempt only), collected to the driver."""
        t = self._table()
        if t is None:
            return []
        t = t.where(F.col("sketch_id") == sketch_id)
        if attempt is not None:
            t = t.where(F.col("attempt") == attempt)
        return t.select(*cols).collect()

    def _write_partials(self, df, col, factory, sketch_id, shards,
                        attempt, source, value_based) -> dict:
        """Append shard partials, then explicit zero-sketch rows for
        shards that matched no data (so an empty shard counts as DONE
        and is not pointlessly recomputed on every resume).

        → {shard: (attempt, n_rows, payload)} for every requested shard:
        the attempt's own rows, read back once (attempt ids are unique,
        so the read sees exactly this write), plus the zero rows, which
        the driver already knows and never reads back."""
        start_ms = time.time_ns() // 1_000_000
        keyed = df.select(
            _shard_col(col, self.n_shards, self.seed).cast("int")
            .alias("shard"), F.col(col).alias("__k"))
        if shards is not None:
            keyed = keyed.where(F.col("shard").isin(list(map(int, shards))))
        parts = _grouped_partial_rows(keyed, "__k", factory, ["shard"],
                                      self.seed, value_based,
                                      whole_groups=True)
        self._append(_lineage_rows(parts, sketch_id, attempt, source,
                                   start_ms))
        written = {r["shard"]: (attempt, r["n_rows"], r["payload"])
                   for r in self._rows(sketch_id,
                                       ["shard", "n_rows", "payload"],
                                       attempt)}
        requested = range(self.n_shards) if shards is None else shards
        empty = sorted(set(requested) - written.keys())
        if empty:
            zero = factory().to_bytes()
            # a JVM-only literal plan: a pickled-list createDataFrame
            # would run Python tasks just to ship a handful of rows
            ids = (self.spark.range(self.n_shards)
                   .where(F.col("id").isin(empty)))
            self._append(_lineage_rows(
                ids.select(F.col("id").alias("shard"),
                           F.lit(0).alias("n_rows"),
                           F.lit(bytearray(zero)).alias("payload")),
                sketch_id, attempt, source, None))
            written.update((s, (attempt, 0, zero)) for s in empty)
        return written

    def _fold(self, sketch_id: str, latest: dict, recomputed: list[int]):
        shards = sorted(latest)
        sk, n = fold_payloads([latest[s][2] for s in shards],
                              [latest[s][1] for s in shards])
        lineage = {"sketch_id": sketch_id, "n_shards": self.n_shards,
                   "recomputed_shards": recomputed, "n_rows": n}
        return sk, n, lineage

    def build(self, df: DataFrame, col: str, factory: Callable,
              sketch_id: str, *, source: str = "", value_based: bool = False,
              fail_after_shards: int | None = None):
        """Full checkpointed build. ``fail_after_shards`` simulates a kill:
        only that many shards are checkpointed before raising (test hook
        for the north_rule resume test)."""
        shards = None
        if fail_after_shards is not None:
            shards = list(range(fail_after_shards))
        written = self._write_partials(df, col, factory, sketch_id, shards,
                                       _new_attempt(), source, value_based)
        if fail_after_shards is not None:
            raise RuntimeError(
                f"simulated kill after {fail_after_shards} shards")
        return self._fold(sketch_id, written, [])

    def surviving_shards(self, sketch_id: str,
                         attempt: int | None = None) -> set[int]:
        return {r["shard"] for r in self._rows(sketch_id, ["shard"], attempt)}

    def resume(self, df: DataFrame, col: str, factory: Callable,
               sketch_id: str, *, source: str = "",
               value_based: bool = False):
        """Recompute only missing shards, then merge latest-attempt
        partials per shard → (sketch, n_rows, lineage summary)."""
        # latest attempt per shard wins (idempotent re-runs)
        latest: dict = {}
        for r in self._rows(sketch_id,
                            ["shard", "attempt", "n_rows", "payload"]):
            s = r["shard"]
            if s not in latest or r["attempt"] > latest[s][0]:
                latest[s] = (r["attempt"], r["n_rows"], r["payload"])
        missing = sorted(set(range(self.n_shards)) - latest.keys())
        if missing:
            latest.update(self._write_partials(
                df, col, factory, sketch_id, missing, _new_attempt(),
                source, value_based))
        return self._fold(sketch_id, latest, missing)
