"""Re-aggregatable sketch rollups — the "sketch cube" pattern.

The north-star queries ask distinct-url / distinct-host cardinality
over a 10^12-document table "for host X last week" style: rescanning
the table per question is the thing a sketch library exists to avoid.
The standard production answer is a ROLLUP: build per-(time-bucket,
group) sketch partials ONCE (one scan), store the KB-sized payloads,
and answer any bucket subset later by MERGING stored partials — no
second look at the data, arbitrarily re-aggregatable because merge is
the sketch's own associative operator.

For max-register sketches (HLL) the merged result is BYTE-identical
to a direct build over the same rows — register content is an
elementwise max, a pure function of the row set — so a rollup answer
is not an approximation OF an approximation; it IS the sketch the
full scan would have produced (test-pinned). Theta/CMS/KLL rollups
are estimate-equivalent within their published merge guarantees.

At 100 TB: the cube is (buckets × groups) payload rows — e.g. 365
days × 1e6 hosts × ~100 B sparse payloads ≈ 36 GB, queryable in
milliseconds, vs a 100 TB rescan per question. The build is exactly
one `build_grouped_sketches` pass (map-side combine, batched reduce).

Reference analogue: none — the reference's filters answer only
whole-dataset questions (Bloom_project/src/core/Bloom_project.cpp
menu flows build one filter per run); the rollup is the Spark-native
extension that makes the same sketches answer sliced questions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from .agg import _keyed_payload_schema, build_grouped_sketches, fold_payloads


def rollup_sketches(df: DataFrame, col: str, factory: Callable, *,
                    time_col: str, grain: str = "day",
                    group_cols=(), seed: int = 0,
                    value_based: bool = False,
                    bucket_col: str = "bucket") -> DataFrame:
    """→ DataFrame(group_cols..., bucket timestamp, payload, n_rows):
    one mergeable sketch partial per (group, time bucket).

    ``grain`` is a date_trunc unit ('hour' | 'day' | 'week' | 'month'
    | ...). Persist/write the result once; answer slices forever with
    ``query_rollup``. Incremental maintenance is append-only: roll up
    ONLY the new day's rows and union — buckets never overlap, so no
    existing row is ever rewritten."""
    if bucket_col in df.columns:
        raise ValueError(
            f"bucket_col {bucket_col!r} collides with an input column — "
            "pass bucket_col=<free name>")
    bucketed = df.withColumn(bucket_col,
                             F.date_trunc(grain, F.col(time_col)))
    return build_grouped_sketches(bucketed, col, factory,
                                  [*group_cols, bucket_col], seed=seed,
                                  value_based=value_based)


def query_rollup(cube: DataFrame, predicate=None, *,
                 max_partials: int = 65536):
    """Merge the cube rows selected by ``predicate`` (a Column over
    the group/bucket columns, None = all) → (sketch, n_rows).

    The driver folds ≤ max_partials KB-sized payloads (a week × one
    host = 7 rows); selecting more than ``max_partials`` raises with
    guidance rather than silently OOMing the driver — pre-aggregate
    with a coarser grain or a distributed merge instead."""
    sel = cube if predicate is None else cube.where(predicate)
    rows = sel.select("payload", "n_rows").take(max_partials + 1)
    if len(rows) > max_partials:
        raise ValueError(
            f"query_rollup selected > max_partials={max_partials} cube "
            "rows; re-roll at a coarser grain, tighten the predicate, "
            "or raise max_partials if the driver can hold them")
    if not rows:
        return None, 0
    return fold_payloads([bytes(r["payload"]) for r in rows],
                         [r["n_rows"] for r in rows])


def query_rollup_many(cube: DataFrame, questions: dict, *,
                      max_questions: int = 4096) -> dict:
    """Answer MANY slice questions from the cube in ONE cluster job:
    ``questions`` maps name → predicate Column (over the group/bucket
    columns); → {name: (sketch, n_rows)}, (None, 0) where nothing
    matched.

    Each cube row is tagged with every question it serves (a row may
    serve several — e.g. overlapping time windows), exploded on the
    tag, and folded per question with the batched grouped merge — so a
    K-question dashboard costs ONE wide scan of the cube instead of
    K ``query_rollup`` jobs. Only the ≤ K (payload, n) answers reach
    the driver. For max-register sketches (HLL) each answer is
    BYTE-identical to ``query_rollup(cube, pred)`` — register content
    is a pure function of the selected row set; order-sensitive
    sketches (KLL/t-digest) are estimate-equivalent within their merge
    guarantees."""
    from ..kernels import sketch_from_bytes
    from .agg import _merge_grouped

    if not questions:
        return {}
    if len(questions) > max_questions:
        raise ValueError(
            f"query_rollup_many got {len(questions)} questions > "
            f"max_questions={max_questions}; batch the dashboard or "
            "raise the cap")
    tags = F.array_compact(F.array(*[
        F.when(pred, F.lit(name)) for name, pred in questions.items()]))
    tagged = cube.select(F.explode(tags).alias("__q"),
                         "payload", "n_rows")
    merged = (tagged.repartition("__q")
              .mapInPandas(_merge_grouped(["__q"]),
                           schema="`__q` string, payload binary, "
                                  "n_rows long"))
    out = {name: (None, 0) for name in questions}
    for r in merged.collect():
        out[r["__q"]] = (sketch_from_bytes(bytes(r["payload"])),
                         int(r["n_rows"]))
    return out


def rollup_group_estimates(cube: DataFrame, group_cols, predicate=None,
                           estimator: str = "estimate",
                           estimator_args: tuple = ()) -> DataFrame:
    """Distributed slice query: → DataFrame(group_cols..., n_rows,
    estimate) — one estimate per group over the cube rows selected by
    ``predicate`` (e.g. a bucket range). The per-group fold runs on the
    CLUSTER (repartition on the group key + the batched
    ``_merge_grouped``), so "per-host distinct over last week" scales
    to any group cardinality — ``query_rollup`` is the driver-side
    single-answer twin, this is the per-group table."""
    from .agg import _merge_grouped, estimate_grouped

    gcols = list(group_cols)
    sel = cube if predicate is None else cube.where(predicate)
    schema = _keyed_payload_schema(sel, gcols)
    merged = (sel.select(*gcols, "payload", "n_rows")
              .repartition(*gcols)
              .mapInPandas(_merge_grouped(gcols), schema=schema))
    return (estimate_grouped(merged, estimator=estimator,
                             args=estimator_args)
            .drop("payload"))


def compact_cube(cube: DataFrame, group_cols, *,
                 bucket_col: str = "bucket") -> DataFrame:
    """→ the same cube with ONE row per (group, bucket): folds
    multi-partial buckets — e.g. a streamed cube's per-batch rows —
    via the batched grouped merge, cluster-side. Purely a
    read-amplification optimization for aged cubes (`query_rollup`
    and `rollup_group_estimates` already merge whatever partials a
    slice selects); answers are unchanged, and for max-register
    sketches each compacted payload is BYTE-identical to a single-pass
    build of its (group, bucket) slice."""
    from .agg import _merge_grouped

    keycols = [*group_cols, bucket_col]
    schema = _keyed_payload_schema(cube, keycols)
    return (cube.select(*keycols, "payload", "n_rows")
            .repartition(*keycols)
            .mapInPandas(_merge_grouped(keycols), schema=schema))
