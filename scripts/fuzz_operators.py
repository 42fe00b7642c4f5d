"""Randomized differential fuzz for the batch operator families.

Checks in, as a reproducible harness, the four driver-side
differential passes over skipping + reconcile, sharded delete and
query_rollup_many, so they re-run from the repo instead of being
re-derived ad hoc:

  1. skipping: `pruned_lookup` vs the exact full-scan left-semi join
     over random long/double/string key tables — WITH NULL keys, NaN
     doubles, NaN/absent probes, random file counts and fpp — result
     must be row-for-row identical and the skip stats sane;
  2. reconcile: `reconcile_rows` vs an exact diff over random edit
     mixes (adds, removes, value changes including NULL<->value flips
     and column-shift swaps, random shard counts) — exact
     left_only/right_only/changed classification;
  3. sharded delete (counting AND cuckoo shards, random shard counts
     and fp targets): interleaved removal waves within the documented
     multiset contract (a key inserted c times removed <= c times,
     partial-multiplicity waves included) vs an exact multiset oracle
     — zero false negatives for keys with remaining count > 0,
     fully-removed keys seen at <= the fp bound;
  4. rollup: `query_rollup_many` over random question sets (NULL-safe
     group filters, bucket ranges, tautology/contradiction, overlaps)
     byte-identical per question to per-question `query_rollup`, and
     `compact_cube` over a multi-partial (streamed-shape) cube
     preserving every answer's bytes.

Run: python scripts/fuzz_operators.py [n_trials]   (default 8)
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bloom_filters_spark.kernels import HLLSketch  # noqa: E402
from bloom_filters_spark.operators import skipping as sk  # noqa: E402
from bloom_filters_spark.operators.reconcile import reconcile_rows  # noqa: E402
from bloom_filters_spark.operators.rollup import (  # noqa: E402
    compact_cube, query_rollup, query_rollup_many, rollup_sketches)
from bloom_filters_spark.operators.sharded import (  # noqa: E402
    build_sharded, counting_shard_factory, cuckoo_shard_factory,
    probe_sharded, remove_sharded)
from fuzzlib import check, run  # noqa: E402


def _rows(df):
    """Order-insensitive row multiset (NaN normalized for equality)."""
    out = []
    for r in df.collect():
        out.append(tuple("__nan__" if isinstance(v, float) and v != v
                         else v for v in r))
    return sorted(out, key=repr)


# ---------------------------------------------------------------- 1. skipping

def trial_skipping(spark, rng, seed, work):
    kind = rng.choice(["long", "double", "string"])
    n = int(rng.integers(300, 3000))
    n_files = int(rng.integers(3, 13))
    fpp = float(rng.choice([0.001, 0.01, 0.05]))
    if kind == "long":
        keys = rng.integers(-10**9, 10**9, n).astype("object")
    elif kind == "double":
        keys = rng.normal(0, 1e6, n).astype("object")
        keys[rng.random(n) < 0.02] = float("nan")
    else:
        keys = np.array([f"k{int(v):012d}" for v in
                         rng.integers(0, 10**10, n)], dtype="object")
    keys[rng.random(n) < 0.03] = None
    pdf = pd.DataFrame({"k": keys,
                        "v": rng.integers(0, 1000, n)})
    spark_type = {"long": "long", "double": "double",
                  "string": "string"}[kind]
    df = spark.createDataFrame(pdf).select(
        F.col("k").cast(spark_type), F.col("v").cast("long"))
    path = os.path.join(work, f"skip{seed}")
    sk.stage_clustered(df, path, "k", n_files)
    idx = sk.build_scan_index(spark, path, "k", fpp=fpp, seed=seed)

    # probes: a random sample of present keys + absent keys (+ NaN)
    present = [v for v in keys if v is not None][: int(rng.integers(1, 40))]
    if kind == "long":
        absent = list(rng.integers(2 * 10**9, 3 * 10**9, 10))
    elif kind == "double":
        absent = list(rng.normal(1e9, 1, 10))
        if rng.random() < 0.5:
            absent.append(float("nan"))
    else:
        absent = [f"absent{i}" for i in range(10)]
    probe_pdf = pd.DataFrame({"k": pd.Series(present + absent,
                                             dtype="object")})
    probes = spark.createDataFrame(probe_pdf).select(
        F.col("k").cast(spark_type))

    got, stats = sk.pruned_lookup(spark, path, idx, probes, "k",
                                  seed=seed)
    want = spark.read.parquet(path).join(probes, on="k", how="left_semi")
    check(_rows(got) == _rows(want),
          f"skipping mismatch kind={kind} seed={seed}")
    check(0 <= stats["files_scanned"] <= stats["files_total"],
          f"skipping stats insane {stats} seed={seed}")

    # range scan: random [lo, hi] (sometimes empty/everything) must be
    # bit-identical to the full-scan between filter, NULL/NaN included
    if kind == "long":
        lo, hi = sorted(rng.integers(-2 * 10**9, 2 * 10**9, 2))
        lo, hi = int(lo), int(hi)
    elif kind == "double":
        lo, hi = sorted(rng.normal(0, 2e6, 2))
        lo, hi = float(lo), float(hi)
    else:
        lo, hi = sorted([f"k{int(rng.integers(0, 10**10)):012d}"
                         for _ in range(2)])
    rgot, rstats = sk.pruned_range_scan(spark, path, idx, "k", lo, hi)
    rwant = spark.read.parquet(path).where(
        (F.col("k") >= F.lit(lo)) & (F.col("k") <= F.lit(hi)))
    check(_rows(rgot) == _rows(rwant),
          f"range-scan mismatch kind={kind} [{lo},{hi}] seed={seed}")
    check(0 <= rstats["files_scanned"] <= rstats["files_total"],
          f"range-scan stats insane {rstats} seed={seed}")


# --------------------------------------------------------------- 2. reconcile

def trial_reconcile(spark, rng, seed):
    n = int(rng.integers(500, 4000))
    ids = np.arange(n) + int(rng.integers(0, 10**6))
    v1 = rng.integers(0, 10**6, n).astype("object")
    v2 = np.array([f"s{int(v)}" for v in rng.integers(0, 10**6, n)],
                  dtype="object")
    v1[rng.random(n) < 0.05] = None
    v2[rng.random(n) < 0.05] = None
    right = pd.DataFrame({"id": ids, "v1": v1, "v2": v2})

    left = right.copy()
    n_add = int(rng.integers(0, 15))
    n_rm = int(rng.integers(0, 15))
    n_chg = int(rng.integers(0, 20))
    adds = pd.DataFrame({
        "id": np.arange(n_add) + ids.max() + 1,
        "v1": rng.integers(0, 10**6, n_add).astype("object"),
        "v2": np.array([f"a{i}" for i in range(n_add)], dtype="object")})
    rm_idx = rng.choice(n, size=n_rm, replace=False) if n_rm else []
    chg_pool = [i for i in range(n) if i not in set(np.asarray(rm_idx))]
    chg_idx = rng.choice(chg_pool, size=min(n_chg, len(chg_pool)),
                         replace=False) if n_chg else []
    for i in np.asarray(chg_idx, dtype=int):
        mode = rng.integers(0, 4)
        if mode == 0:                       # value edit
            left.loc[i, "v1"] = int(rng.integers(10**7, 10**8))
        elif mode == 1:                     # NULL <-> value flip
            left.loc[i, "v1"] = (None if left.loc[i, "v1"] is not None
                                 else int(rng.integers(0, 10**6)))
        elif mode == 2:                     # string edit
            left.loc[i, "v2"] = f"chg{i}"
        else:                               # column-shift shaped swap
            left.loc[i, "v2"] = (None if left.loc[i, "v2"] is not None
                                 else str(left.loc[i, "v1"]))
            left.loc[i, "v1"] = None
    left = pd.concat([left.drop(index=np.asarray(rm_idx, dtype=int)),
                      adds], ignore_index=True)

    ldf = spark.createDataFrame(left).select(
        F.col("id").cast("long"), F.col("v1").cast("long"),
        F.col("v2").cast("string"))
    rdf = spark.createDataFrame(right).select(
        F.col("id").cast("long"), F.col("v1").cast("long"),
        F.col("v2").cast("string"))

    # exact oracle classification in pandas
    lm = left.set_index("id")
    rm_ = right.set_index("id")
    want = {}
    for i in set(lm.index) - set(rm_.index):
        want[int(i)] = "left_only"
    for i in set(rm_.index) - set(lm.index):
        want[int(i)] = "right_only"
    for i in set(lm.index) & set(rm_.index):
        a, b = lm.loc[i], rm_.loc[i]
        same = all((pd.isna(a[c]) and pd.isna(b[c])) or
                   (not pd.isna(a[c]) and not pd.isna(b[c])
                    and a[c] == b[c]) for c in ("v1", "v2"))
        if not same:
            want[int(i)] = "changed"

    # IBF peel non-completion is PROBABILISTIC (a stopping set can
    # occur at any finite sizing — observed once with 9 items in 64
    # cells across hundreds of fuzzed shard decodes) and the operator
    # fails LOUDLY there by design, telling the caller to raise the
    # bound. The fuzz tests CLASSIFICATION, so it does what a caller
    # does: retry at a larger capacity. Two escalations both failing
    # would be a real defect.
    cap = max(128, 4 * (n_add + n_rm + 2 * len(np.asarray(chg_idx))))
    n_shards = int(rng.choice([8, 16, 32]))
    got_df = None
    for capm in (cap, 4 * cap, 16 * cap):
        try:
            got_df = reconcile_rows(ldf, rdf, "id", ["v1", "v2"],
                                    diff_capacity=capm,
                                    n_shards=n_shards, seed=seed)
            break
        except ValueError:
            print(f"# reconcile decode non-completion at cap={capm} "
                  f"seed={seed}; escalating")
    check(got_df is not None,
          f"reconcile failed to decode at 16x capacity seed={seed}")
    if got_df is None:
        return
    got = {int(r["id"]): r["status"] for r in got_df.collect()}
    check(got == want,
          f"reconcile mismatch seed={seed}: extra="
          f"{ {k: v for k, v in got.items() if want.get(k) != v} } "
          f"missing={ {k: v for k, v in want.items() if got.get(k) != v} }")


# ----------------------------------------------------------- 3. sharded delete

def trial_sharded_delete(spark, rng, seed):
    kind = rng.choice(["counting", "cuckoo"])
    n_keys = int(rng.integers(400, 3000))
    n_shards = int(rng.choice([4, 8, 16]))
    p = float(rng.choice([0.001, 0.01]))
    factory = (counting_shard_factory(p) if kind == "counting"
               else cuckoo_shard_factory())
    keys = np.array([f"u{seed}_{i}" for i in range(n_keys)])
    mult = rng.integers(1, 4, n_keys)       # insert count c in 1..3
    rows = np.repeat(keys, mult)
    df = spark.createDataFrame(pd.DataFrame({"k": rows}))
    shards = build_sharded(df, "k", n_shards, factory=factory,
                           seed=seed).cache()
    shards.count()

    remaining = dict(zip(keys, (int(c) for c in mult)))
    n_waves = int(rng.integers(1, 4))
    for _ in range(n_waves):
        feed = []
        for k_, c in remaining.items():
            if c > 0 and rng.random() < 0.4:
                take = int(rng.integers(1, c + 1))  # partial multiplicity
                feed.extend([k_] * take)
                remaining[k_] = c - take
        if not feed:
            continue
        rdf = spark.createDataFrame(pd.DataFrame({"k": feed}))
        new = remove_sharded(rdf, "k", shards, seed=seed).cache()
        new.count()
        shards.unpersist()
        shards = new

    still = [k_ for k_, c in remaining.items() if c > 0]
    gone = [k_ for k_, c in remaining.items() if c == 0]
    if still:
        sdf = spark.createDataFrame(pd.DataFrame({"k": still}))
        fn = (probe_sharded(sdf, "k", shards, seed=seed)
              .where(~F.col("seen")).count())
        check(fn == 0, f"sharded {kind} FALSE NEGATIVES={fn} "
                       f"of {len(still)} seed={seed}")
    if gone:
        gdf = spark.createDataFrame(pd.DataFrame({"k": gone}))
        fp = (probe_sharded(gdf, "k", shards, seed=seed)
              .where(F.col("seen")).count())
        # fp bound: counting shards false-positive at ~p; cuckoo
        # fingerprints collide at ~2^-12 per bucket pair. allow slack
        # for small samples
        bound = max(8, int(4 * max(p, 0.01) * len(gone)))
        check(fp <= bound, f"sharded {kind} gone-seen={fp} > "
                           f"bound={bound} of {len(gone)} seed={seed}")
    shards.unpersist()


# ------------------------------------------------------------------ 4. rollup

def trial_rollup(spark, rng, seed):
    n = int(rng.integers(1000, 6000))
    t0 = dt.datetime(2026, 4, 1)
    etypes = np.array(["click", "view", "buy", None], dtype="object")
    pdf = pd.DataFrame({
        "etype": etypes[rng.integers(0, 4, n)],
        "ts": [t0 + dt.timedelta(minutes=float(m))
               for m in rng.uniform(0, 7 * 24 * 60, n)],
        "k": rng.integers(0, 5000, n)})
    df = spark.createDataFrame(pdf).select(
        "etype", F.col("ts").cast("timestamp"), F.col("k").cast("long"))

    # streamed-shape cube: two independent partial builds, unioned
    split = df.withColumn("__half", (F.xxhash64("k", F.lit(seed)) % 2))
    cube = (
        rollup_sketches(split.where("pmod(__half,2)=0").drop("__half"),
                        "k", lambda: HLLSketch(12), time_col="ts",
                        grain="day", group_cols=["etype"], seed=seed)
        .unionByName(
            rollup_sketches(split.where("pmod(__half,2)=1")
                            .drop("__half"),
                            "k", lambda: HLLSketch(12), time_col="ts",
                            grain="day", group_cols=["etype"],
                            seed=seed))).cache()
    cube.count()

    d = lambda i: dt.datetime(2026, 4, 1) + dt.timedelta(days=i)
    lo, hi = sorted(rng.integers(0, 8, 2))
    questions = {
        "all": F.lit(True),
        "none": F.lit(False),
        "one_type": F.col("etype") == str(rng.choice(
            ["click", "view", "buy"])),
        "null_type": F.col("etype").isNull(),
        "range": F.col("bucket").between(F.lit(d(int(lo))),
                                         F.lit(d(int(hi)))),
        "overlap": (F.col("bucket") >= F.lit(d(int(lo)))) &
                   (F.col("etype").eqNullSafe(F.lit(None).cast("string"))
                    | (F.col("etype") == "click")),
    }
    many = query_rollup_many(cube, questions)
    for name, pred in questions.items():
        one_sk, one_n = query_rollup(cube, pred)
        m_sk, m_n = many[name]
        check(one_n == m_n, f"rollup n mismatch {name} seed={seed}: "
                            f"{one_n} != {m_n}")
        a = None if one_sk is None else one_sk.to_bytes()
        b = None if m_sk is None else m_sk.to_bytes()
        check(a == b, f"rollup bytes mismatch {name} seed={seed}")

    compacted = compact_cube(cube, ["etype"]).cache()
    n_groups = cube.select("etype", "bucket").distinct().count()
    check(compacted.count() == n_groups,
          f"compact_cube row count {compacted.count()} != {n_groups} "
          f"seed={seed}")
    many_c = query_rollup_many(compacted, questions)
    for name in questions:
        a_sk, a_n = many[name]
        b_sk, b_n = many_c[name]
        check(a_n == b_n, f"compact n mismatch {name} seed={seed}")
        a = None if a_sk is None else a_sk.to_bytes()
        b = None if b_sk is None else b_sk.to_bytes()
        check(a == b, f"compact bytes mismatch {name} seed={seed}")
    compacted.unpersist()
    cube.unpersist()


if __name__ == "__main__":
    run("fuzz-operators",
        [trial_skipping, trial_reconcile, trial_sharded_delete,
         trial_rollup],
        trials=8, seed_base=9_200_000, workdir=True)
