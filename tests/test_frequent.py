"""Misra-Gries kernel + exact heavy-hitters operator."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.kernels.misragries import MisraGriesSketch
from bloom_filters_spark.kernels.hashing import to_u64
from bloom_filters_spark.operators.frequent import heavy_hitters


def _zipf_batch(rng, n, n_keys=5000, a=1.3):
    return rng.zipf(a, size=n).clip(max=n_keys).astype(np.int64)


def test_mg_never_overestimates_and_bound_holds():
    rng = np.random.default_rng(7)
    data = _zipf_batch(rng, 200_000)
    sk = MisraGriesSketch(64)
    for chunk in np.array_split(data, 37):
        sk.update_hashes(chunk)
    exact = dict(zip(*np.unique(to_u64(data), return_counts=True)))
    assert sk.n_total == data.size
    assert sk.error_bound <= data.size / 65
    est = sk.estimate_hashes(sk.keys)
    for key, e in zip(sk.keys, est):
        f = int(exact[key])
        assert e <= f and f - e <= sk.error_bound


def test_mg_retains_every_key_above_floor():
    rng = np.random.default_rng(11)
    data = _zipf_batch(rng, 300_000)
    sk = MisraGriesSketch(100)
    sk.update_hashes(data)
    keys, counts = np.unique(to_u64(data), return_counts=True)
    floor = data.size / 101
    summary = set(sk.keys.tolist())
    for key, f in zip(keys, counts):
        if f > floor:
            assert int(key) in summary


def test_mg_merge_equals_single_pass_guarantees():
    rng = np.random.default_rng(3)
    data = _zipf_batch(rng, 100_000)
    parts = np.array_split(data, 8)
    merged = MisraGriesSketch(32)
    for p in parts:
        part = MisraGriesSketch(32)
        part.update_hashes(p)
        merged = merged.merge(part)
    assert merged.n_total == data.size
    assert merged.error_bound <= data.size / 33
    exact = dict(zip(*np.unique(to_u64(data), return_counts=True)))
    est = merged.estimate_hashes(merged.keys)
    for key, e in zip(merged.keys, est):
        f = int(exact[key])
        assert e <= f and f - e <= merged.error_bound


def test_mg_serialization_roundtrip():
    from bloom_filters_spark.kernels import sketch_from_bytes
    sk = MisraGriesSketch(16)
    sk.update_hashes(np.arange(100, dtype=np.int64) % 7)
    back = sketch_from_bytes(sk.to_bytes())
    assert back.to_bytes() == sk.to_bytes()
    assert back.capacity == 16 and back.n_total == 100


def test_heavy_hitters_exact_vs_groupby(spark):
    rng = np.random.default_rng(5)
    vals = [f"tok{v}" for v in _zipf_batch(rng, 50_000, n_keys=2000)]
    df = spark.createDataFrame([(v,) for v in vals], "token string")
    df = df.repartition(8).persist()
    got = {(r["token"], r["cnt"]) for r in
           heavy_hitters(df, "token", capacity=128).collect()}
    thresh = len(vals) / 129
    want = {(r["token"], r["cnt"]) for r in
            df.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") > thresh).collect()}
    df.unpersist()
    assert got == want and got


def test_heavy_hitters_threshold_below_floor_raises(spark):
    df = spark.range(1000).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="completeness floor"):
        heavy_hitters(df, "v", capacity=10, threshold=1)


def test_heavy_hitters_nonpositive_threshold_raises_cleanly(spark):
    # threshold=0 must raise the ValueError (no ZeroDivisionError from
    # the capacity hint)
    df = spark.range(1000).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="completeness floor"):
        heavy_hitters(df, "v", capacity=10, threshold=0)
    with pytest.raises(ValueError, match="completeness floor"):
        heavy_hitters(df, "v", capacity=10, threshold=-3)


def test_heavy_hitters_by_group_max_groups_guard(spark):
    from bloom_filters_spark.operators.frequent import heavy_hitters_by_group
    df = spark.range(500).select(
        F.col("id").alias("g"), (F.col("id") % 7).alias("v"))
    with pytest.raises(ValueError, match="max_groups"):
        heavy_hitters_by_group(df, "v", ["g"], capacity=8, max_groups=100)
    # and an in-bounds grouping still works
    ok = heavy_hitters_by_group(df, "v", ["g"], capacity=8, max_groups=500)
    assert ok.count() > 0


def test_heavy_hitters_by_group_exact(spark):
    rng = np.random.default_rng(13)
    rows = []
    # two groups with DIFFERENT hot keys and sizes: per-group floors
    # must come from each group's own n, not the global stream
    for g, size, keys in (("en", 30_000, 400), ("de", 6_000, 80)):
        for v in rng.zipf(1.4, size=size).clip(max=keys):
            rows.append((g, f"{g}-tok{v}"))
    df = spark.createDataFrame(rows, "lang string, token string") \
        .repartition(8).persist()
    from bloom_filters_spark.operators.frequent import heavy_hitters_by_group
    got = {(r["lang"], r["token"], r["cnt"]) for r in
           heavy_hitters_by_group(df, "token", ["lang"],
                                  capacity=48).collect()}
    exact = df.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("cnt"))
    totals = df.groupBy("lang").agg(
        (F.count(F.lit(1)) / 49).alias("floor"))
    want = {(r["lang"], r["token"], r["cnt"]) for r in
            exact.join(totals, on="lang")
            .where(F.col("cnt") > F.col("floor")).collect()}
    # the same groups under a decimal(7,2) key: its DDL carries
    # precision/scale, so the candidate/floor tables must keep the
    # native type for the group joins to match
    dec_of = {"en": "1.50", "de": "2.25"}
    dec = df.withColumn("grp", F.when(F.col("lang") == "en", F.lit(1.5))
                        .otherwise(F.lit(2.25)).cast("decimal(7,2)"))
    dhh = heavy_hitters_by_group(dec, "token", ["grp"], capacity=48)
    assert dict(dhh.dtypes)["grp"] == "decimal(7,2)"
    dgot = {(str(r["grp"]), r["token"], r["cnt"]) for r in dhh.collect()}
    df.unpersist()
    assert got == want and got
    assert any(g == "de" for g, _, _ in got)
    assert dgot == {(dec_of[g], t, c) for g, t, c in want}


def test_mg_under_streaming_accumulation(spark):
    # MG follows the aggregator protocol, so the streaming foreachBatch
    # accumulator works unchanged: fold 5 micro-batches, then check the
    # merged summary's retention + bound against the full stream
    from bloom_filters_spark.streaming.accumulate import (
        StreamingSketchAccumulator)
    rng = np.random.default_rng(17)
    data = _zipf_batch(rng, 60_000, n_keys=1500)
    acc = StreamingSketchAccumulator("v", lambda: MisraGriesSketch(64))
    for i, chunk in enumerate(np.array_split(data, 5)):
        batch = spark.createDataFrame([(int(v),) for v in chunk],
                                      "v long")
        acc(batch, i)
    assert acc.n_rows == data.size and acc.n_batches == 5
    mg = acc.sketch
    assert mg.error_bound <= data.size / 65
    # retention over the whole stream: hashes must match the Spark-side
    # xxhash64(v, 0) the accumulator used
    hashed = spark.createDataFrame([(int(v),) for v in data], "v long") \
        .select(F.xxhash64("v", F.lit(0)).alias("h"), "v")
    counts = {r["h"]: r["c"] for r in
              hashed.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    floor = data.size / 65
    summary = set(mg.keys.view("int64").tolist())
    missing = [h for h, c in counts.items() if c > floor
               and h not in summary]
    assert not missing


def test_mg_lookup_brackets_exact_counts(spark):
    from bloom_filters_spark.operators.frequent import mg_lookup
    from bloom_filters_spark.operators.agg import build_sketch
    rng = np.random.default_rng(23)
    vals = [f"w{v}" for v in _zipf_batch(rng, 40_000, n_keys=800)]
    df = spark.createDataFrame([(v,) for v in vals], "w string") \
        .repartition(8).persist()
    mg, n = build_sketch(df, "w", lambda: MisraGriesSketch(64))
    exact = df.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    got = mg_lookup(exact, "w", mg).collect()
    df.unpersist()
    assert got
    for r in got:
        assert r["mg_lower_bound"] <= r["cnt"]
        assert r["cnt"] - r["mg_lower_bound"] <= n / 65 + 1e-9


def test_heavy_hitters_by_group_null_group_key(spark):
    """A NULL group key is a real group under Spark's groupBy: its
    heavy hitters must survive the candidate/floor joins (null-safe
    equality), not silently vanish."""
    rows = [("en", "hot")] * 40 + [("en", f"e{i}") for i in range(30)] \
        + [(None, "nhot")] * 50 + [(None, f"n{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "lang string, token string")
    from bloom_filters_spark.operators.frequent import heavy_hitters_by_group
    got = {(r["lang"], r["token"]): r["cnt"] for r in
           heavy_hitters_by_group(df, "token", ["lang"],
                                  capacity=8).collect()}
    assert got[("en", "hot")] == 40
    assert got[(None, "nhot")] == 50
