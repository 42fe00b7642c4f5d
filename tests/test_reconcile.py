"""IBF set reconciliation: exact diffs from O(d) sketch bytes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.kernels.invertible import InvertibleBloomSketch
from bloom_filters_spark.operators import reconcile as rc


def _keyed(spark, lo, hi, name="k"):
    return spark.range(lo, hi).select(F.col("id").alias(name))


def test_wave_peel_matches_inserted_set():
    sk = InvertibleBloomSketch(4096, 3)
    keys = np.arange(1, 1001, dtype=np.int64)
    sk.update_hashes(keys)
    rec, signs, decoded = sk.peel()
    assert decoded and rec.size == 1000
    assert (signs == 1).all()
    from bloom_filters_spark.kernels.hashing import to_u64
    assert set(rec.tolist()) == set(to_u64(keys).tolist())


def test_reconcile_exact_diff(spark):
    # left = [0, 1000) minus multiples of 41; right = [0, 1050) minus
    # multiples of 37 → every differing key is known in closed form
    base = _keyed(spark, 0, 1000)
    left = base.where("k % 41 != 0")
    right = _keyed(spark, 0, 1050).where("k % 37 != 0")
    got = {(r["k"], r["side"])
           for r in rc.reconcile_keys(left, right, "k",
                                      diff_capacity=512,
                                      n_shards=8).collect()}
    want = {(k, "left_only") for k in range(1000)
            if k % 41 and not k % 37}
    want |= {(k, "right_only") for k in range(1000)
             if k % 37 and not k % 41}
    want |= {(k, "right_only") for k in range(1000, 1050) if k % 37}
    assert got == want


def test_reconcile_identical_tables_empty_diff(spark):
    t = _keyed(spark, 0, 5000)
    assert rc.reconcile_keys(t, t, "k", diff_capacity=64,
                             n_shards=4).count() == 0


def test_reconcile_string_keys(spark):
    left = _keyed(spark, 0, 500).select(
        F.concat(F.lit("url-"), F.col("k")).alias("url"))
    right = _keyed(spark, 3, 500).select(
        F.concat(F.lit("url-"), F.col("k")).alias("url"))
    got = sorted((r["url"], r["side"]) for r in
                 rc.reconcile_keys(left, right, "url",
                                   diff_capacity=64).collect())
    assert got == [("url-0", "left_only"), ("url-1", "left_only"),
                   ("url-2", "left_only")]


def test_reconcile_undersized_raises_never_truncates(spark):
    left = _keyed(spark, 0, 4000)
    right = _keyed(spark, 2000, 6000)      # diff = 4000 keys
    with pytest.raises(ValueError, match="did not decode"):
        rc.reconcile_keys(left, right, "k", diff_capacity=32,
                          n_shards=4).collect()


def test_reconcile_one_side_empty(spark):
    left = _keyed(spark, 0, 40)
    right = left.where(F.lit(False))
    got = rc.reconcile_keys(left, right, "k", diff_capacity=64,
                            n_shards=4).collect()
    assert sorted(r["k"] for r in got) == list(range(40))
    assert {r["side"] for r in got} == {"left_only"}


def test_diff_shards_flags_undecoded(spark):
    lsh = rc.build_ibf_shards(_keyed(spark, 0, 3000), "k", 4, 16)
    rsh = rc.build_ibf_shards(_keyed(spark, 5000, 8000), "k", 4, 16)
    rows = rc.ibf_diff_shards(lsh, rsh).collect()
    assert any(not r["decoded"] for r in rows)
    # sentinel rows are present and NULL-keyed
    assert any(r["key_hash"] is None for r in rows if not r["decoded"])


def test_shard_build_moves_only_sketch_bytes(spark):
    # the merged shard table must carry the shard modulus and one row
    # per non-empty shard; no key column survives past the partials
    sh = rc.build_ibf_shards(_keyed(spark, 0, 10_000), "k", 8, 512)
    rows = sh.collect()
    assert {r["n_shards"] for r in rows} == {8}
    assert sum(r["n_rows"] for r in rows) == 10_000
    assert set(sh.columns) == {"shard", "payload", "n_rows", "n_shards"}


def test_shard_build_key_column_named_shard(spark):
    # the builder adds its own "shard" column: a key column of that
    # name must be hashed as the key, not confused with the shard id
    want = {r["shard"]: bytes(r["payload"]) for r in
            rc.build_ibf_shards(_keyed(spark, 0, 5000), "k", 8,
                                256).collect()}
    got = {r["shard"]: bytes(r["payload"]) for r in
           rc.build_ibf_shards(_keyed(spark, 0, 5000, "shard"), "shard", 8,
                               256).collect()}
    assert got == want


def test_salted_merge_level_byte_identical(spark):
    # IBF merge is associative+commutative, so the two-level salted
    # tree must produce byte-identical shard payloads
    src = _keyed(spark, 0, 20_000).repartition(16)
    flat = {r["shard"]: bytes(r["payload"]) for r in
            rc.build_ibf_shards(src, "k", 8, 256).collect()}
    salted = {r["shard"]: bytes(r["payload"]) for r in
              rc.build_ibf_shards(src, "k", 8, 256,
                                  merge_salts=4).collect()}
    assert flat == salted


def test_reconcile_rows_classifies_changed(spark):
    """Version-aware diff: removed / added / value-changed keys are
    classified exactly, verified against a full-outer-join oracle."""
    from pyspark.sql import functions as F

    base = spark.range(0, 20_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v1"),
        F.concat(F.lit("p"), (F.col("id") % 50).cast("string")).alias("v2"))
    # left = base minus keys %997==0, plus keys 20000..20049,
    #        with v1 bumped where k % 463 == 1 (the "changed" set)
    left = (base.where("k % 997 != 0")
            .withColumn("v1", F.when(F.col("k") % 463 == 1,
                                     F.col("v1") + 1).otherwise(F.col("v1")))
            .unionByName(spark.range(20_000, 20_050).select(
                F.col("id").alias("k"), F.lit(1).alias("v1"),
                F.lit("new").alias("v2"))))
    right = base

    got = {(r["k"], r["status"]) for r in rc.reconcile_rows(
        left, right, "k", ["v1", "v2"], diff_capacity=512,
        n_shards=16).collect()}

    # oracle: set algebra on collected rows
    lrows = {r["k"]: (r["v1"], r["v2"]) for r in left.collect()}
    rrows = {r["k"]: (r["v1"], r["v2"]) for r in right.collect()}
    want = set()
    for k in lrows.keys() - rrows.keys():
        want.add((k, "left_only"))
    for k in rrows.keys() - lrows.keys():
        want.add((k, "right_only"))
    for k in lrows.keys() & rrows.keys():
        if lrows[k] != rrows[k]:
            want.add((k, "changed"))
    assert got == want
    assert any(s == "changed" for _, s in want)      # the case exists
    assert any(s == "left_only" for _, s in want)
    assert any(s == "right_only" for _, s in want)


def test_reconcile_rows_sees_null_column_shift(spark):
    """Spark xxhash64 skips NULL children, so (42, NULL) vs (NULL, 42)
    would fold identically without the per-column is-null flag: a
    column-shift corruption must classify as 'changed'."""
    from pyspark.sql import functions as F

    base = spark.range(0, 2000).select(F.col("id").alias("k"))
    left = base.select(
        "k",
        F.when(F.col("k") % 10 == 3, F.col("k")).alias("v1"),
        F.when(F.col("k") % 10 != 3, F.col("k")).alias("v2"))
    # right swaps which column holds the value for k % 10 == 3
    right = base.select(
        "k",
        F.when(F.lit(False), F.col("k")).alias("v1"),
        F.col("k").alias("v2"))
    got = {(r["k"], r["status"]) for r in rc.reconcile_rows(
        left, right, "k", ["v1", "v2"], diff_capacity=512,
        n_shards=8).collect()}
    want = {(k, "changed") for k in range(0, 2000) if k % 10 == 3}
    assert got == want


def test_reconcile_rows_identical_tables_empty(spark):
    df = _keyed(spark, 0, 5000).withColumn("v", F.col("k") % 7)
    assert rc.reconcile_rows(df, df, "k", ["v"],
                             diff_capacity=64, n_shards=4).count() == 0


def test_reconcile_rows_undersized_raises(spark):
    left = _keyed(spark, 0, 6000).withColumn("v", F.lit(0))
    right = _keyed(spark, 3000, 9000).withColumn("v", F.lit(0))
    import pytest as _pt
    with _pt.raises(ValueError, match="exceeds diff_capacity"):
        rc.reconcile_rows(left, right, "k", ["v"], diff_capacity=32,
                          n_shards=4)
