"""Sketch-driven balanced range partitioning (operators/partitioning.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.kernels import KLLSketch
from bloom_filters_spark.operators import partitioning as pt


def test_bucket_assignment_matches_searchsorted(spark):
    bounds = [10.0, 20.0, 30.0]
    df = spark.createDataFrame(
        [(v,) for v in [-5.0, 10.0, 15.0, 20.0, 29.9, 30.0, 99.0]],
        "v double")
    got = {r["v"]: r["bucket"]
           for r in pt.with_range_bucket(df, "v", bounds).collect()}
    for v, b in got.items():
        assert b == int(np.searchsorted(bounds, v, side="right")), v


def test_null_values_get_null_bucket(spark):
    df = spark.createDataFrame([(1.0,), (None,)], "v double")
    rows = {r["v"]: r["bucket"]
            for r in pt.with_range_bucket(df, "v", [5.0]).collect()}
    assert rows[1.0] == 0 and rows[None] is None


def test_balance_within_kll_bound_on_skewed_data(spark):
    """A lognormal-ish skewed column still cuts into equal-ROW buckets:
    every bucket within n/k ± 2εn (ε = the repo's tested 0.04)."""
    n, k = 60_000, 16
    df = spark.range(n).select(
        (F.exp(F.xxhash64("id") % 1000 / 250.0)).alias("v"))
    bounds, sk, n_got = pt.quantile_boundaries(df, "v", k)
    assert n_got == n and len(bounds) == k - 1
    assert bounds == sorted(bounds)
    counts = {r["bucket"]: r["n_rows"]
              for r in pt.partition_balance(df, "v", bounds).collect()}
    assert sum(counts.values()) == n
    tol = 2 * 0.04 * n + 1
    for b in range(k):
        assert abs(counts.get(b, 0) - n / k) <= tol, (b, counts.get(b, 0))


def test_boundaries_partitioning_independent(spark):
    """Mergeable build: the same data at different parallelism yields
    sketches whose boundaries agree within the rank bound (and the
    estimates themselves are merge-order independent per the kernel
    property tests)."""
    data = spark.range(20_000).select((F.col("id") % 997).cast("double")
                                      .alias("v"))
    b1, _, _ = pt.quantile_boundaries(data.repartition(2), "v", 8)
    b2, _, _ = pt.quantile_boundaries(data.repartition(13), "v", 8)
    for x, y in zip(b1, b2):
        assert abs(x - y) <= 0.04 * 997 * 2


def test_boundaries_from_merged_sketch_incremental(spark):
    """The incremental path: day-1 sketch merged with day-2 partials
    gives the same boundaries as a full rebuild over the union."""
    from bloom_filters_spark.operators.agg import build_sketch
    d1 = spark.range(0, 30_000).select(F.col("id").cast("double")
                                       .alias("v"))
    d2 = spark.range(30_000, 40_000).select(F.col("id").cast("double")
                                            .alias("v"))
    sk1, _ = build_sketch(d1, "v", lambda: KLLSketch(200),
                          value_based=True)
    sk2, _ = build_sketch(d2, "v", lambda: KLLSketch(200),
                          value_based=True)
    merged_bounds = pt.boundaries_from_sketch(sk1.merge(sk2), 8)
    full_bounds, _, _ = pt.quantile_boundaries(
        d1.unionByName(d2), "v", 8)
    for m, f in zip(merged_bounds, full_bounds):
        assert abs(m - f) <= 2 * 0.04 * 40_000     # both within εn ranks


def test_repartition_balanced_layout(spark):
    """Physical layout: k buckets → k partitions, each bucket wholly in
    one partition, partition sizes within the balance bound."""
    n, k = 40_000, 8
    df = spark.range(n).select((F.xxhash64("id") % 10_000).cast("double")
                               .alias("v"))
    bounds, _, _ = pt.quantile_boundaries(df, "v", k)
    laid = pt.repartition_balanced(df, "v", bounds)
    assert laid.rdd.getNumPartitions() == k
    sizes = laid.rdd.glom().map(len).collect()
    assert sum(sizes) == n
    # no partition more than double its fair share (bucket merge under
    # worst-case sampling stays within 2 buckets/partition)
    assert max(sizes) <= 2 * (n / k + 2 * 0.04 * n)
    # a bucket never splits across partitions
    with_b = pt.with_range_bucket(df, "v", bounds, out="b")
    parts = (pt.repartition_balanced(with_b, "v", bounds)
             .select("b").rdd.glom()
             .map(lambda rows: {r["b"] for r in rows}).collect())
    seen = set()
    for s in parts:
        assert not (s & seen)
        seen |= s


def test_n_parts_validation(spark):
    df = spark.range(10).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError):
        pt.quantile_boundaries(df, "v", 0)


def test_assign_token_shards_balanced_and_exact(spark):
    from bloom_filters_spark.operators import assign_token_shards
    # 40 docs x 10 tokens = 400 tokens -> 4 shards of exactly 100
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(10))) for i in range(40)],
        "doc_id long, text string")
    out = assign_token_shards(docs, 4, partitions=4)
    got = {r["doc_id"]: r["shard"] for r in out.collect()}
    assert sorted(got) == list(range(40))
    for i in range(40):
        assert got[i] == i // 10          # contiguous, exactly balanced
    # python oracle on an uneven + NULL/empty corpus
    import re
    rows = [(1, "a b c"), (2, None), (3, ""), (4, "x " * 50),
            (5, "one two"), (6, "t " * 17), (7, "solo")]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    out2 = {r["doc_id"]: r["shard"]
            for r in assign_token_shards(docs2, 3, partitions=2).collect()}
    ntok = {i: (0 if t is None else
                len([x for x in re.split(r"\s+", t.strip()) if x]))
            for i, t in rows}
    total = sum(ntok.values())
    start, want = 0, {}
    for i in sorted(ntok):
        want[i] = min(2, start * 3 // total)
        start += ntok[i]
    assert out2 == want


def test_assign_token_shards_duplicate_ids_deterministic(spark):
    """Docs sharing an id get the same shards whatever order they
    arrive in: ties are broken by a hash of the whole row, not by the
    order the window happens to see them in."""
    from bloom_filters_spark.operators import assign_token_shards
    rows = [(1, "a"), (1, "b"), (2, "p q r s"), (2, "c d"), (3, "e f")]
    schema = "doc_id long, text string"

    def shards(rs):
        docs = spark.createDataFrame(rs, schema).coalesce(1)
        return sorted(tuple(r) for r in
                      assign_token_shards(docs, 3, partitions=2).collect())

    forward, backward = shards(rows), shards(rows[::-1])
    assert forward == backward
    # still the documented prefix rule (10 tokens, shard = start*3 div
    # 10), with the two id-2 docs in one of their two orders
    got = {t: s for _, t, s in forward}
    assert got["a"] == got["b"] == 0 and got["e f"] == 2
    assert sorted([got["p q r s"], got["c d"]]) == [0, 1]
    # hash expressions reject maps: a map column joins the tie key too
    meta = spark.createDataFrame(
        [(1, "a b", {"x": 1}), (1, "c", {"y": 2})],
        "doc_id long, text string, meta map<string,int>")
    assert sorted(r["shard"] for r in
                  assign_token_shards(meta, 3, partitions=1).collect()) \
        in ([0, 1], [0, 2])                 # either order of the tie


def test_assign_token_shards_all_empty(spark):
    from bloom_filters_spark.operators import assign_token_shards
    docs = spark.createDataFrame([(1, None), (2, "")],
                                 "doc_id long, text string")
    out = {r["doc_id"]: r["shard"]
           for r in assign_token_shards(docs, 8).collect()}
    assert out == {1: 0, 2: 0}            # total 0 -> everything shard 0


def test_assign_token_shards_empty_input(spark):
    from bloom_filters_spark.operators import assign_token_shards
    docs = spark.createDataFrame([], "doc_id long, text string")
    out = assign_token_shards(docs, 4, partitions=4)
    assert out.columns == ["doc_id", "text", "shard"]
    assert out.collect() == []


def test_assign_token_shards_validates_n_shards(spark):
    import pytest as _pytest
    from bloom_filters_spark.operators import assign_token_shards
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        assign_token_shards(docs, 0)
