"""End-to-end Spark tests for the sketch aggregation layer."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.kernels import (
    BloomSketch, CountingBloomSketch, CountMinSketch, HLLSketch,
    InvertibleBloomSketch, KLLSketch, TDigest,
)
from bloom_filters_spark.operators.agg import (
    build_grouped_sketches, build_sketch, cms_lookup, estimate_grouped,
    ibf_recover, probe_membership, salted_repartition,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


def test_hll_distinct_users(spark, events):
    exact = events.select(F.countDistinct("user_id")).first()[0]
    sk, n = build_sketch(events, "user_id", lambda: HLLSketch(12))
    assert n == events.count()
    est = sk.estimate()
    assert abs(est - exact) / exact <= 4 * sk.relative_error + 0.02


def test_hll_matches_spark_builtin_ballpark(spark, events):
    builtin = events.select(
        F.approx_count_distinct("user_id", rsd=0.02)).first()[0]
    sk, _ = build_sketch(events, "user_id", lambda: HLLSketch(13))
    assert abs(sk.estimate() - builtin) / builtin < 0.1


def test_bloom_probe_no_false_negatives(spark, events):
    n_distinct = events.select("user_id").distinct().count()
    sk, _ = build_sketch(events, "user_id",
                         lambda: BloomSketch.from_capacity(n_distinct, 0.01))
    probed = probe_membership(events.select("user_id").distinct(),
                              "user_id", sk)
    assert probed.where(~F.col("seen")).count() == 0


def test_bloom_probe_fpr(spark, events):
    n_distinct = events.select("user_id").distinct().count()
    p = 0.01
    sk, _ = build_sketch(events, "user_id",
                         lambda: BloomSketch.from_capacity(n_distinct, p))
    # absent keys: disjoint namespace (user_id are small ints; probe big ones)
    absent = spark.range(1_000_000, 1_000_000 + 20_000).select(
        F.col("id").alias("user_id"))
    fp = probe_membership(absent, "user_id", sk).where("seen").count()
    assert fp / 20_000 <= 2 * p


def test_counting_bloom_distributed_delete(spark, events):
    sk, _ = build_sketch(events.select("user_id").distinct(), "user_id",
                         lambda: CountingBloomSketch(1 << 14, 4))
    gone = events.select("user_id").distinct().limit(20)
    gone_ids = [r[0] for r in gone.collect()]
    from bloom_filters_spark.kernels.hashing import to_u64
    import pandas as pd
    # driver-side removal via the same JVM hash (xxhash64 of the literal)
    hdf = spark.createDataFrame(pd.DataFrame({"user_id": gone_ids}))
    hvals = hdf.select(F.xxhash64("user_id", F.lit(0)).alias("h")).collect()
    sk.remove_hashes(np.array([r["h"] for r in hvals], dtype=np.int64))
    probed = probe_membership(
        events.select("user_id").distinct(), "user_id", sk)
    still = probed.where(F.col("user_id").isin(gone_ids))
    assert still.where("seen").count() <= 1  # FP tolerance


def test_cms_heavy_hitters(spark, events):
    exact = dict(events.groupBy("event_type").count().collect())
    cms, total = build_sketch(events, "event_type",
                              lambda: CountMinSketch(5, 8192))
    assert total == sum(exact.values())
    keys = spark.createDataFrame([(k,) for k in exact], "event_type string")
    est = dict(cms_lookup(keys, "event_type", cms)
               .select("event_type", "est_count").collect())
    for k, v in exact.items():
        assert est[k] >= v
        assert est[k] <= v + 3 * cms.eps * total


def test_kll_quantiles_value_based(spark, events):
    sk, n = build_sketch(events, "value", lambda: KLLSketch(200),
                         value_based=True)
    vals = np.sort(np.array(
        [r[0] for r in events.select("value").collect()], dtype=np.float64))
    for q in (0.25, 0.5, 0.9):
        est = sk.quantile(q)
        rank = np.searchsorted(vals, est) / vals.size
        assert abs(rank - q) <= 0.04


def test_tdigest_value_based(spark, events):
    sk, _ = build_sketch(events, "value", lambda: TDigest(100),
                         value_based=True)
    vals = np.sort(np.array(
        [r[0] for r in events.select("value").collect()], dtype=np.float64))
    for q in (0.1, 0.5, 0.99):
        rank = np.searchsorted(vals, sk.quantile(q)) / vals.size
        assert abs(rank - q) <= 0.02


def test_grouped_hll_per_event_type(spark, events):
    grouped = build_grouped_sketches(events, "user_id",
                                     lambda: HLLSketch(12), ["event_type"])
    est = {r["event_type"]: r["estimate"]
           for r in estimate_grouped(grouped).collect()}
    exact = dict(events.groupBy("event_type")
                 .agg(F.countDistinct("user_id")).collect())
    for k, v in exact.items():
        assert abs(est[k] - v) / v <= 0.1, (k, est[k], v)


def test_grouped_build_scales_to_a_million_groups(spark):
    # the sparse-start guarantee, end to end: each map task sees ~31k
    # distinct groups; dense banks would be ~31k × 4 KB = 128 MB per
    # task (×32 tasks concurrently); sparse dicts hold a few counters
    # per group. 1M groups × 2 rows, grouped HLL build completes and
    # every group's estimate is (near-)exact at cardinality 2.
    G = 1_000_000
    df = spark.range(0, 2 * G).select(
        (F.col("id") % G).alias("g"), F.col("id").alias("v"))
    grouped = build_grouped_sketches(df, "v",
                                     lambda: HLLSketch(12), ["g"]).persist()
    try:
        # the BUILD is the thing under test: group count / row totals
        # come from cheap JVM aggregation over all 1M payload rows...
        row = grouped.agg(F.count(F.lit(1)).alias("n"),
                          F.sum("n_rows").alias("rows")).collect()[0]
        assert row["n"] == G and row["rows"] == 2 * G
        # ...while the estimate check (1M sketch deserializations in
        # Python would dominate the test 3:1) runs on a deterministic
        # ~2% hash sample — plenty to catch a broken sparse fold
        sample = grouped.where(F.pmod(F.xxhash64("g"), F.lit(50)) == 0)
        est = estimate_grouped(sample)
        srow = est.agg(F.count(F.lit(1)).alias("n"),
                       F.avg("estimate").alias("avg"),
                       F.min("estimate").alias("lo"),
                       F.max("estimate").alias("hi")).collect()[0]
        assert srow["n"] > G // 100
        # at n=2 the estimator is near-exact, except
        # ~G·2/m groups whose two hashes collide into one register (≈1.0)
        assert 0.99 < srow["lo"] and srow["hi"] < 2.01
        assert abs(srow["avg"] - 2.0) < 0.01
    finally:
        grouped.unpersist()


def test_grouped_with_salted_merge(spark, events):
    grouped = build_grouped_sketches(events, "user_id",
                                     lambda: HLLSketch(12), ["event_type"],
                                     merge_salts=4)
    est = {r["event_type"]: r["estimate"]
           for r in estimate_grouped(grouped).collect()}
    exact = dict(events.groupBy("event_type")
                 .agg(F.countDistinct("user_id")).collect())
    for k, v in exact.items():
        assert abs(est[k] - v) / v <= 0.1


def test_salted_repartition_spreads_hot_key(spark, events):
    # AQE would coalesce the tiny test partitions back into one — turn it
    # off so the partition spread is observable at this scale
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = salted_repartition(events, F.col("event_type"), 8, salts=4,
                                salt_from=F.col("event_id"))
        # a single event_type value must land in >1 partition
        parts = (df.where(F.col("event_type") == "click")
                 .select(F.spark_partition_id().alias("pid"))
                 .distinct().count())
        assert parts > 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_ibf_recover_set_difference(spark, events):
    a = events.select("user_id").distinct().where("user_id < 100")
    b = a.where("user_id >= 10")  # a \ b = user_id in [0, 10)
    mk = lambda: InvertibleBloomSketch(512, 3)
    ska, _ = build_sketch(a, "user_id", mk)
    skb, _ = build_sketch(b, "user_id", mk)
    diff = ska.subtract(skb)
    recovered = ibf_recover(a, "user_id", diff)
    got = sorted(r["user_id"] for r in recovered.select("user_id").collect())
    expect = sorted(r[0] for r in a.where("user_id < 10").collect())
    assert got == expect


def test_ibf_recover_raises_on_partial_decode(spark):
    """An overloaded IBF must fail loudly, not return a silent subset
    masquerading as getAllValues (strict=False opts into best-effort)."""
    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    sk, _ = build_sketch(keys, "k", lambda: InvertibleBloomSketch(64, 3))
    with pytest.raises(ValueError, match="did not fully decode"):
        ibf_recover(keys, "k", sk)
    partial = ibf_recover(keys, "k", sk, strict=False)
    assert partial.count() < 2000


def test_partials_equal_single_pass(spark, events):
    """Distributed build == driver-side single pass (byte-identical)."""
    sk, _ = build_sketch(events, "user_id", lambda: HLLSketch(12))
    hashed = events.where(F.col("user_id").isNotNull()).select(
        F.xxhash64("user_id", F.lit(0)).alias("h")).collect()
    one = HLLSketch(12)
    one.update_hashes(np.array([r["h"] for r in hashed], dtype=np.int64))
    assert one.to_bytes() == sk.to_bytes()


def test_bcast_cache_bounded_lru():
    """_cached_sketch keeps at most _BCAST_CACHE_MAX entries, evicting
    the least-recently-used payload (long-lived worker leak guard)."""
    from bloom_filters_spark.operators import agg

    from bloom_filters_spark.kernels.hashing import splitmix64

    agg._BCAST_CACHE.clear()
    payloads = []
    for i in range(agg._BCAST_CACHE_MAX + 3):
        sk = HLLSketch(4)
        sk.update_hashes(splitmix64(
            np.arange(100 * i, 100 * i + 50, dtype=np.uint64))
            .view(np.int64))
        payloads.append(sk.to_bytes())
        agg._cached_sketch(payloads[-1])
    assert len(agg._BCAST_CACHE) == agg._BCAST_CACHE_MAX
    assert payloads[0] not in agg._BCAST_CACHE          # oldest evicted
    assert payloads[-1] in agg._BCAST_CACHE             # newest kept
    # a hit refreshes recency: touch the oldest survivor, add one more,
    # and the survivor must outlive the next eviction
    survivor = payloads[3]
    assert survivor in agg._BCAST_CACHE
    agg._cached_sketch(survivor)
    sk = HLLSketch(4)
    sk.update_hashes(splitmix64(
        np.arange(10_000, 10_050, dtype=np.uint64)).view(np.int64))
    agg._cached_sketch(sk.to_bytes())
    assert survivor in agg._BCAST_CACHE
    agg._BCAST_CACHE.clear()


def test_cuckoo_bank_build_1m_keys_default_capacity(spark):
    """VERDICT r1 item 3 'done' criterion: a >=1M-key distributed bank
    build with NO explicit capacity (seed member = default 1024) must
    succeed via auto-growth and keep zero false negatives."""
    from bloom_filters_spark.kernels import CuckooBank, CuckooFilter

    keys = spark.range(1_000_000).select(F.col("id").alias("k"))
    bank, n = build_sketch(keys, "k",
                           lambda: CuckooBank.wrap(CuckooFilter()))
    assert n == 1_000_000
    assert len(bank.members) > 1          # growth actually happened
    sample = keys.sample(0.01, seed=1)
    probed = probe_membership(sample, "k", bank)
    assert probed.where(~F.col("seen")).count() == 0


def test_sharded_bloom_build_probe(spark, events):
    """Sharded seen-before: hash-range shards build independently, probe
    is a co-partitioned join + numpy probe; no false negatives, FPR
    bounded, no filter ever assembled whole."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, probe_sharded)

    keys = events.select("user_id").distinct()
    n_distinct = keys.count()
    shards = build_sharded(keys, "user_id", n_shards=8, p=0.01).cache()
    rows = shards.collect()
    assert {r["shard"] for r in rows} <= set(range(8))
    assert sum(r["n_rows"] for r in rows) == n_distinct

    probed = probe_sharded(keys, "user_id", shards)
    assert probed.where(~F.col("seen")).count() == 0     # no false negatives
    assert probed.columns == keys.columns + ["seen"]
    # a decimal(7,2) column rides through the probe in its native type
    dec = keys.withColumn("amt", (F.col("user_id") % 997).cast("decimal(7,2)"))
    dprobed = probe_sharded(dec, "user_id", shards)
    assert dict(dprobed.dtypes)["amt"] == "decimal(7,2)"
    assert dprobed.where(~F.col("seen")).count() == 0

    absent = spark.range(5_000_000, 5_020_000).select(
        F.col("id").alias("user_id"))
    fp = probe_sharded(absent, "user_id", shards).where("seen").count()
    assert fp / 20_000 <= 2 * 0.01
    shards.unpersist()


def test_sharded_counting_delete(spark, events):
    """Counting-Bloom shards: remove keys without rebuilding; survivors
    never probe absent, removed keys drop to ~FP rate."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, counting_shard_factory, probe_sharded,
        remove_sharded)

    keys = events.select("user_id").distinct()
    shards = build_sharded(keys, "user_id", n_shards=8,
                           factory=counting_shard_factory(0.01)).cache()
    shards.count()
    gone = keys.where("user_id % 3 = 0")
    shards2 = remove_sharded(gone, "user_id", shards).cache()
    survivors = keys.where("user_id % 3 <> 0")
    assert probe_sharded(survivors, "user_id", shards2) \
        .where(~F.col("seen")).count() == 0
    n_gone = gone.count()
    still = probe_sharded(gone, "user_id", shards2).where("seen").count()
    assert still / n_gone <= 0.05
    # row accounting carried through the new version
    assert (sum(r["n_rows"] for r in shards2.collect())
            == keys.count() - n_gone)
    shards.unpersist()
    shards2.unpersist()

def test_sharded_remove_never_inserted_keys_is_safe(spark, events):
    """Deleting keys that were never inserted must not corrupt shared
    counters into false negatives (the membership pre-check bounds the
    damage at the FP rate instead of certainty)."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, counting_shard_factory, probe_sharded,
        remove_sharded)

    keys = events.select("user_id").distinct().cache()
    n = keys.count()
    shards = build_sharded(keys, "user_id", n_shards=8,
                           factory=counting_shard_factory(0.01)).cache()
    shards.count()
    absent = spark.range(10_000_000, 10_020_000).select(
        F.col("id").alias("user_id"))
    shards2 = remove_sharded(absent, "user_id", shards).cache()
    # every real member still probes present
    assert probe_sharded(keys, "user_id", shards2) \
        .where(~F.col("seen")).count() == 0
    # n_rows not decremented below the true count by non-member deletes
    # (at most the fp-rate slip-through)
    total = sum(r["n_rows"] for r in shards2.collect())
    assert n - total <= 0.02 * 20_000
    keys.unpersist()
    shards.unpersist()
    shards2.unpersist()


def test_sharded_duplicate_removals_decrement_once(spark, events):
    """A removal feed carrying the same key twice (key inserted once)
    must decrement ONCE: the membership check is re-evaluated per
    removal instance against the already-decremented state, so the
    duplicate fails the re-check instead of certainly dragging counters
    shared with survivors below truth (deterministic false negatives)."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, counting_shard_factory, probe_sharded,
        remove_sharded)

    keys = events.select("user_id").distinct().cache()
    n = keys.count()
    shards = build_sharded(keys, "user_id", n_shards=8,
                           factory=counting_shard_factory(0.01)).cache()
    shards.count()
    gone = keys.where("user_id % 3 = 0").cache()
    n_gone = gone.count()
    shards2 = remove_sharded(gone.union(gone), "user_id", shards).cache()
    # survivors never probe absent (pre-fix: thousands of double
    # decrements zero shared counters deterministically)
    survivors = keys.where("user_id % 3 <> 0")
    assert probe_sharded(survivors, "user_id", shards2) \
        .where(~F.col("seen")).count() == 0
    # accounting: one removal per key; the duplicate's slack is bounded
    # by the post-removal fp rate of the re-check, not certainty
    total = sum(r["n_rows"] for r in shards2.collect())
    over = (n - n_gone) - total
    assert 0 <= over <= 0.05 * n_gone
    keys.unpersist()
    gone.unpersist()
    shards.unpersist()
    shards2.unpersist()


def test_sharded_multiset_remove_twice_inserted(spark, events):
    """Multiset semantics: a key inserted twice removes twice — the
    per-instance re-check passes both times because the counters really
    hold two copies."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, counting_shard_factory, remove_sharded)

    keys = events.select("user_id").distinct().limit(2000).cache()
    n = keys.count()
    shards = build_sharded(keys.union(keys), "user_id", n_shards=4,
                           factory=counting_shard_factory(0.01)).cache()
    assert sum(r["n_rows"] for r in shards.collect()) == 2 * n
    shards2 = remove_sharded(keys.union(keys), "user_id", shards).cache()
    total = sum(r["n_rows"] for r in shards2.collect())
    assert total == 0
    keys.unpersist()
    shards.unpersist()
    shards2.unpersist()


def test_sharded_empty_top_shard_routes_correctly(spark):
    """ADVICE r2 regression: the hash modulus must come from the shard
    table's n_shards column, NOT max(shard)+1 — with n_shards=64 and a
    tiny key set, the top shard is often empty and the inferred modulus
    would mis-route EVERY probe (false negatives → duplicate leaks)."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, probe_sharded, shard_count)

    keys = spark.range(40).select(F.col("id").alias("k"))
    shards = build_sharded(keys, "k", n_shards=64, p=0.01).cache()
    built = {r["shard"] for r in shards.collect()}
    assert len(built) < 64                 # some shards really are empty
    assert shard_count(shards) == 64       # modulus carried, not inferred
    probed = probe_sharded(keys, "k", shards)
    assert probed.where(~F.col("seen")).count() == 0   # no false negatives
    shards.unpersist()


def test_sharded_probe_plan_carries_no_per_row_payload(spark):
    """VERDICT r2 scale fix: the probe stage must NOT join the shard
    payload onto every probe row (rows × payload bytes over the Arrow
    boundary). With the cogroup plan, no per-row node projects a
    payload column — payload crosses once per (shard, salt) group."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, probe_sharded)

    keys = spark.range(1000).select(F.col("id").alias("k"))
    shards = build_sharded(keys, "k", n_shards=4, p=0.01)
    plan = probe_sharded(keys, "k", shards) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "CoGroups" in plan              # the cogroup is the probe stage
    # no Join node may carry the payload column per probe row
    for line in plan.splitlines():
        if "Join" in line:
            assert "payload" not in line, line


def test_sharded_remove_1m_keys_single_shard(spark):
    """VERDICT r2 'done' criterion: removing >=1M keys that all land in
    ONE shard must stream through the cogroup as ordinary Arrow rows
    (the old collect_list single-cell array was a 2 GB-limit bomb)."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, counting_shard_factory, probe_sharded,
        remove_sharded)

    keys = spark.range(1_200_000).select(F.col("id").alias("k"))
    shards = build_sharded(keys, "k", n_shards=1,
                           factory=counting_shard_factory(0.01)).cache()
    shards.count()
    gone = keys.where("k < 1000000")        # 1M removals, all in shard 0
    shards2 = remove_sharded(gone, "k", shards).cache()
    assert (sum(r["n_rows"] for r in shards2.collect())
            == 1_200_000 - 1_000_000)
    survivors = keys.where("k >= 1000000")
    assert probe_sharded(survivors, "k", shards2) \
        .where(~F.col("seen")).count() == 0
    shards.unpersist()
    shards2.unpersist()


def test_sharded_cuckoo_delete(spark, events):
    """Cuckoo shards: the deletable-shard story at ~2-4 bytes/key.
    Same contract as the counting shards — survivors never probe
    absent, removed keys drop to the fingerprint-collision rate — plus
    the size claim: the cuckoo shard table must be several times
    smaller than the counting one over the same keys."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, counting_shard_factory, cuckoo_shard_factory,
        probe_sharded, remove_sharded)

    keys = events.select("user_id").distinct()
    shards = build_sharded(keys, "user_id", n_shards=8,
                           factory=cuckoo_shard_factory()).cache()
    shards.count()
    gone = keys.where("user_id % 3 = 0")
    shards2 = remove_sharded(gone, "user_id", shards).cache()
    survivors = keys.where("user_id % 3 <> 0")
    assert probe_sharded(survivors, "user_id", shards2) \
        .where(~F.col("seen")).count() == 0          # no false negatives
    n_gone = gone.count()
    still = probe_sharded(gone, "user_id", shards2).where("seen").count()
    assert still / n_gone <= 0.05                    # fp-collision residue
    assert (sum(r["n_rows"] for r in shards2.collect())
            == keys.count() - n_gone)                # accounting exact

    counting = build_sharded(keys, "user_id", n_shards=8,
                             factory=counting_shard_factory(0.01))
    # compare RESIDENT state (size_bytes), not wire bytes: lightly
    # filled counting shards serialize sparse, but the executor-memory
    # cost the 2-4 bytes/key claim is about is the inflated state
    from bloom_filters_spark.kernels import sketch_from_bytes
    size = lambda t: sum(
        sketch_from_bytes(bytes(r["payload"])).size_bytes
        for r in t.select("payload").collect())
    assert size(shards) * 2 < size(counting)
    shards.unpersist()
    shards2.unpersist()


def test_exact_membership_baseline_vs_bloom(spark, events):
    """O3/O4: the exact-membership baseline must agree with ground
    truth everywhere, and the Bloom probe must agree with it on all
    members (no false negatives) — the reference's linked-list-vs-
    Bloom benchmark pair, relationally."""
    from bloom_filters_spark.kernels import BloomSketch
    from bloom_filters_spark.operators.agg import (
        build_sketch, probe_membership)
    from bloom_filters_spark.operators.relational import exact_membership

    keys = events.select("user_id").distinct()
    probes = spark.range(0, 3000).select(F.col("id").alias("user_id"))
    exact = exact_membership(events, "user_id", probes)
    truth = {r["user_id"] for r in keys.collect()}
    for r in exact.collect():
        assert r["present"] == (r["user_id"] in truth)

    sk, _ = build_sketch(keys, "user_id",
                         lambda: BloomSketch.from_capacity(10_000, 0.01))
    both = exact_membership(events, "user_id", probes).join(
        probe_membership(probes, "user_id", sk), "user_id")
    assert both.where("present AND NOT seen").count() == 0


def test_build_sharded_streaming_capacity_byte_identical(spark):
    """capacity_per_shard switches to the incremental build (worker
    holds filters + one batch, never a shard's buffered hashes); with
    the same fixed capacity the result is byte-identical to the
    buffered path — Bloom OR is order-invariant."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, probe_sharded)

    keys = spark.range(0, 20_000).select(F.col("id").alias("k"))
    fixed = lambda cap: BloomSketch.from_capacity(4096, 0.01)
    buffered = {r["shard"]: bytes(r["payload"]) for r in
                build_sharded(keys, "k", 8, factory=fixed).collect()}
    streaming = {r["shard"]: bytes(r["payload"]) for r in
                 build_sharded(keys, "k", 8, factory=fixed,
                               capacity_per_shard=4096).collect()}
    assert streaming == buffered
    shards = build_sharded(keys, "k", 8, factory=fixed,
                           capacity_per_shard=4096)
    fn = probe_sharded(keys, "k", shards).where("NOT seen").count()
    assert fn == 0                               # no false negatives


def test_grouped_build_na_group_key_accumulates(spark):
    """An NA group key (NULL/NaN double) must fold into ONE output row
    even when its partials span multiple reduce-side Arrow batches:
    NaN != NaN, so a raw-key dict would emit one row per batch the
    group appears in. (NULL and NaN group keys merge into a single NA
    group through this operator — Arrow erases the distinction on the
    map side — matching the pre-batched behavior.)"""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        rows = [(1.0, float(i)) for i in range(4)]
        rows += [(None, float(100 + i)) for i in range(5)]
        df = spark.createDataFrame(rows, "g double, v double").repartition(4)
        grouped = build_grouped_sketches(df, "v", lambda: HLLSketch(12),
                                         ["g"])
        out = grouped.collect()
        assert len(out) == 2
        na = [r for r in out if r["g"] is None or r["g"] != r["g"]]
        assert len(na) == 1 and na[0]["n_rows"] == 5
        ones = [r for r in out if r["g"] == 1.0]
        assert len(ones) == 1 and ones[0]["n_rows"] == 4
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "100000")
