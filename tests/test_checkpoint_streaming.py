"""north_rule resume + streaming accumulation tests."""

import numpy as np
from pyspark.sql import functions as F

import pytest

from bloom_filters_spark.checkpoint import SketchCheckpoint
from bloom_filters_spark.kernels import BloomSketch, HLLSketch
from bloom_filters_spark.operators.agg import build_sketch
from bloom_filters_spark.streaming import (
    StreamingSketchAccumulator, run_stream_accumulation)


def test_checkpoint_build_equals_direct(spark, sf_dir, tmp_path):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cp = SketchCheckpoint(spark, str(tmp_path / "cp1"), n_shards=16)
    sk, n, lineage = cp.build(events, "user_id", lambda: HLLSketch(12),
                              "hll_users", source="events")
    direct, n2 = build_sketch(events, "user_id", lambda: HLLSketch(12))
    assert n == n2
    assert sk.to_bytes() == direct.to_bytes()     # byte-identical
    assert lineage["recomputed_shards"] == []
    # north_rule "lineage + metrics": every shard row carries its build
    # wall time and payload size, and n_bytes is exact
    rows = spark.read.parquet(str(tmp_path / "cp1")).collect()
    assert len(rows) == 16
    for r in rows:
        assert r["build_ms"] >= 0
        assert r["n_bytes"] == len(r["payload"])


@pytest.mark.parametrize("kind", ["hll", "bloom"])
def test_checkpoint_lineage_rows_per_shard(spark, sf_dir, tmp_path, kind):
    """Each lineage row holds exactly ITS shard's sketch: a row filed
    under the wrong shard still folds to the full-build bytes, but it
    breaks resume's content addressing, so every row is checked against
    a driver-side build of that shard's non-NULL hashes."""
    import time

    from bloom_filters_spark.checkpoint import _shard_col
    from bloom_filters_spark.operators.agg import hash_col

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    factory = {"hll": lambda: HLLSketch(12),
               "bloom": lambda: BloomSketch(1 << 14, 5)}[kind]
    cp = SketchCheckpoint(spark, str(tmp_path / "lin"), n_shards=16)
    t0 = time.time()
    cp.build(events, "user_id", factory, "lin", source="events")
    wall_ms = (time.time() - t0) * 1000 + 1     # + ms clock truncation
    pdf = (events.where(F.col("user_id").isNotNull())
           .select(_shard_col("user_id", 16, 0).cast("int").alias("shard"),
                   hash_col(F.col("user_id")).alias("h")).toPandas())
    rows = spark.read.parquet(str(tmp_path / "lin")).collect()
    assert sorted(r["shard"] for r in rows) == list(range(16))
    for r in rows:
        h = pdf["h"][pdf["shard"] == r["shard"]].to_numpy(np.int64)
        want = factory()
        want.update_hashes(h)
        assert bytes(r["payload"]) == want.to_bytes(), r["shard"]
        assert r["n_rows"] == h.size
        assert r["n_bytes"] == len(r["payload"])
        assert 0 <= r["build_ms"] <= wall_ms
        assert (r["sketch_id"], r["source"]) == ("lin", "events")


def test_value_based_kill_and_resume(spark, tmp_path):
    """KLL through the checkpoint (value_based=True): kill after 7/16
    shards, resume, and the merged quantiles stay within KLL's bound."""
    import pandas as pd

    from bloom_filters_spark.kernels import KLLSketch

    vals = np.random.default_rng(11).lognormal(3.0, 1.0, 60_000)
    df = spark.createDataFrame(pd.DataFrame({"x": vals}))
    factory = lambda: KLLSketch(200)
    cp = SketchCheckpoint(spark, str(tmp_path / "kll"), n_shards=16)
    with pytest.raises(RuntimeError, match="simulated kill"):
        cp.build(df, "x", factory, "kll", value_based=True,
                 fail_after_shards=7)
    sk, n, lineage = cp.resume(df, "x", factory, "kll", value_based=True)
    assert n == vals.size
    assert lineage["recomputed_shards"] == list(range(7, 16))
    srt = np.sort(vals)
    err = max(abs(np.searchsorted(srt, sk.quantile(q)) / srt.size - q)
              for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
    assert err <= 0.03, err


def test_kill_and_resume_byte_identical(spark, sf_dir, tmp_path):
    """Kill after 5/16 shards → resume → same bytes as uninterrupted."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    factory = lambda: BloomSketch(1 << 14, 5)
    cp = SketchCheckpoint(spark, str(tmp_path / "cp2"), n_shards=16)
    with pytest.raises(RuntimeError, match="simulated kill"):
        cp.build(events, "user_id", factory, "bloom_users",
                 fail_after_shards=5)
    assert len(cp.surviving_shards("bloom_users")) == 5
    sk, n, lineage = cp.resume(events, "user_id", factory, "bloom_users")
    assert len(lineage["recomputed_shards"]) == 11
    direct, n2 = build_sketch(events, "user_id", factory)
    assert n == n2
    assert sk.to_bytes() == direct.to_bytes()


def test_checkpoint_key_column_named_shard(spark, tmp_path):
    """The lineage table's own "shard" column must not capture a key
    column of the same name."""
    keys = spark.range(3000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("shard"))
    factory = lambda: HLLSketch(11)
    cp = SketchCheckpoint(spark, str(tmp_path / "named"), n_shards=8)
    sk, n, _ = cp.build(keys, "shard", factory, "named")
    direct, n2 = build_sketch(keys, "shard", factory)
    assert n == n2 == 3000
    assert sk.to_bytes() == direct.to_bytes()


def test_resume_is_idempotent(spark, sf_dir, tmp_path):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    factory = lambda: HLLSketch(11)
    cp = SketchCheckpoint(spark, str(tmp_path / "cp3"), n_shards=8)
    sk1, n1, _ = cp.build(events, "user_id", factory, "h")
    sk2, n2, lin = cp.resume(events, "user_id", factory, "h")
    assert lin["recomputed_shards"] == []
    assert sk1.to_bytes() == sk2.to_bytes() and n1 == n2


def test_checkpoint_job_budget(spark, tmp_path, job_count):
    """Per-call Spark-job budget on the parquet store: a write is the
    shard-partial append (shuffle + write) plus ONE read-back of its own
    attempt; resume adds ONE read of the lineage; a no-op resume is that
    read alone."""
    keys = spark.range(20_000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"))
    factory = lambda: HLLSketch(12)
    cp = SketchCheckpoint(spark, str(tmp_path / "budget"), n_shards=16)
    with job_count("bfs-ck-kill") as kill:
        with pytest.raises(RuntimeError, match="simulated kill"):
            cp.build(keys, "url", factory, "b", fail_after_shards=8)
    with job_count("bfs-ck-resume") as resume:
        sk, _, lin = cp.resume(keys, "url", factory, "b")
    with job_count("bfs-ck-noop") as noop:
        sk2, _, lin2 = cp.resume(keys, "url", factory, "b")
    full = SketchCheckpoint(spark, str(tmp_path / "budget_full"),
                            n_shards=16)
    with job_count("bfs-ck-build") as build:
        sk3, _, _ = full.build(keys, "url", factory, "b")
    assert lin["recomputed_shards"] == list(range(8, 16))
    assert lin2["recomputed_shards"] == []
    assert sk.to_bytes() == sk2.to_bytes() == sk3.to_bytes()
    jobs = {"kill": kill[0], "resume": resume[0], "noop": noop[0],
            "build": build[0]}
    budget = {"kill": 3, "resume": 4, "noop": 1, "build": 3}
    assert all(jobs[k] <= budget[k] for k in budget), (jobs, budget)


def test_empty_shards_get_zero_rows(spark, tmp_path):
    """3 distinct keys over 16 shards: most shards match no data and
    must be checkpointed as explicit zero-sketch rows (by the killed
    build AND by the resume) so they count as done, and the merged
    bytes still equal an uninterrupted build."""
    from bloom_filters_spark.checkpoint import _shard_col

    keys = ["k0"] * 5 + ["k2"] * 3 + ["k3"] * 2 + [None]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    # k0 -> shard 2 (inside the killed prefix), k2/k3 -> shard 14
    assert sorted({r[0] for r in df.where(F.col("k").isNotNull())
                   .select(_shard_col("k", 16, 0)).collect()}) == [2, 14]
    factory = lambda: HLLSketch(12)
    cp = SketchCheckpoint(spark, str(tmp_path / "sparse"), n_shards=16)
    with pytest.raises(RuntimeError, match="simulated kill"):
        cp.build(df, "k", factory, "e", fail_after_shards=6)
    assert cp.surviving_shards("e") == set(range(6))
    sk, n, lineage = cp.resume(df, "k", factory, "e")
    assert lineage["recomputed_shards"] == list(range(6, 16))
    rows = spark.read.parquet(str(tmp_path / "sparse")).collect()
    assert sorted(r["shard"] for r in rows) == list(range(16))
    zero = [r for r in rows if r["n_rows"] == 0]
    assert len(zero) == 14
    assert all(r["n_bytes"] == len(r["payload"]) for r in rows)
    direct, n2 = build_sketch(df, "k", factory)
    assert n == n2 == 10
    assert sk.to_bytes() == direct.to_bytes()
    sk2, n3, lin2 = cp.resume(df, "k", factory, "e")
    assert lin2["recomputed_shards"] == []
    assert sk2.to_bytes() == sk.to_bytes() and n3 == n


def test_streaming_accumulation(spark, tmp_path):
    """File-source stream processed availableNow: the accumulated sketch
    must match a batch build over the union of all files."""
    src = tmp_path / "stream_src"
    src.mkdir()
    for i in range(4):
        spark.range(i * 1000, (i + 1) * 1000).select(
            F.col("id").alias("user_id")).write.parquet(
            str(src / f"part{i}.parquet"))
    stream = (spark.readStream.schema("user_id long")
              .parquet(str(src / "*.parquet")))
    acc = StreamingSketchAccumulator("user_id", lambda: HLLSketch(12),
                                     state_dir=str(tmp_path / "state"))
    run_stream_accumulation(stream, acc,
                            checkpoint_dir=str(tmp_path / "stream_cp"))
    assert acc.n_rows == 4000
    est = acc.sketch.estimate()
    assert abs(est - 4000) / 4000 < 0.1
    # state persisted → a new accumulator restores it byte-identically
    acc2 = StreamingSketchAccumulator("user_id", lambda: HLLSketch(12),
                                      state_dir=str(tmp_path / "state"))
    assert acc2.sketch is not None
    assert acc2.sketch.to_bytes() == acc.sketch.to_bytes()
    # at-least-once replay: re-delivering an already-merged batch_id
    # must NOT double-count (the restored cursor skips it)
    replay = spark.range(0, 1000).select(F.col("id").alias("user_id"))
    before = acc2.n_rows
    acc2(replay, acc2.last_batch_id)
    assert acc2.n_rows == before
    acc2(replay, acc2.last_batch_id + 1)     # a genuinely new batch folds
    assert acc2.n_rows == before + 1000


def test_accumulator_state_is_versioned(tmp_path):
    """A pre-versioning state file (no magic header) must fail LOUDLY:
    its layout cannot be told apart from the v1 layout by content, so a
    silent misparse would feed a mis-offset blob to sketch_from_bytes.
    Unknown future versions are refused the same way."""
    from bloom_filters_spark.streaming.accumulate import (
        _STATE_MAGIC, _STATE_VERSION)

    sk = HLLSketch(12)
    sk.update_hashes(np.arange(100, dtype=np.int64))
    legacy = ((100).to_bytes(8, "little")
              + (3).to_bytes(8, "little", signed=True) + sk.to_bytes())
    state = tmp_path / "acc_state"
    state.mkdir()
    (state / "sketch_state.bin").write_bytes(legacy)
    with pytest.raises(ValueError, match="versioned"):
        StreamingSketchAccumulator("user_id", lambda: HLLSketch(12),
                                   state_dir=str(state))
    future = _STATE_MAGIC + bytes([_STATE_VERSION + 1]) + legacy
    (state / "sketch_state.bin").write_bytes(future)
    with pytest.raises(ValueError, match="format v"):
        StreamingSketchAccumulator("user_id", lambda: HLLSketch(12),
                                   state_dir=str(state))


def test_streaming_sharded_dedup(spark, tmp_path):
    """Online seen-before guard: across micro-batches no key is emitted
    twice (Bloom has no false negatives), and at most ~p of genuinely
    new keys are suppressed by false positives."""
    import shutil
    from pyspark.sql import functions as F
    from bloom_filters_spark.streaming import (
        StreamingShardedDedup, run_stream_dedup)

    # two overlapping batches as separate files → maxFilesPerTrigger=1
    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.range(0, 1000).select(F.col("id").alias("user_id"))
    b2 = spark.range(500, 1500).select(F.col("id").alias("user_id"))
    b1.coalesce(1).write.parquet(str(tmp_path / "b1"))
    b2.coalesce(1).write.parquet(str(tmp_path / "b2"))
    for i, d in enumerate(("b1", "b2")):
        for f in (tmp_path / d).glob("*.parquet"):
            shutil.copy(f, src / f"batch{i}.parquet")

    emitted: list = []
    guard = StreamingShardedDedup(
        spark, "user_id", str(tmp_path / "state"), n_shards=8, p=0.01,
        shard_capacity=2048,
        emit=lambda df, bid: emitted.extend(
            r["user_id"] for r in df.collect()))
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    run_stream_dedup(stream, guard, checkpoint_dir=str(tmp_path / "cp"))

    assert len(emitted) == len(set(emitted))          # never emitted twice
    # overlap (500..999) suppressed; new keys survive modulo FP rate
    assert len(set(emitted)) >= 1500 * (1 - 3 * 0.01)
    assert guard.n_suppressed >= 500                  # the true dupes
    # state is versioned; a reader sees the latest complete version
    shards = guard.current_shards()
    assert shards is not None and shards.count() > 0
    # the version merge: each shard is the OR of every emitted key's
    # filter (Bloom OR is order-invariant, so the bytes match a one-shot
    # build) and counts exactly that shard's emitted keys
    from bloom_filters_spark.operators.sharded import build_sharded
    assert shards.columns == ["shard", "payload", "n_rows", "n_shards"]
    ref = build_sharded(
        spark.createDataFrame([(k,) for k in emitted], "user_id long"),
        "user_id", 8, factory=guard._factory(), seed=guard.seed,
        capacity_per_shard=guard.shard_capacity)
    want = {r["shard"]: tuple(r) for r in ref.collect()}
    got = {r["shard"]: tuple(r) for r in shards.collect()}
    assert got == want
    emitted_per_shard = (spark.createDataFrame(
        [(k,) for k in emitted], "user_id long")
        .groupBy(F.pmod(F.xxhash64("user_id", F.lit(0)), F.lit(8))
                 .cast("int").alias("shard")).count().collect())
    assert {r["shard"]: r["count"] for r in emitted_per_shard} == {
        s: row[2] for s, row in got.items()}
    # pruning old versions must not make the next name collide (the
    # version counter is max+1, not count+1)
    import os
    vs = guard._versions()
    assert len(vs) >= 2
    shutil.rmtree(os.path.join(str(tmp_path / "state"), vs[0]))
    guard._write_version(shards)
    assert guard._versions()[-1] > vs[-1]


def test_stream_dedup_within_batch_duplicates(spark, tmp_path):
    """A micro-batch carrying the same key several times emits exactly
    ONE representative row for it: the guard's contract is "no key is
    ever emitted twice", and the sharded probe alone only covers
    PREVIOUS batches' state — within-batch copies must be deduped
    before the probe. The extra copies count as suppressed."""
    import shutil
    from bloom_filters_spark.streaming import (StreamingShardedDedup,
                                               run_stream_dedup)
    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame([(k,) for k in (1, 1, 1, 2, 3)],
                               "user_id long")
    b2 = spark.createDataFrame([(k,) for k in (2, 4, 4)],
                               "user_id long")
    for i, b in enumerate((b1, b2)):
        b.coalesce(1).write.parquet(str(tmp_path / f"b{i}"))
        for f in (tmp_path / f"b{i}").glob("*.parquet"):
            shutil.copy(f, src / f"batch{i}.parquet")
    emitted: list = []
    guard = StreamingShardedDedup(
        spark, "user_id", str(tmp_path / "state"), n_shards=4, p=0.01,
        shard_capacity=2048,
        emit=lambda df, bid: emitted.extend(
            r["user_id"] for r in df.collect()))
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    run_stream_dedup(stream, guard, checkpoint_dir=str(tmp_path / "cp"))
    assert sorted(emitted) == [1, 2, 3, 4]     # each key exactly once
    assert guard.n_emitted == 4
    # 2 extra 1s + 1 extra 4 within-batch, + the cross-batch seen 2
    assert guard.n_suppressed == 4


def test_catalog_table_kill_resume(spark, sf_dir, tmp_path):
    """LIVE DataFrameWriterV2 round trip — the exact writeTo().append()
    branch the Iceberg backend uses, executed against Spark's built-in
    JDBCTableCatalog (DSv2) over embedded Derby (both ship with Spark;
    no external jars). Kill after 3/8 shards, resume from the catalog
    table, and the merged sketch must be byte-identical to a direct
    build — the north_rule resume contract through a real catalog."""
    from bloom_filters_spark import checkpoint as cp

    spark.conf.set(
        "spark.sql.catalog.bfsckpt",
        "org.apache.spark.sql.execution.datasources.v2.jdbc."
        "JDBCTableCatalog")
    spark.conf.set("spark.sql.catalog.bfsckpt.url",
                   f"jdbc:derby:{tmp_path}/lineage_db;create=true")
    spark.conf.set("spark.sql.catalog.bfsckpt.driver",
                   "org.apache.derby.jdbc.EmbeddedDriver")
    # Derby maps Spark string -> CLOB, which its SQL layer cannot compare
    # in a pushed-down predicate; evaluate filters Spark-side instead.
    # (Iceberg keeps pushdown — this is a Derby-dialect quirk only.)
    spark.conf.set("spark.sql.catalog.bfsckpt.pushDownPredicate", "false")

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    factory = lambda: HLLSketch(11)
    ck = cp.SketchCheckpoint(spark, str(tmp_path / "unused"), n_shards=8,
                             catalog_table="bfsckpt.lineage")
    with pytest.raises(RuntimeError, match="simulated kill"):
        ck.build(events, "user_id", factory, "cat_hll",
                 fail_after_shards=3)
    assert len(ck.surviving_shards("cat_hll")) == 3
    # partials really live in the catalog table, written via writeTo()
    t = spark.read.table("bfsckpt.lineage")
    assert t.where(F.col("sketch_id") == "cat_hll").count() == 3
    sk, n, lineage = ck.resume(events, "user_id", factory, "cat_hll")
    assert len(lineage["recomputed_shards"]) == 5
    direct, n2 = build_sketch(events, "user_id", factory)
    assert n == n2
    assert sk.to_bytes() == direct.to_bytes()
    # resume is idempotent through the catalog backend too
    sk2, _, lin2 = ck.resume(events, "user_id", factory, "cat_hll")
    assert lin2["recomputed_shards"] == []
    assert sk2.to_bytes() == sk.to_bytes()


def test_iceberg_schema_contract(spark):
    """The 'swap the writer to Iceberg' claim, tested: the lineage
    DataFrame's Spark schema maps 1:1 onto the documented ICEBERG_DDL
    column-for-column (same names, same order, Iceberg types mapped to
    their Spark equivalents). When the Iceberg runtime is present
    (cluster run), SketchCheckpoint(iceberg_table=...) goes through a
    real CREATE TABLE + writeTo().append() — exercised here only if the
    jars exist; the sandbox asserts the honest unavailable-path error."""
    import re

    import pytest as _pt
    from bloom_filters_spark import checkpoint as cp

    body = cp.ICEBERG_DDL.split("(", 1)[1].split("\n)", 1)[0]
    ddl_cols = [tuple(re.split(r"\s+", line.strip(" ,"))[:2])
                for line in body.strip().splitlines()]
    expected = [(name, cp._ICEBERG_TO_SPARK[typ]) for name, typ in ddl_cols]

    df = spark.createDataFrame([], cp._LINEAGE_SCHEMA)
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    assert got == expected, f"{got} != {expected}"

    if cp.iceberg_available(spark):
        t = "spark_catalog.default.bfs_lineage_contract"
        ck = cp.SketchCheckpoint(spark, "/tmp/unused", n_shards=4,
                                 iceberg_table=t)
        ck._append(df)
        assert spark.read.table(t).count() == 0
    else:
        with _pt.raises(RuntimeError, match="Iceberg runtime"):
            cp.SketchCheckpoint(spark, "/tmp/unused", n_shards=4,
                                iceberg_table="default.nope")


def test_failed_merge_does_not_advance_cursor(spark, tmp_path,
                                              monkeypatch):
    """The replay cursor must move only AFTER a batch's merge succeeds:
    if the merge raises and Spark replays the batch, the retry must be
    folded, not silently skipped as 'already merged'."""
    acc = StreamingSketchAccumulator("user_id", lambda: HLLSketch(12),
                                     state_dir=str(tmp_path / "st"))
    b0 = spark.range(0, 500).select(F.col("id").alias("user_id"))
    acc(b0, 0)
    assert acc.last_batch_id == 0 and acc.n_rows == 500

    class Boom(Exception):
        pass

    def boom(self, other):
        raise Boom()

    b1 = spark.range(500, 900).select(F.col("id").alias("user_id"))
    with monkeypatch.context() as mp:
        mp.setattr(HLLSketch, "merge", boom)
        with pytest.raises(Boom):
            acc(b1, 1)
    assert acc.last_batch_id == 0          # cursor did NOT advance
    assert acc.n_rows == 500
    acc(b1, 1)                             # the replay folds normally
    assert acc.last_batch_id == 1 and acc.n_rows == 900


def test_sharded_dedup_saturation_fails_loudly(spark, tmp_path):
    """A stream that outgrows its fixed per-shard capacity must raise
    with rebuild guidance, not silently drop an unbounded fraction of
    new rows as the Bloom fill climbs."""
    from bloom_filters_spark.streaming.dedup import StreamingShardedDedup

    dd = StreamingShardedDedup(spark, "user_id",
                               str(tmp_path / "sat_state"),
                               n_shards=4, p=0.01, shard_capacity=100)
    ok = spark.range(0, 300).select(F.col("id").alias("user_id"))
    dd(ok, 0)                                  # within design: fine
    assert dd.last_worst_fpr <= dd.max_fpr
    flood = spark.range(1_000_000, 1_030_000).select(
        F.col("id").alias("user_id"))
    with pytest.raises(RuntimeError, match="saturated"):
        dd(flood, 1)
    # healthy configuration never trips the guard
    dd2 = StreamingShardedDedup(spark, "user_id",
                                str(tmp_path / "ok_state"),
                                n_shards=4, p=0.01,
                                shard_capacity=50_000)
    dd2(flood, 0)
    assert dd2.last_worst_fpr <= dd2.max_fpr
