"""Two-tier (1x vs 10x) scale benchmark → BENCH/sf1.json.

The per-round BENCH_r{N}.json runs at the driver's sf0.1; the 100 TB
claims only become VISIBLE with a second, larger tier:

- probe wall time flat in shard-payload size (cogroup probe),
- IBF reconcile cost ~scan-bound for a FIXED diff (O(d) bytes moved),
- scan-prune speedup GROWS with table size (prune is O(selectivity),
  the full scan is O(n)),
- dedup / token / sketch ops near-linear in rows,
- pages sketch-build docs/sec SUSTAINED at 10x the docs.

Both tiers are generated by the same deterministic law
(sources/synth.py), so the 10x/1x timing ratio is a scaling
measurement, not a data-shape change. Tier data is staged once under
$SPARK_GRAFT_SF1_DIR (default /tmp/bfs_tiers) and reused.

Usage: python scripts/bench_sf1.py   → writes BENCH/sf1.json
(bench.py embeds the summary into its one-line output when present).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from bloom_filters_spark.kernels import HLLSketch  # noqa: E402
from bloom_filters_spark.operators.agg import build_sketch  # noqa: E402
from bloom_filters_spark.operators import reconcile as rc  # noqa: E402
from bloom_filters_spark.session import (  # noqa: E402
    default_resources, get_spark)
from bloom_filters_spark.sources.pages import generate_pages  # noqa: E402
from bloom_filters_spark.sources.synth import stage_tier  # noqa: E402

REPS = int(os.environ.get("SPARK_GRAFT_SF1_REPS", "2"))
BASE = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/bfs_tiers")
PAGES_N = {"1x": 200_000, "10x": 2_000_000}
SKEW_N = {"1x": 2_000_000, "10x": 20_000_000}
ROLLUP_PAGES_N = {"1x": 2_000_000, "10x": 20_000_000}

# set by run_tier so tier-sized fixtures (skew rows, pages cube) know
# which tier the current query executes under
CURRENT_TIER = "1x"


def q_simhash_16bit(spark, sf_dir):
    """simhash at the SCALE config: 4 chunks of 16 bits (max_hamming=3).
    The sf0.1 bench's 8-bit bands (chunks=8, hamming<=7) put ~n/256
    docs in every band bucket, so candidate pairs grow ~n^2/256 — at
    50k docs that is ~39M candidates (measured 26x time at 10x rows).
    16-bit bands have 65536 values: bucket occupancy stays O(1) per
    doc at this scale and candidates grow ~linearly. At 100 TB the
    same rule applies again: band width must grow with corpus size
    (or banding moves to multi-probe); this query IS that evidence."""
    from bloom_filters_spark.operators import dedup as dd
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.neardup_simhash(docs, "doc_id", "text", max_hamming=3,
                              chunks=4).count()


def q_ibf_fixed_diff(spark, sf_dir):
    """reconcile O(d) evidence: the diff is FIXED at 2000 keys in both
    tiers, so reconcile cost may grow only with the build scan — never
    with table size x diff decoding."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    left = orders.select("o_orderkey")
    right = orders.where("o_orderkey >= 2000").select("o_orderkey")
    out = rc.reconcile_keys(left, right, "o_orderkey",
                            diff_capacity=8192, n_shards=16).count()
    assert out == 2000, out
    return out


def q_hll_grouped_orderkeys(spark, sf_dir):
    """Many-groups grouped sketch build — the per-host web shape at
    tier scale (150k groups at 1x, 1.5M at 10x, ~4 rows each): one HLL
    per l_orderkey over l_partkey, exercising the vectorized
    GroupedHLLFold map side and the batched _merge_grouped reduce.
    Near-linear wall for 10x the rows AND 10x the groups is the claim
    (per-group Python invocation cost would instead scale with G)."""
    from bloom_filters_spark.operators.agg import build_grouped_sketches
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    grouped = build_grouped_sketches(li, "l_partkey",
                                     lambda: HLLSketch(12),
                                     ["l_orderkey"])
    return grouped.count()


def _skew_hosts(spark):
    """Deterministic web-shape skew, AMPLIFIED per VERDICT r4 #2: one
    hot host carries 35% of all rows (the sf0.1 pages fixture's zipf
    hot host is only ~7%, which r4's grouped-build speedups pushed
    inside VM noise); 997 cold hosts share the rest. Content-addressed
    (xxhash64 of the row id) — identical at any parallelism."""
    n = SKEW_N[CURRENT_TIER]
    return spark.range(n).select(
        F.when(F.pmod(F.xxhash64("id", F.lit(101)), F.lit(100)) < 35,
               F.lit("hot.example"))
        .otherwise(F.concat(
            F.lit("host"),
            F.pmod(F.xxhash64("id", F.lit(202)), F.lit(997))
            .cast("string"))).alias("host"),
        F.col("id").alias("url"))


def q_skew_amplified_unsalted(spark, sf_dir):
    """Side A: input partitioned BY HOST — the 35%-hot host pins ~7M
    of the 10x tier's 20M rows into ONE task; its map-side partial
    build is the straggler the wall time exposes."""
    from bloom_filters_spark.operators.agg import build_grouped_sketches
    df = _skew_hosts(spark).repartition(32, "host")
    return build_grouped_sketches(df, "url", lambda: HLLSketch(12),
                                  ["host"]).count()


def q_skew_amplified_salted(spark, sf_dir):
    """Side B: salted_repartition (north_rule 'explicit salted-key
    repartitioning', salts=8) — the hot host spreads over 8 shards,
    map partials stay balanced, only (host, partial) rows merge.
    Same fixture, same sketch, same reduce; the wall delta is the
    straggler."""
    from bloom_filters_spark.operators.agg import (build_grouped_sketches,
                                                   salted_repartition)
    df = salted_repartition(_skew_hosts(spark), F.col("host"), 32,
                            salts=8, salt_from=F.col("url"))
    return build_grouped_sketches(df, "url", lambda: HLLSketch(12),
                                  ["host"]).count()


_CUBE_PATHS: dict = {}
_ROLLUP_BEST: dict = {}


def q_rollup_slices_tier(spark, sf_dir):
    """Sketch-cube reuse at tier scale (VERDICT r4 #7): a per-(host,
    DAY) cube — day grain because pages has 1000 hosts at one row per
    second, so hour grain would put ~4 rows in every group and the
    "cube" would be nearly as big as the table — is staged once per
    tier over a DEDICATED larger fixture (2M/20M pages; the shared
    200k/2M tier is too small for six table scans to clear the ~0.6s
    job-overhead floor). Six FIXED-window dashboard questions (same
    absolute durations → same rows at every tier, pages emits one
    row/sec) are answered in ONE job from the cube
    (query_rollup_many) vs six direct rescans of the pages table —
    the host predicate is an unpushable url expression, so each
    direct build is O(table). The cube answer stays flat while the
    rescan grows with the tier: the reuse factor GROWS with table
    size; component walls (best across reps) are reported beside it."""
    from bloom_filters_spark.operators.rollup import rollup_sketches
    import bench
    n = ROLLUP_PAGES_N[CURRENT_TIER]
    ppath = os.path.join(BASE, f"rpages_{CURRENT_TIER}")
    if not os.path.exists(os.path.join(ppath, "_SUCCESS")):
        generate_pages(spark, n).write.mode("overwrite").parquet(ppath)
    pages = spark.read.parquet(ppath)
    if CURRENT_TIER not in _CUBE_PATHS:
        path = os.path.join(BASE, f"rcube_{CURRENT_TIER}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            src = pages.select(bench.plans.host_col("url").alias("host"),
                               "url", "warc_ts")
            rollup_sketches(src, "url", lambda: HLLSketch(12),
                            time_col="warc_ts", grain="day",
                            group_cols=["host"]).write.mode(
                "overwrite").parquet(path)
        _CUBE_PATHS[CURRENT_TIER] = path
    cube = spark.read.parquet(_CUBE_PATHS[CURRENT_TIER])
    d = bench.rollup_slices_factor(spark, pages, cube, grain="day")
    b = _ROLLUP_BEST.setdefault(CURRENT_TIER,
                                {"t_cube": 1e18, "t_direct": 1e18})
    b["t_cube"] = min(b["t_cube"], d["t_cube"])
    b["t_direct"] = min(b["t_direct"], d["t_direct"])
    b["factor"] = round(b["t_direct"] / max(b["t_cube"], 1e-9), 1)
    return dict(b)


def _lined_tier_pages(spark):
    """Current tier's pages (200k / 2M) with the SAME deterministic
    line/paragraph structure the sf0.1 bench applies
    (bench.line_structure_col), STAGED per tier with frozen doc ids
    (scan-stable, fixture regex cost excluded from the measured
    wall) — the 10x/1x ratio then measures the operators, not a
    data-shape change. The staged path carries a short hash of the
    tier and the generating expression, so a changed expression
    re-stages instead of reusing a stale fixture."""
    lined = bench.line_structure_col("text")
    key = hashlib.sha1(f"{CURRENT_TIER}:{lined}".encode()).hexdigest()[:12]
    path = os.path.join(BASE, f"lined_{CURRENT_TIER}_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages = spark.read.parquet(
            os.path.join(BASE, f"pages_{CURRENT_TIER}"))
        (pages.select(
            F.monotonically_increasing_id().alias("doc_id"),
            lined.alias("text"))
         .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def q_para_dedup_tier(spark, sf_dir):
    """Paragraph keep-first at tier scale: expect ~linear wall in rows
    (two shuffles — 16-byte winner keys, then the one text-crossing
    rebuild — both linear, winner pick map-side combined)."""
    from bloom_filters_spark.operators.dedup import dedup_paragraphs
    out = dedup_paragraphs(_lined_tier_pages(spark))
    return out.agg(F.sum("n_paras"), F.sum("n_paras_kept")).collect()


def q_repetition_tier(spark, sf_dir):
    """Gopher repetition battery at tier scale (~linear: 3 explode→
    groupBy passes keyed by (doc, value), no doc-local quadratics)."""
    from bloom_filters_spark.operators.textstats import repetition_stats
    rep = repetition_stats(_lined_tier_pages(spark))
    return rep.agg(F.sum("n_lines"), F.avg("dup_line_frac")).collect()


def q_scrub_tier(spark, sf_dir):
    """Six-rule PII regexp chain over the tier's page texts (pure
    scan work — expect ~linear wall in total text bytes)."""
    from bloom_filters_spark.operators.scrub import with_scrubbed_text
    pages = spark.read.parquet(
        os.path.join(BASE, f"pages_{CURRENT_TIER}")).select("text")
    out = with_scrubbed_text(pages)
    return out.agg(F.sum(F.length("text_scrubbed"))).collect()


TIER_QUERIES = {
    "hll_distinct": bench.q_hll_distinct,
    "hll_grouped_orderkeys": q_hll_grouped_orderkeys,
    "kll_quantiles": bench.q_kll_quantiles,
    "minhash_neardup": bench.q_minhash_neardup,
    "simhash_16bit": q_simhash_16bit,
    "ngram_jaccard_guarded": bench.q_ngram_jaccard_guarded,
    "prepare_corpus": bench.q_prepare_corpus,
    "cms_heavy_tokens": bench.q_cms_heavy_tokens,
    "heavy_hitters_mg": bench.q_heavy_hitters_mg,
    "tokens_topk": bench.q_tokens_topk,
    "sharded_probe_small": bench.q_sharded_probe_small,
    "sharded_probe_16mb": bench.q_sharded_probe_16mb,
    "scan_prune": bench.q_scan_prune,
    "ibf_fixed_diff": q_ibf_fixed_diff,
    "ann_lsh": bench.q_ann_lsh,
    "ann_ivf": bench.q_ann_ivf,
    "skew_amplified_unsalted": q_skew_amplified_unsalted,
    "skew_amplified_salted": q_skew_amplified_salted,
    "rollup_slices": q_rollup_slices_tier,
    "para_dedup": q_para_dedup_tier,
    "repetition_stats": q_repetition_tier,
    "scrub_pii": q_scrub_tier,
}


def run_tier(spark, tier: str, sf_dir: str) -> dict:
    global CURRENT_TIER
    CURRENT_TIER = tier
    # pages staged FIRST: the rollup tier query reads them
    pages_path = os.path.join(BASE, f"pages_{tier}")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        generate_pages(spark, PAGES_N[tier]).write.mode(
            "overwrite").parquet(pages_path)
    timings: dict[str, float] = {}
    results: dict[str, object] = {}
    for rnd in range(REPS):
        for name, fn in TIER_QUERIES.items():
            t0 = time.time()
            results[name] = fn(spark, sf_dir)
            dt = time.time() - t0
            timings[name] = min(timings.get(name, 1e18), round(dt, 3))
            print(f"# {tier} [{rnd}] {name}: {dt:.2f}s "
                  f"(result={results[name]})", file=sys.stderr)
    # pages sketch-build throughput at this tier's page count
    rate = 0.0
    for _ in range(REPS):
        pages = spark.read.parquet(pages_path).select("url")
        t0 = time.time()
        _, n = build_sketch(pages, "url", lambda: HLLSketch(13))
        rate = max(rate, round(n / (time.time() - t0), 1))
    return {"timings": timings, "results": results,
            "pages_docs_per_sec": rate, "pages_n": PAGES_N[tier]}


def main() -> None:
    cores = default_resources()[0]
    spark = get_spark("bench-sf1", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: spin python workers + JIT so tier 1x's first query isn't
    # charged for process startup
    warm = spark.range(100_000).select(F.col("id").alias("k"))
    build_sketch(warm, "k", lambda: HLLSketch(10))

    dirs = {"1x": stage_tier(spark, BASE, 1.0),
            "10x": stage_tier(spark, BASE, 10.0)}
    tiers = {}
    for tier, d in dirs.items():
        # per-tier caches in bench are keyed by content of ONE tier
        bench._SHARD_CACHE.clear()
        bench._PRUNE_CACHE.clear()
        tiers[tier] = run_tier(spark, tier, d)

    t1, t10 = tiers["1x"]["timings"], tiers["10x"]["timings"]
    ratios = {k: round(t10[k] / max(t1[k], 1e-9), 2) for k in t1}
    claims = {
        # r2's probe pathology shipped payload bytes PER ROW (10x the
        # payload => ~10x the time); the cogroup ships it per (shard,
        # salt) group. Evidence: 10x the payload costs << 10x the wall
        # time at both tiers. The residual factor at the 10x tier is
        # DRAM misses on the 10x-bigger bit array (k random accesses
        # per key into 16.8MB vs 1.7MB working set) — a property of
        # Bloom filters on any hardware, not of the plan.
        "probe_time_ratio_16mb_over_small_1x": round(
            t1["sharded_probe_16mb"] / max(t1["sharded_probe_small"],
                                           1e-9), 2),
        "probe_time_ratio_16mb_over_small_10x": round(
            t10["sharded_probe_16mb"] / max(t10["sharded_probe_small"],
                                            1e-9), 2),
        "probe_payload_size_ratio": 10.0,
        # scan_prune returns files_total/files_scanned — the structural
        # I/O-reduction factor (bytes never read); identical at both
        # tiers by construction of the clustered layout, while the
        # FULL scan's absolute cost grows ~10x
        "prune_files_factor_1x": tiers["1x"]["results"]["scan_prune"],
        "prune_files_factor_10x": tiers["10x"]["results"]["scan_prune"],
        # fixed 2000-key diff: reconcile growth must track the scan
        # (~linear at most), never diff decoding
        "reconcile_fixed_diff_time_ratio": ratios["ibf_fixed_diff"],
        # pages sketch throughput sustained at 10x the documents
        "pages_docs_per_sec": {
            t: tiers[t]["pages_docs_per_sec"] for t in tiers},
        "pages_throughput_ratio_10x_over_1x": round(
            tiers["10x"]["pages_docs_per_sec"]
            / max(tiers["1x"]["pages_docs_per_sec"], 1e-9), 3),
        # north_rule salted repartitioning — the WALL-CLOCK witness
        # (VERDICT r4 #2): with a 35%-hot host at 20M rows the salt
        # must beat the host-partitioned straggler outright
        "skew_unsalted_wall": {t: tiers[t]["timings"]
                               ["skew_amplified_unsalted"] for t in tiers},
        "skew_salted_wall": {t: tiers[t]["timings"]
                             ["skew_amplified_salted"] for t in tiers},
        "skew_salted_speedup_10x": round(
            t10["skew_amplified_unsalted"]
            / max(t10["skew_amplified_salted"], 1e-9), 2),
        "skew_salted_wins_wall_10x": bool(
            t10["skew_amplified_salted"] < t10["skew_amplified_unsalted"]),
        # sketch-cube reuse at tier (VERDICT r4 #7): fixed-window
        # slices → the avoided direct rescan grows with the table
        # while the cube answer stays flat, so the factor GROWS
        "rollup_reuse_factor": {
            t: tiers[t]["results"]["rollup_slices"]["factor"]
            for t in tiers},
        "rollup_cube_answer_wall": {
            t: tiers[t]["results"]["rollup_slices"]["t_cube"]
            for t in tiers},
        "rollup_direct_rescan_wall": {
            t: tiers[t]["results"]["rollup_slices"]["t_direct"]
            for t in tiers},
        "rollup_direct_growth_10x": round(
            tiers["10x"]["results"]["rollup_slices"]["t_direct"]
            / max(tiers["1x"]["results"]["rollup_slices"]["t_direct"],
                  1e-9), 2),
        "rollup_cube_growth_10x": round(
            tiers["10x"]["results"]["rollup_slices"]["t_cube"]
            / max(tiers["1x"]["results"]["rollup_slices"]["t_cube"],
                  1e-9), 2),
    }
    out = {"tiers": {t: {"timings": tiers[t]["timings"],
                         "pages_docs_per_sec": tiers[t]["pages_docs_per_sec"],
                         "pages_n": tiers[t]["pages_n"]}
                     for t in tiers},
           "time_ratio_10x_over_1x": ratios,
           "claims": claims, "reps": REPS, "cores": cores,
           "row_counts": {"1x": {"documents": 5000, "lineitem": 600000,
                                 "orders": 150000, "embeddings": 2000},
                          "10x": {"documents": 50000, "lineitem": 6000000,
                                  "orders": 1500000, "embeddings": 20000}}}
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "sf1.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
