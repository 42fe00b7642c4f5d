"""In-round A/B: HOF vs numpy signature kernels (VERDICT r2 item 1).

Runs minhash_neardup / simhash_neardup end-to-end at $SPARK_GRAFT_SF_DIR
(default sf0.1) with both signature implementations, ALTERNATING
A/B/A/B across rounds so this VM's episodic slow-memory phases hit both
sides equally (the same protocol as scripts/bench_scaling.py). Also
re-times the three r2-"weak" queries whose definitions never changed
(bloom_seen_before, tokens_topk, ann_lsh) to separate real regressions
from phase noise. Writes BENCH/sig_ab.json: per-side min/median wall
times and the winner per query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bloom_filters_spark.kernels import BloomSketch, HLLSketch  # noqa: E402
from bloom_filters_spark.operators import dedup as dd  # noqa: E402
from bloom_filters_spark.operators import relational as rel  # noqa: E402
from bloom_filters_spark.operators import similarity as sim  # noqa: E402
from bloom_filters_spark.operators import textstats as ts  # noqa: E402
from bloom_filters_spark.operators.agg import build_sketch  # noqa: E402
from bloom_filters_spark.plans import queries as plans  # noqa: E402
from bloom_filters_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUNDS = int(os.environ.get("SPARK_GRAFT_AB_ROUNDS", "3"))


def run_cases(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def minhash(impl):
        return lambda: dd.neardup_minhash(
            docs, "doc_id", "text", threshold=0.8, shingle=3,
            impl=impl).count()

    def simhash(impl):
        return lambda: dd.neardup_simhash(
            docs, "doc_id", "text", max_hamming=7, chunks=8,
            impl=impl).count()

    def bloom_seen():
        return plans.seen_before(
            orders.select(F.col("o_orderkey").alias("k")),
            li.select(F.col("l_orderkey").alias("k")),
            col="k", p=0.01).where("seen_before").count()

    def tokens_topk():
        toks = ts.tokenize(docs.select("text"), "text").select("token")
        return len(rel.top_k_by_count(toks, "token", 20).collect())

    def ann_lsh():
        return sim.ann_topk_lsh(emb.where("vec_id >= 20"),
                                emb.where("vec_id < 20"),
                                dim=64, k=10, qid_col="vec_id").count()

    return {
        "minhash_hof": minhash("hof"),
        "minhash_numpy": minhash("numpy"),
        "simhash_hof": simhash("hof"),
        "simhash_numpy": simhash("numpy"),
        "bloom_seen_before": bloom_seen,
        "tokens_topk": tokens_topk,
        "ann_lsh": ann_lsh,
    }


def main():
    spark = get_spark("sig_ab")
    spark.sparkContext.setLogLevel("ERROR")
    build_sketch(spark.range(100_000).select(F.col("id").alias("k")),
                 "k", lambda: HLLSketch(10))  # warm python workers

    cases = run_cases(spark)
    samples: dict[str, list[float]] = {k: [] for k in cases}
    results: dict[str, object] = {}
    for rnd in range(ROUNDS):
        for name, fn in cases.items():
            t0 = time.time()
            results[name] = fn()
            dt = time.time() - t0
            samples[name].append(round(dt, 3))
            print(f"# [{rnd}] {name}: {dt:.2f}s (result={results[name]})",
                  file=sys.stderr)

    out = {"sf_dir": SF_DIR, "rounds": ROUNDS, "samples": samples,
           "results": {k: results[k] for k in cases},
           "min": {k: min(v) for k, v in samples.items()},
           "median": {k: round(statistics.median(v), 3)
                      for k, v in samples.items()}}
    for q in ("minhash", "simhash"):
        hof, npy = out["min"][f"{q}_hof"], out["min"][f"{q}_numpy"]
        out[f"{q}_winner"] = "numpy" if npy <= hof else "hof"
        out[f"{q}_speedup_numpy_over_hof"] = round(hof / npy, 2)
    # identical pair counts = the two kernels agree end-to-end
    out["parity"] = {
        "minhash": results["minhash_hof"] == results["minhash_numpy"],
        "simhash": results["simhash_hof"] == results["simhash_numpy"]}
    os.makedirs(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH"), exist_ok=True)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "sig_ab.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
