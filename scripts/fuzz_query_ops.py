"""Randomized differential fuzz for the query-operator families not
covered by fuzz_operators.py: ANN similarity search, Bloom-accelerated
joins, exact heavy hitters, and content-addressed sampling.

Per trial:

  1. ANN: `ann_topk_bruteforce` vs an independent numpy oracle
     (cosine rounded to 6dp, desc + id tiebreak) over random vectors
     INCLUDING zero-norm, NaN- and Inf-component corrupt rows (which
     must never occupy a rank slot); `ann_topk_ivf` at full probe
     (n_probe == n_centroids) must equal brute force EXACTLY; the
     approximate paths (`ann_topk_lsh`, IVF at n_probe=1) must return
     exact cosines for whatever pairs they return, and must recall a
     PLANTED exact duplicate of each query at rank 1 (an identical
     vector shares every LSH bucket and the same nearest cell — a miss
     is a bug, not bad luck); over the same corpus, `cosine_pairs`
     (exact=True) equals a numpy all-pairs oracle at a random
     threshold, and `cosine_pairs_lsh` returns a subset of it with
     exact cosines;
  2. joins: `bloom_semijoin` / `bloom_antijoin` row-multiset-identical
     to Spark's exact left-semi / left-anti joins, over random
     long/string keys with NULLs on both sides and random fpp —
     no-false-negative means the anti join must keep every NULL and
     never lose a true miss; `estimate_join_size` vs the exact inner
     join count: never underestimates (deterministic CMS inner-product
     property) and stays within the eps*|A|*|B| additive bound at
     delta=1e-4, with n_left/n_right equal to the non-NULL counts;
  3. heavy hitters: `heavy_hitters` (random capacity, zipf data) ==
     exact value counts above the completeness floor, value-for-value;
     `heavy_hitters_by_group` per-group exact, including a NULL group;
     the broadcast lookups bracket each token's exact count,
     `mg_lookup` <= exact <= `cms_lookup` and `mg_lookup` >=
     exact - n/(capacity+1), with ~2% NULL tokens (exact 0, answers
     never NULL);
  4. sampling: `weighted_sample` vs an independent pandas
     re-derivation of the A-ES draw (same md5 -> 52-bit u -> -ln(u)/w,
     NaN/zero/NULL weights excluded, key tiebreak) — exact key-set
     equality; `hash_split` layout-independence (repartitioned input
     maps every key to the same split) + fraction tolerance;
     `stratified_take` exactly min(n, group size) rows per group and
     layout-independent; `cap_per_group` vs a pandas head-n oracle
     (zipf domains, tied + NULL scores, doc tiebreak), pre_reduce on
     AND off; `assign_token_shards` vs a Python prefix-sum oracle
     (NULL/empty/giant docs, random shard and range-partition counts),
     then, with exact-copy rows appended, `select_token_budget` and
     `assign_token_shards` vs row-prefix oracles (multisets of kept
     doc_ids and of (doc_id, shard): copies are interchangeable).

Run: python scripts/fuzz_query_ops.py [n_trials]   (default 10)
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bloom_filters_spark.operators import similarity as sim  # noqa: E402
from bloom_filters_spark.kernels import (  # noqa: E402
    CountMinSketch, MisraGriesSketch)
from bloom_filters_spark.operators.agg import (  # noqa: E402
    build_sketch, cms_lookup)
from bloom_filters_spark.operators.dedup import (  # noqa: E402
    cosine_pairs, cosine_pairs_lsh)
from bloom_filters_spark.operators.frequent import (  # noqa: E402
    heavy_hitters, heavy_hitters_by_group, mg_lookup)
from bloom_filters_spark.operators.joins import (  # noqa: E402
    bloom_antijoin, bloom_semijoin, estimate_join_size)
from bloom_filters_spark.operators.sampling import (  # noqa: E402
    hash_split, stratified_take, weighted_sample)
from fuzzlib import check, run  # noqa: E402


# --------------------------------------------------------------------- 1. ANN

def _valid(vecs: dict[int, np.ndarray]) -> dict[int, tuple]:
    """{id: (vector, norm)} of the vectors that may score: finite norm
    > 0 (a zero, NaN or Inf vector never scores)."""
    return {i: (v, n) for i, v in vecs.items()
            if 0 < (n := float(np.linalg.norm(v))) < math.inf}


def _np_brute(corpus: dict[int, np.ndarray], queries: dict[int, np.ndarray],
              k: int) -> dict[int, list[tuple[int, int, float]]]:
    """Independent oracle: {qid: [(neighbor_id, rank, cosine6)]}."""
    out = {}
    cvalid = _valid(corpus)
    for qid, (qv, qn) in _valid(queries).items():
        scored = [(nid, round(float(np.dot(qv, cv)) / (qn * cn), 6))
                  for nid, (cv, cn) in cvalid.items()]
        scored.sort(key=lambda t: (-t[1], t[0]))
        out[qid] = [(nid, r + 1, c)
                    for r, (nid, c) in enumerate(scored[:k])]
    return out


def trial_ann(spark, rng, seed):
    dim = int(rng.choice([8, 16, 32]))
    n = int(rng.integers(150, 800))
    nq = int(rng.integers(3, 8))
    k = int(rng.integers(1, 9))
    vecs = rng.normal(0, 1, (n, dim))
    # corrupt rows: a zero-norm vector, a NaN and an Inf component
    vecs[0] = 0.0
    vecs[1, 0] = float("nan")
    vecs[2, 0] = float("inf")
    qvecs = rng.normal(0, 1, (nq, dim))
    # plant an exact duplicate of each query in the corpus
    corpus = {i: vecs[i] for i in range(n)}
    for j in range(nq):
        corpus[n + j] = qvecs[j].copy()
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in corpus.items()],
        "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(
        [(j, [float(x) for x in qvecs[j]]) for j in range(nq)],
        "query_id long, embedding array<double>")

    want = _np_brute(corpus, {j: qvecs[j] for j in range(nq)}, k)
    got = sim.ann_topk_bruteforce(cdf, qdf, k=k).collect()
    got_m = {}
    for r in got:
        got_m.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["rank"], round(r["cosine"], 6)))
    for q in got_m:
        got_m[q].sort(key=lambda t: t[1])
    check(got_m == want, f"ann brute mismatch seed={seed}")

    nc = int(rng.integers(2, 7))
    full = sim.ann_topk_ivf(cdf, qdf, dim=dim, k=k, n_centroids=nc,
                            n_probe=nc, seed=seed).collect()
    full_m = {}
    for r in full:
        full_m.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["rank"], round(r["cosine"], 6)))
    for q in full_m:
        full_m[q].sort(key=lambda t: t[1])
    check(full_m == want, f"ann ivf full-probe != brute seed={seed}")

    # approximate paths: exact cosines + planted-duplicate recall@1
    cosine_of = {}
    for qid, lst in _np_brute(corpus, {j: qvecs[j] for j in range(nq)},
                              len(corpus)).items():
        for nid, _r, c in lst:
            cosine_of[(qid, nid)] = c
    for name, adf in [
            ("lsh", sim.ann_topk_lsh(cdf, qdf, dim=dim, k=k, seed=seed)),
            ("ivf1", sim.ann_topk_ivf(cdf, qdf, dim=dim, k=k,
                                      n_centroids=nc, n_probe=1,
                                      seed=seed))]:
        rows = adf.collect()
        top = {}
        for r in rows:
            key = (r["query_id"], r["neighbor_id"])
            check(key in cosine_of and
                  round(r["cosine"], 6) == cosine_of[key],
                  f"ann {name} wrong cosine {key} seed={seed}")
            if r["rank"] == 1:
                top[r["query_id"]] = (r["neighbor_id"],
                                      round(r["cosine"], 6))
        for j in range(nq):
            got1 = top.get(j)
            check(got1 is not None and got1[1] == 1.0,
                  f"ann {name} missed planted duplicate q={j} "
                  f"got={got1} seed={seed}")

    # near-dup pairs over the same corrupt corpus: the exact operator
    # equals an all-pairs oracle, the LSH one is a subset of it
    t = float(rng.uniform(0.2, 0.6))
    cvalid = sorted(_valid(corpus).items())
    want_pairs = {}
    for a, (i, (vi, ni)) in enumerate(cvalid):
        for j, (vj, nj) in cvalid[a + 1:]:
            c = round(float(np.dot(vi, vj)) / (ni * nj), 6)
            if c >= t:
                want_pairs[(i, j)] = c
    got_pairs = {(r["id1"], r["id2"]): r["cosine"] for r in
                 cosine_pairs(cdf, threshold=t, exact=True).collect()}
    check(got_pairs == want_pairs,
          f"cosine_pairs exact != oracle t={t:.3f} seed={seed}: "
          f"{len(got_pairs)} vs {len(want_pairs)} pairs")
    lsh_pairs = {(r["id1"], r["id2"]): r["cosine"] for r in
                 cosine_pairs_lsh(cdf, threshold=t, n_planes=4,
                                  seed=seed).collect()}
    check(all(want_pairs.get(p) == c for p, c in lsh_pairs.items()),
          f"cosine_pairs_lsh not an exact subset of the oracle "
          f"t={t:.3f} seed={seed}")


# ------------------------------------------------------------------- 2. joins

def trial_joins(spark, rng, seed):
    kind = rng.choice(["long", "string"])
    nb = int(rng.integers(2000, 12000))
    ns = int(rng.integers(50, 500))
    fpp = float(rng.choice([0.001, 0.01, 0.1]))
    if kind == "long":
        big_keys = rng.integers(0, 3000, nb).astype("object")
        small_keys = rng.integers(0, 6000, ns).astype("object")
    else:
        big_keys = np.array([f"u{int(v)}" for v in
                             rng.integers(0, 3000, nb)], dtype="object")
        small_keys = np.array([f"u{int(v)}" for v in
                               rng.integers(0, 6000, ns)], dtype="object")
    big_keys[rng.random(nb) < 0.02] = None
    small_keys[rng.random(ns) < 0.02] = None
    big = spark.createDataFrame(
        pd.DataFrame({"k": big_keys, "v": np.arange(nb)})).select(
        F.col("k").cast(kind), F.col("v").cast("long"))
    small = spark.createDataFrame(
        pd.DataFrame({"k": small_keys})).select(F.col("k").cast(kind))

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    semi = bloom_semijoin(big, small, "k", fpp=fpp, seed=seed)
    want_semi = big.join(small, on="k", how="left_semi")
    check(rows(semi) == rows(want_semi),
          f"bloom_semijoin mismatch kind={kind} fpp={fpp} seed={seed}")

    anti = bloom_antijoin(big, small, "k", fpp=fpp, seed=seed)
    want_anti = big.join(small, on="k", how="left_anti")
    check(rows(anti) == rows(want_anti),
          f"bloom_antijoin mismatch kind={kind} fpp={fpp} seed={seed}")

    # estimate_join_size: the CMS inner product NEVER underestimates
    # (per-row sum over shared buckets >= a.b, deterministically) and
    # overestimates by more than eps*|A|*|B| with prob <= delta.
    # delta=1e-4 (depth 10) keeps the upper-bound check non-flaky
    # across a whole fuzz campaign (P[any slip in 100 trials] <= 1%).
    eps = float(rng.choice([1e-3, 3e-3, 1e-2]))
    est = estimate_join_size(big, "k", small, "k", eps=eps, delta=1e-4,
                             seed=seed)
    exact = big.join(small, on="k", how="inner").count()
    check(est["estimate"] >= exact,
          f"estimate_join_size UNDERestimate {est['estimate']} < {exact} "
          f"kind={kind} eps={eps} seed={seed}")
    check(est["estimate"] <= exact + est["bound_slack"],
          f"estimate_join_size bound slip: {est['estimate']} > "
          f"{exact} + {est['bound_slack']} kind={kind} eps={eps} "
          f"seed={seed}")
    n_left_exact = big.where(F.col("k").isNotNull()).count()
    n_right_exact = small.where(F.col("k").isNotNull()).count()
    check((est["n_left"], est["n_right"]) == (n_left_exact, n_right_exact),
          f"estimate_join_size n mismatch {est} vs "
          f"({n_left_exact}, {n_right_exact}) seed={seed}")


# ----------------------------------------------------------- 3. heavy hitters

def trial_heavy(spark, rng, seed):
    n = int(rng.integers(3000, 20000))
    cap = int(rng.choice([16, 64, 256]))
    # zipf-ish: value v drawn with weight 1/(v+1)
    dom = int(rng.integers(50, 2000))
    w = 1.0 / (np.arange(dom) + 1.0)
    vals = rng.choice(dom, size=n, p=w / w.sum())
    toks = np.array([f"t{int(v)}" for v in vals], dtype="object")
    df = spark.createDataFrame(pd.DataFrame({"tok": toks}))

    got = {r["tok"]: r["cnt"]
           for r in heavy_hitters(df, "tok", capacity=cap,
                                  seed=seed).collect()}
    floor = n / (cap + 1)
    vc = pd.Series(toks).value_counts()
    want = {t: int(c) for t, c in vc.items() if c > floor}
    check(got == want, f"heavy_hitters mismatch seed={seed}: "
                       f"missing={set(want) - set(got)} "
                       f"extra={set(got) - set(want)}")

    # grouped, with a NULL group
    groups = np.array(["en", "de", None], dtype="object")
    g = groups[rng.integers(0, 3, n)]
    gdf = spark.createDataFrame(pd.DataFrame({"lang": g, "tok": toks}))
    gcap = int(rng.choice([16, 64]))
    got_g = {(r["lang"], r["tok"]): r["cnt"]
             for r in heavy_hitters_by_group(
                 gdf, "tok", ["lang"], capacity=gcap,
                 seed=seed).collect()}
    want_g = {}
    gpdf = pd.DataFrame({"lang": g, "tok": toks})
    for lang, sub in gpdf.groupby("lang", dropna=False):
        lang = None if pd.isna(lang) else lang
        fl = len(sub) / (gcap + 1)
        for t, c in sub["tok"].value_counts().items():
            if c > fl:
                want_g[(lang, t)] = int(c)
    check(got_g == want_g,
          f"heavy_hitters_by_group mismatch seed={seed}: "
          f"missing={set(want_g) - set(got_g)} "
          f"extra={set(got_g) - set(want_g)}")

    # broadcast lookups bracket the exact count per token:
    # mg <= exact <= cms and mg >= exact - n/(cap+1), with ~2% NULL
    # tokens (never counted, so exact 0 for NULL; never a NULL answer)
    ntoks = toks.copy()
    ntoks[rng.random(n) < 0.02] = None
    ndf = spark.createDataFrame(pd.DataFrame({"tok": ntoks}))
    mg, n_mg = build_sketch(ndf, "tok", lambda: MisraGriesSketch(cap),
                            seed=seed)
    cms, _ = build_sketch(ndf, "tok", lambda: CountMinSketch(5, 2048),
                          seed=seed)
    nvc = pd.Series(ntoks).value_counts()
    check(n_mg == int(nvc.sum()), f"mg n={n_mg} != {int(nvc.sum())} "
                                  f"non-NULL seed={seed}")
    probe = ndf.select("tok").distinct()
    looked = mg_lookup(cms_lookup(probe, "tok", cms, seed=seed),
                       "tok", mg, seed=seed).collect()
    mg_floor = n_mg / (cap + 1)
    bad = [(r["tok"], r["mg_lower_bound"], r["est_count"])
           for r in looked
           if r["mg_lower_bound"] is None or r["est_count"] is None
           or not (r["mg_lower_bound"] <= nvc.get(r["tok"], 0)
                   <= r["est_count"])
           or r["mg_lower_bound"] < nvc.get(r["tok"], 0) - mg_floor]
    check(len(looked) == pd.Series(ntoks).nunique(dropna=False),
          f"lookup rows {len(looked)} seed={seed}")
    check(not bad, f"mg/cms bracket seed={seed} cap={cap}: {bad[:5]}")


# ---------------------------------------------------------------- 4. sampling

def trial_sampling(spark, rng, seed):
    n = int(rng.integers(2000, 10000))
    keys = np.array([f"k{seed}_{i}" for i in range(n)], dtype="object")
    wts = rng.lognormal(0, 2, n).astype("object")
    wts[rng.random(n) < 0.02] = 0.0
    wts[rng.random(n) < 0.02] = float("nan")
    wts[rng.random(n) < 0.02] = None
    keys[rng.random(n) < 0.02] = None     # NULL keys: never sampled
    pdf = pd.DataFrame({"k": keys, "w": wts})
    df = spark.createDataFrame(pdf).select(
        "k", F.col("w").cast("double"))
    k_take = int(rng.integers(10, 200))

    got = sorted(r["k"] for r in
                 weighted_sample(df, "k", "w", k_take,
                                 seed=seed).collect())
    # independent pandas re-derivation of the A-ES draw
    scored = []
    for key, wt in zip(keys, wts):
        if key is None or wt is None or (isinstance(wt, float) and
                                         (math.isnan(wt) or wt <= 0)):
            continue
        h = hashlib.md5(f"{key}#{seed}".encode()).hexdigest()[:13]
        u = (int(h, 16) + 1.0) / float(1 << 52)
        scored.append((-math.log(u) / float(wt), key))
    scored.sort()
    want = sorted(key for _s, key in scored[:k_take])
    check(got == want, f"weighted_sample mismatch seed={seed}: "
                       f"sym_diff={set(got) ^ set(want)}")

    # hash_split: layout-independent assignment + rough proportions
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["k"]: r["split"]
         for r in hash_split(df, "k", fr, seed=seed).collect()}
    b = {r["k"]: r["split"]
         for r in hash_split(df.repartition(7), "k", fr,
                             seed=seed).collect()}
    check(a == b, f"hash_split layout-dependent seed={seed}")
    n_train = sum(1 for v in a.values() if v == "train")
    check(abs(n_train / n - 0.8) < 0.05,
          f"hash_split train fraction {n_train / n} seed={seed}")

    # stratified_take: exact per-group size, layout-independent
    gcol = np.array(["a", "b", "c"], dtype="object")[
        rng.integers(0, 3, n)]
    sdf = spark.createDataFrame(pd.DataFrame({"g": gcol, "k": keys}))
    take = int(rng.integers(1, 50))
    out = stratified_take(sdf, ["g"], take, key_col="k", seed=seed)
    cnt = {r["g"]: r["cnt"] for r in
           out.groupBy("g").agg(F.count("*").alias("cnt")).collect()}
    gsz = pd.Series(gcol).value_counts()
    for gname, sz in gsz.items():
        check(cnt.get(gname, 0) == min(take, int(sz)),
              f"stratified_take {gname}: {cnt.get(gname)} != "
              f"min({take},{sz}) seed={seed}")
    out2 = stratified_take(sdf.repartition(5), ["g"], take,
                           key_col="k", seed=seed)
    check(sorted(r["k"] for r in out.collect()) ==
          sorted(r["k"] for r in out2.collect()),
          f"stratified_take layout-dependent seed={seed}")

    # cap_per_group vs a pandas oracle: random domains, scores with
    # ties AND NULLs (NULLs-last order), unique doc tiebreak; the
    # pre_reduce map-side pre-filter must not change the keep set
    from bloom_filters_spark.operators.sampling import cap_per_group
    nd = int(rng.integers(500, 3000))
    doms = np.array([f"d{int(v)}" for v in
                     rng.zipf(1.7, nd).clip(max=50)], dtype="object")
    scores = rng.integers(0, 20, nd).astype("object")
    scores[rng.random(nd) < 0.05] = None
    cdf_p = pd.DataFrame({"dom": doms, "doc": range(nd),
                          "score": scores})
    cdf = spark.createDataFrame(cdf_p, "dom string, doc long, score long")
    cap_n = int(rng.integers(1, 8))
    want_keep = set(
        cdf_p.sort_values(["score", "doc"], ascending=[False, True],
                          na_position="last")
        .groupby("dom", sort=False).head(cap_n)["doc"])
    for pre in (False, True):
        got_keep = {r["doc"] for r in
                    cap_per_group(cdf.repartition(6), "dom", cap_n,
                                  ["-score", "doc"],
                                  pre_reduce=pre).collect()}
        check(got_keep == want_keep,
              f"cap_per_group pre={pre} cap={cap_n} seed={seed}: "
              f"sym_diff={got_keep ^ want_keep}")

    # assign_token_shards vs a python prefix-sum oracle: random doc
    # lengths (incl. NULL/empty and one giant doc), random shard
    # counts and range-partition counts — assignment must be
    # layout-independent and exactly least(k-1, start*k // total)
    from bloom_filters_spark.operators import assign_token_shards
    nd2 = int(rng.integers(20, 120))
    texts = []
    for i in range(nd2):
        style = int(rng.integers(0, 8))
        if style == 0:
            texts.append(None)
        elif style == 1:
            texts.append("")
        elif style == 2:
            texts.append("giant " * int(rng.integers(100, 400)))
        else:
            texts.append(" ".join(
                f"w{int(rng.integers(0, 50))}"
                for _ in range(int(rng.integers(1, 30)))))
    sdf2 = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    k = int(rng.integers(2, 9))
    parts = int(rng.integers(1, 7))
    got_sh = {r["doc_id"]: r["shard"] for r in
              assign_token_shards(sdf2.repartition(5), k,
                                  partitions=parts).collect()}
    import re as _re
    lens = [0 if t is None else
            len([x for x in _re.split(r"\s+", t.strip()) if x])
            for t in texts]
    total = sum(lens)
    start, want_sh = 0, {}
    for i in range(nd2):
        want_sh[i] = 0 if total == 0 else min(k - 1, start * k // total)
        start += lens[i]
    check(got_sh == want_sh,
          f"token shards k={k} parts={parts} seed={seed}: "
          f"diff={[i for i in want_sh if got_sh.get(i) != want_sh[i]][:5]}")

    # the shared range_prefix_sums under exact-copy rows (ties on every
    # order key): select_token_budget and assign_token_shards vs
    # row-prefix oracles. Copies are interchangeable, so compare the
    # multisets of kept doc_ids and of (doc_id, shard)
    from collections import Counter
    from bloom_filters_spark.operators.textstats import with_quality_score
    from bloom_filters_spark.plans.queries import select_token_budget
    copies = [int(c) for c in rng.integers(0, nd2, int(rng.integers(1, 6)))]
    sdf3 = sdf2.unionByName(spark.createDataFrame(
        [(i, texts[i]) for i in copies], "doc_id long, text string"))
    ranked = sorted(
        ((r["quality_score"], r["doc_id"]) for r in
         with_quality_score(sdf3).select("quality_score", "doc_id")
         .collect()),
        key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
    prefix = np.cumsum([lens[i] for _q, i in ranked]).tolist()
    total3 = prefix[-1]
    # half the trials cut the budget right after a copied doc's first
    # row, where summing the copies as window peers would keep neither
    first = [n for n, (_q, i) in enumerate(ranked) if i == copies[0]][0]
    budget = (prefix[first] if rng.random() < 0.5
              else int(rng.integers(0, total3 + 2)))
    want_sel = Counter(i for (_q, i), p in zip(ranked, prefix)
                       if p <= budget)
    got_sel = Counter(r["doc_id"] for r in select_token_budget(
        sdf3.repartition(3), budget, partitions=parts).collect())
    check(got_sel == want_sel,
          f"token budget {budget} copies={copies} parts={parts} "
          f"seed={seed}: missing={want_sel - got_sel} "
          f"extra={got_sel - want_sel}")
    start, want_pairs = 0, Counter()
    for i in sorted([*range(nd2), *copies]):
        want_pairs[i, 0 if total3 == 0 else
                   min(k - 1, start * k // total3)] += 1
        start += lens[i]
    got_pairs = Counter((r["doc_id"], r["shard"]) for r in
                        assign_token_shards(sdf3.repartition(3), k,
                                            partitions=parts).collect())
    check(got_pairs == want_pairs,
          f"token shards with copies={copies} k={k} parts={parts} "
          f"seed={seed}: missing={want_pairs - got_pairs} "
          f"extra={got_pairs - want_pairs}")


if __name__ == "__main__":
    run("fuzz-query-ops",
        [trial_ann, trial_joins, trial_heavy, trial_sampling],
        trials=10, seed_base=9_300_000)
