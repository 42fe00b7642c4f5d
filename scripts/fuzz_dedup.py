"""Randomized differential fuzz: dedup family + balanced partitioner.

Closes the one operator family without a dedicated randomized pass
(kernels, skipping, reconcile, sharded-delete and rollup_many each have
one in fuzz_kernels.py / fuzz_operators.py). Each trial builds a random
corpus with planted near-dup clusters and edge docs (empty,
whitespace-only, single-token, exact duplicates, repeated-token), then
checks:

  1. ngram_jaccard_pairs (exact mode, df_cut=None) against an
     INDEPENDENT python brute-force oracle that re-implements the
     documented tokenize→shingle→jaccard semantics (lower/trim/\\s+
     split, distinct n-gram join, whole-text shingle for short docs,
     round(j,6) >= threshold) — pair-set equality AND per-pair jaccard
     equality;
  2. neardup_minhash — zero false positives (every returned pair's
     jaccard re-derived exactly and >= threshold), returned pairs are
     a subset of the exact-pair oracle, and a planted pair with exact
     jaccard >= 0.9 is ALWAYS found at threshold 0.5 / 64 perms / 16
     bands (miss probability ~(1-0.9^4)^16 < 4e-8 — a failure is a
     bug, not luck);
  3. neardup_simhash pigeonhole completeness — the returned pair set
     EQUALS the brute-force all-pairs hamming<=r set over the
     operator's own signatures (r < chunks, no bucket cap), with exact
     hamming values;
  4. quantile_boundaries → partition_balance — every bucket count
     within n/k ± (2·ε·n + max tie multiplicity + 1) for KLL(200)
     ε=0.04, over uniform / lognormal / zipf-with-ties draws;
  5. neardup_components vs an independent union-find oracle over a
     random pair graph — random id domains (incl. 2^61-scale),
     duplicate/reversed edges, self-loops, NULL ids, and a planted
     long chain that forces real pointer-jumping rounds.;
  6. flag_contamination vs the same python shingle oracle — random
     shingle width (incl. the production 13-gram rule), eval subset
     drawn from the corpus itself, exact flag-set equality;
  7. dedup_paragraphs vs an independent python keep-first oracle —
     docs sharing a paragraph pool (cross-doc AND within-doc
     repeats), NULL/blank docs, multi-line paragraphs, separator
     runs incl. \\n\\t\\n (NOT a break) — reassembled text and
     kept/total counts exactly equal.
  8. the grouped LSH candidate pass under a hot-bucket cap —
     lsh_candidate_pairs over random (id, band, bucket) frames (hot
     buckets, duplicate and NULL ids, NULL buckets) and
     neardup_simhash over the corpus plus NULL-id and duplicate-id
     rows, each against a driver brute force, with the cap drawn from
     {None, 1, 2, an exact bucket size, large}.

Run: python scripts/fuzz_dedup.py [n_trials]  (default 12, ~4 min)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bloom_filters_spark.operators import dedup  # noqa: E402
from bloom_filters_spark.operators.partitioning import (  # noqa: E402
    partition_balance, quantile_boundaries)
from fuzzlib import check, run  # noqa: E402


# ---------------------------------------------------------------- oracle

def py_tokens(text: str) -> list[str]:
    return [t for t in text.lower().strip().split() if t != ""]


def py_shingles(text: str, n: int) -> frozenset:
    toks = py_tokens(text)
    if n <= 1:
        return frozenset(toks)
    if len(toks) >= n:
        return frozenset(" ".join(toks[i:i + n]) for i in
                         range(len(toks) - n + 1))
    if toks:
        return frozenset([" ".join(toks)])
    return frozenset()


def py_jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return round(len(a & b) / u, 6) if u else 0.0


def exact_pairs(docs: dict[int, str], n: int, thr: float) -> dict:
    sh = {i: py_shingles(t, n) for i, t in docs.items()}
    ids = sorted(docs)
    out = {}
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            i1, i2 = ids[ai], ids[bi]
            j = py_jaccard(sh[i1], sh[i2])
            if j >= thr:
                out[(i1, i2)] = j
    return out


# --------------------------------------------------------------- corpus

def make_corpus(rng) -> dict[int, str]:
    vocab = [f"w{rng.integers(0, 10**6)}" for _ in
             range(int(rng.integers(40, 300)))]
    docs: dict[int, str] = {}
    nid = 0
    for _ in range(int(rng.integers(30, 80))):
        ln = int(rng.integers(1, 50))
        docs[nid] = " ".join(rng.choice(vocab, ln))
        nid += 1
    # planted near-dup clusters at several mutation rates
    for rho in (0.02, 0.05, 0.15, 0.35):
        base_id = int(rng.choice(list(docs)))
        toks = py_tokens(docs[base_id])
        if not toks:
            continue
        for _ in range(int(rng.integers(1, 3))):
            mut = [w if rng.random() > rho else str(rng.choice(vocab))
                   for w in toks]
            docs[nid] = " ".join(mut)
            nid += 1
    # edge docs
    docs[nid] = ""; nid += 1
    docs[nid] = "   \t  "; nid += 1
    docs[nid] = "solo"; nid += 1
    docs[nid] = docs[int(rng.choice(list(docs)[:5]))]; nid += 1  # exact dup
    docs[nid] = "rep rep rep rep rep"; nid += 1
    return docs


def spark_pairs(df_pairs) -> dict:
    return {(int(r["id1"]), int(r["id2"])): float(r["jaccard"])
            for r in df_pairs.collect()}


# ---------------------------------------------------------------- trials

def trial_ngram_exact(spark, rng, docs, sdf, seed):
    n = int(rng.choice([1, 2, 3]))
    thr = float(rng.choice([0.31, 0.52, 0.77]))
    got = spark_pairs(dedup.ngram_jaccard_pairs(
        sdf, "doc_id", "text", n=n, threshold=thr, df_cut=None))
    want = exact_pairs(docs, n, thr)
    check(set(got) == set(want),
          f"ngram pair set n={n} thr={thr} seed={seed}: "
          f"extra={set(got) - set(want)} missing={set(want) - set(got)}")
    for k in set(got) & set(want):
        check(abs(got[k] - want[k]) <= 1e-6,
              f"ngram jaccard value {k} {got[k]} vs {want[k]} seed={seed}")


def trial_minhash(spark, rng, docs, sdf, seed):
    shingle = int(rng.choice([1, 2]))
    got = spark_pairs(dedup.neardup_minhash(
        sdf, "doc_id", "text", threshold=0.5, num_perm=64, bands=16,
        seed=int(rng.integers(0, 2**31)), shingle=shingle))
    want = exact_pairs(docs, shingle, 0.5)
    # no false positives, values exact, subset of the exact oracle
    for k, j in got.items():
        check(k in want and abs(j - want[k]) <= 1e-6,
              f"minhash FALSE POSITIVE/val {k}={j} shingle={shingle} "
              f"seed={seed}")
    # every >=0.9-jaccard pair must be recalled (miss prob < 4e-8/pair)
    for k, j in want.items():
        if j >= 0.9:
            check(k in got,
                  f"minhash MISSED high-sim pair {k} j={j} "
                  f"shingle={shingle} seed={seed}")


def trial_simhash_complete(spark, rng, docs, sdf, seed):
    chunks = int(rng.choice([8, 16]))
    r = int(rng.integers(1, chunks))  # r < chunks → pigeonhole-complete
    hseed = int(rng.integers(0, 2**31))
    sigs = {int(row["id"]): int(row["simhash"]) for row in
            dedup.simhash_signatures(sdf, "doc_id", "text",
                                     seed=hseed).collect()}
    ids = sorted(sigs)
    want = {}
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            i1, i2 = ids[ai], ids[bi]
            d = bin((sigs[i1] ^ sigs[i2]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= r:
                want[(i1, i2)] = d
    out = dedup.neardup_simhash(sdf, "doc_id", "text", max_hamming=r,
                                chunks=chunks, seed=hseed)
    got = {(int(x["id1"]), int(x["id2"])): int(x["hamming"])
           for x in out.collect()}
    check(got == want,
          f"simhash completeness chunks={chunks} r={r} seed={seed}: "
          f"extra={set(got) - set(want)} missing={set(want) - set(got)} "
          f"or hamming mismatch")


def _brute_bucket_pairs(rows, cap):
    """Driver oracle of the capped candidate pass: rows are (id, key,
    payload); a bucket (non-NULL key) of more than ``cap`` rows, NULL
    ids included, pairs nothing; otherwise every two rows with
    non-NULL ids id1 < id2 pair → {(id1, id2, payload1, payload2)}."""
    buckets: dict = {}
    for r in rows:
        if r[1] is not None:
            buckets.setdefault(r[1], []).append(r)
    out = set()
    for members in buckets.values():
        if cap is not None and len(members) > cap:
            continue
        for a in members:
            for b in members:
                if a[0] is not None and b[0] is not None and a[0] < b[0]:
                    out.add((a[0], b[0], a[2], b[2]))
    return out


def _draw_cap(rng, rows):
    """None, 1, 2, the exact size of one of ``rows``' buckets, or
    large."""
    sizes = Counter(r[1] for r in rows if r[1] is not None)
    pick = int(rng.integers(0, 5))
    if pick == 3 and sizes:
        return int(rng.choice(sorted(set(sizes.values()))))
    return [None, 1, 2, None, 10**6][pick]


def trial_bucket_pairs(spark, rng, docs, sdf, seed):
    """The capped grouped candidate pass vs a driver brute force, for
    lsh_candidate_pairs (random bucket frames) and neardup_simhash
    (the corpus plus NULL-id and duplicate-id rows)."""
    n = int(rng.integers(20, 200))
    ids = [None if rng.random() < 0.05 else int(x)
           for x in rng.integers(0, max(2, n // 2), n)]
    band = [int(x) for x in rng.integers(0, 3, n)]
    # a few hot buckets, a long tail of small ones, and NULL buckets
    bucket = [int(rng.choice([7, 8])) if rng.random() < 0.4
              else None if rng.random() < 0.03
              else int(rng.integers(0, n)) for _ in range(n)]
    rows = [(i, None if k is None else (b, k), None)
            for i, b, k in zip(ids, band, bucket)]
    cap = _draw_cap(rng, rows)
    sig = spark.createDataFrame(list(zip(ids, band, bucket)),
                                "id long, band int, bucket long")
    got = {(r["id1"], r["id2"]) for r in
           dedup.lsh_candidate_pairs(sig, bucket_cap=cap).collect()}
    want = {(a, b) for a, b, _, _ in _brute_bucket_pairs(rows, cap)}
    check(got == want,
          f"lsh candidates cap={cap} seed={seed}: "
          f"extra={got - want} missing={want - got}")

    # simhash: NULL ids and a re-used id with different text join the
    # corpus; the oracle bands the operator's own signatures
    chunks = int(rng.choice([8, 16]))
    r = int(rng.integers(1, chunks))
    hseed = int(rng.integers(0, 2**31))
    texts = list(docs.values())
    extra = [(None, str(rng.choice(texts))) for _ in range(2)]
    extra.append((int(rng.choice(list(docs))), str(rng.choice(texts))))
    df = sdf.unionByName(spark.createDataFrame(
        extra, "doc_id long, text string"))
    sigs = [(x["id"], x["simhash"]) for x in
            dedup.simhash_signatures(df, "doc_id", "text",
                                     seed=hseed).collect()]
    width = 64 // chunks
    rows = [(i, (c, (h & 0xFFFFFFFFFFFFFFFF) >> (c * width)
                 & ((1 << width) - 1)), h)
            for i, h in sigs for c in range(chunks)]
    cap = _draw_cap(rng, rows)
    want = set()
    for a, b, ha, hb in _brute_bucket_pairs(rows, cap):
        d = bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1")
        if d <= r:
            want.add((a, b, d))
    got = {(x["id1"], x["id2"], x["hamming"]) for x in
           dedup.neardup_simhash(df, "doc_id", "text", max_hamming=r,
                                 chunks=chunks, seed=hseed,
                                 bucket_cap=cap).collect()}
    check(got == want,
          f"simhash capped chunks={chunks} r={r} cap={cap} seed={seed}: "
          f"extra={got - want} missing={want - got}")


def trial_partitioner(spark, rng, seed):
    kind = rng.choice(["uniform", "lognormal", "zipf_ties"])
    n = int(rng.integers(2_000, 20_000))
    if kind == "uniform":
        vals = rng.uniform(-1e6, 1e6, n)
    elif kind == "lognormal":
        vals = rng.lognormal(3.0, 2.0, n)
    else:
        vals = rng.zipf(1.7, n).clip(max=10_000).astype(float)
    k = int(rng.choice([4, 8, 16]))
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    cuts, _sk, _n = quantile_boundaries(df, "v", k)
    counts = {int(x["bucket"]): int(x["n_rows"]) for x in
              partition_balance(df, "v", cuts).collect()}
    check(sum(counts.values()) == n,
          f"partitioner lost rows {sum(counts.values())}!={n} seed={seed}")
    _, tie = np.unique(vals, return_counts=True)
    bound = n / k + 2 * 0.04 * n + int(tie.max()) + 1
    for b, c in counts.items():
        check(c <= bound,
              f"partitioner bucket {b} count {c} > bound {bound:.0f} "
              f"dist={kind} k={k} seed={seed}")


def trial_components(spark, rng, seed):
    """Connected components (`neardup_components`) vs an independent
    union-find oracle over a random pair graph: random edge count and
    id domain (including 2^61-scale ids), duplicate + reversed edges,
    self-loops and NULL ids (both contribute nothing), plus one long
    planted chain so convergence needs real pointer-jumping rounds."""
    import pandas as pd
    from bloom_filters_spark.operators import neardup_components

    n_edges = int(rng.integers(30, 300))
    base = int(rng.choice([0, 1 << 61]))
    dom = int(rng.integers(20, 150))
    raw = rng.integers(0, dom, size=(n_edges, 2))
    pairs = [(base + int(a), base + int(b)) for a, b in raw]
    # planted chain through FRESH ids (forces label paths to shorten)
    chain_ids = [base + dom + i for i in range(int(rng.integers(5, 40)))]
    pairs += list(zip(chain_ids, chain_ids[1:]))
    # adversarial rows: self-loops, NULLs, reversed duplicates
    pairs += [(base + 1, base + 1), (None, base + 2), (base + 3, None)]
    pairs += [(b, a) for a, b in pairs[: 5] if a is not None and b is not None]

    def uf(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a is None or b is None or a == b:
                continue
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    # randomly exercise long AND string id types (strings: zero-padded
    # so lexicographic == numeric order and the union-find oracle's
    # min() agrees), plus the driver fast path AND distributed rounds
    id_kind = rng.choice(["long", "string"])
    if id_kind == "string":
        pairs = [tuple(None if x is None else f"u{x:021d}" for x in p)
                 for p in pairs]
    df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["id1", "id2"], dtype="object"),
        f"id1 {id_kind}, id2 {id_kind}").repartition(
        int(rng.integers(1, 9)))
    cap = int(rng.choice([0, 1 << 20]))
    got = {r["id"]: r["rep"]
           for r in neardup_components(df, driver_edge_cap=cap).collect()}
    want = uf(pairs)
    check(got == want,
          f"components mismatch seed={seed} cap={cap} kind={id_kind}: "
          f"only_got={dict(set(got.items()) - set(want.items()))} "
          f"only_want={dict(set(want.items()) - set(got.items()))}")



def trial_contamination(spark, rng, docs, sdf, seed):
    """flag_contamination vs the independent python shingle oracle:
    random n (incl. the production 13), random eval subset of the
    corpus itself (so planted near-dups and edge docs — empty,
    whitespace-only, exact-dup — land on both sides); a doc is
    contaminated iff its shingle set intersects the eval set's."""
    from bloom_filters_spark.operators.dedup import flag_contamination

    n = int(rng.choice([2, 5, 13]))
    k = min(3, len(docs))
    eval_ids = [int(x) for x in
                rng.choice(sorted(docs), size=k, replace=False)]
    ev_sh = set()
    for i in eval_ids:
        ev_sh |= py_shingles(docs[i], n)
    want = {i: bool(py_shingles(t, n) & ev_sh) for i, t in docs.items()}
    got = {int(r["doc_id"]): bool(r["contaminated"])
           for r in flag_contamination(
               sdf, sdf.where(F.col("doc_id").isin(eval_ids)),
               n=n).collect()}
    check(got == want,
          f"contamination mismatch n={n} eval={eval_ids} seed={seed}: "
          f"diff={ {i for i in got if got[i] != want[i]} }")


def trial_paragraphs(spark, rng, seed):
    """dedup_paragraphs vs an independent python keep-first oracle:
    random multi-paragraph docs sharing a paragraph pool (so
    cross-doc and within-doc repeats both occur), blank/NULL docs,
    paragraphs containing single newlines, random separator runs."""
    from bloom_filters_spark.operators import dedup_paragraphs
    pool = [f"para {i} " + " ".join(f"t{rng.integers(0, 50)}"
                                    for _ in range(int(rng.integers(1, 8))))
            for i in range(int(rng.integers(4, 25)))]
    pool += ["multi\nline\npara", " padded ", "\ttab lead"]
    docs: list[str | None] = []
    for _ in range(int(rng.integers(10, 40))):
        style = int(rng.integers(0, 10))
        if style == 0:
            docs.append(None); continue
        if style == 1:
            docs.append(str(rng.choice(["", "\n\n", " \n\n\t "])))
            continue
        k = int(rng.integers(1, 8))
        ps = [str(pool[int(rng.integers(0, len(pool)))])
              for _ in range(k)]
        sep = str(rng.choice(["\n\n", "\n\n\n", "\n\t\n"]))
        # \n\t\n is NOT a paragraph break (needs 2+ consecutive \n)
        docs.append(sep.join(ps))
    sdf = spark.createDataFrame(list(enumerate(docs)),
                                "doc_id long, text string")
    # 1/3 of trials run the LINE unit (split_regex="\n"), the rest the
    # paragraph default — same oracle with the matching split/join
    line_unit = rng.random() < 1 / 3
    split_pat, join_sep = (r"\n", "\n") if line_unit else (r"\n{2,}",
                                                             "\n\n")
    if line_unit:
        out_df = dedup_paragraphs(sdf, split_regex=r"\n", join_sep="\n")
    else:
        out_df = dedup_paragraphs(sdf)
    got = {r["doc_id"]: r.asDict() for r in out_df.collect()}
    seen: set[str] = set()
    for i, d in enumerate(docs):
        g = got[i]
        if d is None:
            check(g["text_dedup"] is None and g["n_paras"] == 0,
                  f"paras NULL doc {i} seed={seed}: {g}")
            continue
        ps = [p for p in re.split(split_pat, d)
              if re.search(r"\S", p, flags=re.ASCII)]
        kept = []
        for p in ps:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        want = join_sep.join(kept)
        check(g["text_dedup"] == want,
              f"paras text doc {i} seed={seed}: "
              f"got={g['text_dedup']!r} want={want!r}")
        check(g["n_paras"] == len(ps) and g["n_paras_kept"] == len(kept),
              f"paras counts doc {i} seed={seed}: {g} "
              f"want n={len(ps)} kept={len(kept)}")


def corpus(spark, rng):
    """Per-trial setup: the random corpus the text families share."""
    docs = make_corpus(rng)
    return {"docs": docs, "sdf": spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())}))}


if __name__ == "__main__":
    run("fuzz-dedup",
        [trial_ngram_exact, trial_minhash, trial_simhash_complete,
         trial_contamination, trial_partitioner, trial_components,
         trial_paragraphs, trial_bucket_pairs],
        trials=12, seed_base=7_700_000, setup=corpus)
