"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``     — flagship EP3 composition (HLL → sized Bloom →
                       probes) on /root/testdata/sf0.001.
``queries()``        — one entry per implemented operator from
                       SURVEY.md §2 (+ the training-pipeline extensions).
``oracle_sql()``     — DuckDB-equivalent SQL per query.

Two oracle styles:
- exact relational/text queries: the oracle recomputes the same result
  in ANSI SQL (strong value-hash check);
- sketch/probabilistic queries: the Spark side computes BOTH the sketch
  answer and the exact answer and folds the published-bound assertion
  into the result (e.g. ``within_bound``, ``false_negatives``); the
  oracle pins the exact part via SQL and the assertion to its required
  constant. Estimates themselves are not SQL-computable, but the
  correctness CRITERIA (Bloom FPR ≤ p, HLL ±1.04/√m, no false
  negatives, merge associativity — BASELINE.json north_rule) are.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bloom_filters_spark.kernels import (
    BloomSketch, CountingBloomSketch, CountMinSketch, CuckooBank,
    CuckooFilter, HLLSketch, InvertibleBloomSketch, KLLSketch, TDigest,
    ThetaSketch,
)
from bloom_filters_spark.operators.agg import (
    build_grouped_sketches, build_sketch, cms_lookup, estimate_grouped,
    hash_col, ibf_recover, probe_membership, quantiles_grouped,
)
from bloom_filters_spark.operators import dedup as dd
from bloom_filters_spark.operators import frequent as fq
from bloom_filters_spark.operators import joins as jn
from bloom_filters_spark.operators import reconcile as rc
from bloom_filters_spark.operators import relational as rel
from bloom_filters_spark.operators import similarity as sim
from bloom_filters_spark.operators import textstats as ts
from bloom_filters_spark.operators import multimodal as mm
from bloom_filters_spark.operators import partitioning as ptn
from bloom_filters_spark.operators.collisions import (
    absolute_collisions, relative_collisions)
from bloom_filters_spark.checkpoint import SketchCheckpoint
from bloom_filters_spark.functions.textnorm import with_extracted_text
from bloom_filters_spark.sources.fixtures import (
    KNOWN_ABSENT, KNOWN_MEMBER, SALES_HEADER, sales_lines_df, users_df,
    words_df)
from bloom_filters_spark.sources.pages import generate_pages
from bloom_filters_spark.plans import queries as plans


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# DuckDB token expression with the same semantics as
# textstats.tokens_col: lower → trim → split on \s+ → drop empties.
_SQL_TOKS = (r"list_filter(string_split_regex(trim(lower(text)), '\s+'),"
             r" x -> x <> '')")

# Fixed adversarial hosts for the registrable-domain parity check
# (operators/urls.registrable_domain_col): single source for the
# Spark query AND the DuckDB oracle's independent SQL twin.
_DOMAIN_HOSTS = [
    "A.B.Example.CO.UK",
    "www.example.com",
    "example.com",
    "com",
    "deep.sub.domain.site.org",
    "shop.co.jp",
    "192.168.10.1",
    "t.co",
    "x.gov.au",
    "a.b.com.br",
    "WWW.GOV.UK",
    "www.example.com.",
    "single",
]

# Fixed adversarial urls for the canonical-url parity check
# (operators/urls.py): one list feeds BOTH the Spark query and the
# DuckDB oracle's independent SQL re-implementation. Covers: case +
# default port + tracking + fragment + whitespace, root slash, real
# port kept, emptied query, bare '?', param order/case kept,
# schemeless, '?' inside a fragment, tracking name as a VALUE.
_CANON_URLS = [
    "  HTTP://WWW.Example.COM:80/Path/Page?a=1&utm_source=x&b=2#frag  ",
    "\t https://Tab.Example.com:443/x \t",
    "https://Host.com:443/",
    "https://host.com:8443/x",
    "http://h.com/?utm_campaign=c",
    "http://h.com/p?fbclid=abc&gclid=d",
    "http://h.com/p?",
    "http://h.com/A/B?Z=1&z=2",
    "http://h.com/x/",
    "http://h.com:80",
    "http://h.com:800/x",
    "ftp://H.com/X",
    "http://h.com/p?utm_a=1&keep=2&utm_b=3",
    "relative/path?utm_source=x#f",
    "http://h.com/p#f?utm_source=1",
    "http://h.com/p?a=utm_source",
]

# Fixed adversarial strings for the PII-scrub parity check
# (operators/scrub.py): one list feeds BOTH the Spark chain and the
# DuckDB oracle, which rebuilds the SAME ordered regexp chain from
# PII_RULES (single source) — no quotes in any entry. Covers: email
# (incl. +tag and multi-label TLD), dotted quads vs version strings
# (no \b after a word char), 16-digit cards in all three groupings,
# SSN shape, international + NANP phones, digit runs that must NOT
# match, and rule-order interactions (card before phone).
_PII_STRINGS = [
    "contact me at john.doe+spam@example.co.uk today",
    "server at 192.168.1.1 and 10.0.0.255.",
    "card 4111 1111 1111 1111 expires soon",
    "card 4111-1111-1111-1111 or 4111111111111111",
    "ssn 123-45-6789 leaked",
    "call +14155552671 or (415) 555-2671 or 415.555.2671",
    "just numbers 12345678901234567 not a card boundary",
    "v1.2.3.4 version string stays",
    "a@b.co and no-tld@host stay-partial",
    "mixed: a@b.io on 10.0.0.1 dialed 212-555-0000 w/ 4242424242424242",
    "no pii here at all",
]


# ===================================================================
# entry
# ===================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship EP3 (SURVEY.md §3): HLL over document tokens → sized
    DynBloom → membership probes; returns a one-row metrics DataFrame."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    toks = ts.tokenize(docs.select("text"), "text").select("token")
    probes = toks.limit(200)
    out = plans.flagship_hll_bloom(toks, "token", p_hll=13, p_fpr=0.1,
                                   probes=probes, probe_col="token")
    probed = out["probe_results"]
    n_seen = probed.where("seen").count()
    n_probe = probed.count()
    return spark.createDataFrame(
        [(float(out["hll_estimate"]), int(out["rounded_capacity"]),
          int(out["bloom_m"]), int(out["bloom_k"]),
          float(out["theoretical_fpr"]), int(out["n_rows"]),
          int(n_probe), int(n_seen))],
        "hll_estimate double, rounded_capacity long, bloom_m long, "
        "bloom_k long, theoretical_fpr double, n_rows long, "
        "n_probes long, n_seen long")


# ===================================================================
# exact relational / scalar queries (strong SQL oracles)
# ===================================================================

def q_s3_projection(spark, sf_dir):
    """S3: projection pushdown scan (SELECT name FROM users2 analogue,
    Bloom_project/src/core/Bloom_project.cpp:3836-3856)."""
    cust = _t(spark, sf_dir, "customer")
    return (cust.where(F.col("c_custkey") <= 100)
            .select(F.col("c_name").alias("name")))


def q_s4_sort_limit(spark, sf_dir):
    """S4: ORDER BY ... DESC LIMIT 20 → TakeOrderedAndProject
    (Bloom_project/src/core/Bloom_project.cpp:2771-2797)."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(20).select("o_orderkey", "o_totalprice"))


def q_s5_p4_counts(spark, sf_dir):
    """S5/A4 + P4: COUNT(*) and the non-empty-text predicate count in
    one oracle row (Bloom_project/src/core/Bloom_project.cpp:3804-3815,
    :4777-4783)."""
    n_rows = _t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"))
    n_nonempty = (_t(spark, sf_dir, "documents")
                  .where(F.length("text") > 0)
                  .agg(F.count("*").alias("n_nonempty")))
    return n_rows.crossJoin(n_nonempty)


def q_tokens_topk(spark, sf_dir):
    """P1+P2+heavy-hitter report: tokenize, lowercase, top-20 by count
    (Bloom_project/src/core/Bloom_project.cpp:527-535, Utils.cpp:63)."""
    docs = _t(spark, sf_dir, "documents")
    toks = ts.tokenize(docs.select("text"), "text").select("token")
    return rel.top_k_by_count(toks, "token", 20)


def q_tokens_topk_by_lang(spark, sf_dir):
    """Grouped heavy hitters: top-3 tokens per lang — since r5 routed
    through `cap_per_group` (the per-group cap operator corpus
    curation uses for per-domain document limits; grouped top-n is
    the same operator), so the existing window-rank oracle now
    verifies the operator end to end."""
    from bloom_filters_spark.operators.sampling import cap_per_group
    docs = _t(spark, sf_dir, "documents")
    toks = ts.tokenize(docs.select("lang", "text"), "text") \
        .select("lang", "token")
    counts = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    capped = cap_per_group(counts, "lang", 3, ["-cnt", "token"],
                           rank_col="rnk")
    return capped.select("lang", "token", "cnt",
                         F.col("rnk").cast("long").alias("rnk"))


def q_a2_a3_distinct(spark, sf_dir):
    """A2 + A3: exact distinct lowercase tokens and exact distinct
    users (the streaming-dedup counter analogue) in one oracle row
    (Bloom_project/src/core/Utils.cpp:52-74, Bloom_project.cpp:
    1376-1378)."""
    docs = _t(spark, sf_dir, "documents")
    toks = ts.tokenize(docs.select("text"), "text").select("token")
    a2 = toks.agg(F.countDistinct("token").alias("n_distinct_tokens"))
    a3 = _t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("n_distinct_users"))
    # corpus_report (r5): the one-call dataset-card summary — exact
    # columns recomputed by the oracle in SQL, sketch columns folded
    # as bound assertions (HLL within 3σ of the exact distinct, KLL
    # quantile ranks within ε + 1/n of target)
    rep = plans.corpus_report(docs)
    rep_df = spark.createDataFrame(
        [(int(rep["n_docs"]), int(rep["n_text_docs"]),
          int(rep["total_tokens"]), int(rep["total_bpe_tokens"]),
          int(rep["n_distinct_texts"]), int(rep["n_distinct_langs"]),
          bool(rep["hll_within_bound"]), bool(rep["kll_rank_ok"]))],
        "n_docs long, n_text_docs long, total_tokens long, "
        "total_bpe_tokens long, n_distinct_texts long, "
        "n_distinct_langs long, hll_within_bound boolean, "
        "kll_rank_ok boolean")
    return a2.crossJoin(a3).crossJoin(rep_df)


def q_exact_membership(spark, sf_dir):
    """O3/O4: the reference's EXACT membership baselines (linked-list /
    skip-list ``exists``, Bloom_project/src/data_structures/
    MyLinkedList.hpp:92-101, SkipList.hpp:61-99) as a relational probe
    join — the ground truth the Bloom/cuckoo probes are scored
    against. Fully SQL-expressible, so the oracle is the real thing."""
    from bloom_filters_spark.operators.relational import exact_membership
    orders = _t(spark, sf_dir, "orders")
    probes = spark.range(7400, 7600).select(
        F.col("id").alias("o_orderkey"))
    return exact_membership(orders, "o_orderkey", probes)


def q_o1_o2_neighbors(spark, sf_dir):
    """O1+O2: trie successor ≡ min(col ≥ key), predecessor ≡
    max(col ≤ key) (Bloom_project/src/data_structures/YFastTrie.hpp:
    474-485, :494-507) — both library operators in one oracle row."""
    orders = _t(spark, sf_dir, "orders")
    return rel.successor(orders, "o_orderkey", 7500).crossJoin(
        rel.predecessor(orders, "o_orderkey", 7500))


def q_p7_fpr_curve(spark, sf_dir):
    """P7/D5: FPR formula sweep P=(1−e^{−kn/m})^k for k=2..10
    (Bloom_project/src/core/Bloom_project.cpp:2842-2846, :3716)."""
    return spark.range(2, 11).select(
        F.col("id").alias("k"),
        F.round(F.pow(F.lit(1.0) - F.exp(-F.col("id") * 1000.0 / 10000.0),
                      F.col("id")), 8).alias("fpr"))


def q_p8_sizing(spark, sf_dir):
    """P8/K19: optimal m=⌈−n·lnP/ln²2⌉, k=⌊ln2·m/n+0.5⌋
    (Bloom_project/src/core/DynamicBloomFilter.hpp:53-97, clean form)."""
    rows = [(n, p) for n in (1000, 10000, 100000) for p in (0.1, 0.01)]
    base = spark.createDataFrame(rows, "n long, p double")
    m = F.ceil(-F.col("n") * F.log(F.col("p")) / (math.log(2.0) ** 2))
    k = F.floor(math.log(2.0) * m / F.col("n") + 0.5)
    return base.select("n", "p", m.alias("m"), k.alias("k"))


# ===================================================================
# dedup / text-analysis / similarity (training-pipeline extensions)
# ===================================================================

def q_dedup_exact_keep(spark, sf_dir):
    """Exact dedup, keep-first (one surviving doc_id per distinct
    text — the dedup_exact operator) joined with each survivor's
    duplicate-group size (the exact_dup_groups operator; 1 for
    singletons): both exact-dedup surfaces in one oracle row set."""
    docs = _t(spark, sf_dir, "documents")
    kept = dd.dedup_exact(docs, "text", "doc_id").select("doc_id")
    groups = dd.exact_dup_groups(docs, "text", "doc_id") \
        .select(F.col("keep_id").alias("doc_id"), "n_dups")
    # paragraph-level global dedup (r5): run over the FULL corpus,
    # report per survivor the md5 of its paragraph-deduped text and
    # the kept/total paragraph counts — the oracle re-derives the
    # keep-first labeling with a window + ordered string_agg.
    paras = dd.dedup_paragraphs(docs).select(
        "doc_id", F.md5("text_dedup").alias("para_md5"),
        "n_paras", "n_paras_kept")
    # line-unit twin (r5): same machinery at the LINE grain
    # (split_regex="\n") — the boilerplate-removal configuration
    lines = dd.dedup_paragraphs(docs, split_regex=r"\n",
                                join_sep="\n").select(
        "doc_id", F.md5("text_dedup").alias("line_md5"))
    return (kept.join(groups, "doc_id", "left")
            .na.fill({"n_dups": 1})
            .join(paras, "doc_id", "left")
            .join(lines, "doc_id", "left")
            .select("doc_id", F.col("n_dups").cast("long").alias("n_dups"),
                    "para_md5", "n_paras", "n_paras_kept", "line_md5"))


def q_ngram_jaccard(spark, sf_dir):
    """Exact token-set Jaccard ≥ 0.3 pairs via the LIBRARY inverted-
    index operator, BOTH code paths in one result (r3 registry merge):
    ``guarded=false`` rows are the plain exact baseline; ``guarded=
    true`` rows apply the df_cut stopword guard (shingles appearing in
    more than df_cut docs are dropped from the inverted index before
    the self-join — bounds the join blowup at scale; set sizes stay
    unguarded, so similarity can only DROP). The oracle reproduces
    both semantics in SQL — exact value-hash check."""
    docs = _t(spark, sf_dir, "documents")
    plain = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=1,
                                   threshold=0.3)
    guarded = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=1,
                                     threshold=0.3, df_cut=400)
    return (plain.withColumn("guarded", F.lit(False))
            .unionByName(guarded.withColumn("guarded", F.lit(True))))


def q_text_profile(spark, sf_dir):
    """The full per-document text-analysis battery in ONE wide row per
    doc: token stats (counting + type/token ratio), language-ID
    heuristic, md5 content fingerprint, and quality scoring — all four
    textstats operators composed over a single scan (the pipeline
    shape; each column set keeps its own strong SQL oracle, joined
    on doc_id in the oracle)."""
    docs = _t(spark, sf_dir, "documents")
    out = ts.with_quality_score(
        ts.with_fingerprint(
            ts.with_lang_id(
                ts.with_token_stats(docs.select("doc_id", "text")))))
    # decontamination flag (r5): docs 3 and 7 stand in for the eval
    # corpus; any doc sharing a 13-token shingle with them is flagged
    # (themselves + their exact/near duplicates). The oracle
    # recomputes the flag with the same shingle SQL + a semi join.
    out = dd.flag_contamination(
        out, docs.where(F.col("doc_id").isin(3, 7)), n=13)
    # Gopher repetition rules (r5): dup line/para + n-gram char
    # fractions, each re-derived exactly by the oracle's unnest+group
    # CTEs over the same split/tokenize semantics.
    out = out.join(ts.repetition_stats(docs.select("doc_id", "text")),
                   "doc_id", "left")
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "type_token_ratio", "lang_guess", "fingerprint_md5",
        "punct_ratio", "stopword_ratio", "repetition_ratio",
        "quality_score", "contaminated",
        "n_lines", "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac",
        "top_4gram_char_frac", "dup_5gram_char_frac")


def q_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact, JVM-side dot products)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dd.cosine_pairs(emb, "vec_id", "embedding", threshold=0.4)


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for 10 query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where("vec_id < 10")
    corpus = emb.where("vec_id >= 10")
    out = sim.ann_topk_bruteforce(corpus, queries_df, k=5,
                                  id_col="vec_id", vec_col="embedding",
                                  qid_col="vec_id")
    return out.withColumn("rank", F.col("rank").cast("long"))


# ===================================================================
# sketch queries (assertion-folded oracles per north_rule bounds)
# ===================================================================

def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN (coarse-quantizer cells → candidate join → exact
    re-rank) at n_probe == n_centroids, which degrades to exact brute
    force — so the oracle is the same exact top-k SQL as ann_topk
    (hash-exact check of the IVF plumbing end to end). The row ALSO
    carries recall@k at the APPROXIMATE scale-safe defaults
    (ivf_params: n_centroids ≈ √n ⇒ 23 cells, n_probe=8 — ~1/3 cell
    coverage): recall vs the exact top-k must clear 0.6 (measured
    0.68–0.72 deterministic on these fixtures; seeded quantizer)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where("vec_id < 10")
    corpus = emb.where("vec_id >= 10")
    out = sim.ann_topk_ivf(corpus, queries_df, dim=64, k=5,
                           id_col="vec_id", vec_col="embedding",
                           qid_col="vec_id", n_centroids=8, n_probe=8)
    approx = sim.ann_topk_ivf(corpus, queries_df, dim=64, k=5,
                              id_col="vec_id", vec_col="embedding",
                              qid_col="vec_id")
    n_exact = out.count()
    n_hit = approx.join(out.select("query_id", "neighbor_id"),
                        ["query_id", "neighbor_id"], "left_semi").count()
    recall_ok = bool(n_exact > 0 and n_hit / n_exact >= 0.6)
    return (out.withColumn("rank", F.col("rank").cast("long"))
            .withColumn("approx_recall_ok", F.lit(recall_ok)))


def q_bloom_contract(spark, sf_dir):
    """K1/K2 + P7: the Bloom membership contract on ONE build —
    (a) probing every built key yields zero false negatives
    (Bloom_project/src/core/BloomFilter.cpp:17-39);
    (b) observed FPR on 20k disjoint keys ≤ 2·p (p=0.01)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    n = orders.distinct().count()
    p = 0.01
    sk, _ = build_sketch(orders, "o_orderkey",
                         lambda: BloomSketch.from_capacity(n, p))
    fn = probe_membership(orders.distinct(), "o_orderkey", sk) \
        .where(~F.col("seen")).count()
    absent = spark.range(10_000_000, 10_020_000).select(
        F.col("id").alias("o_orderkey"))
    fp = probe_membership(absent, "o_orderkey", sk).where("seen").count()
    # K3 getIndices (BloomFilter.cpp:51-63): every key derives exactly
    # k in-range probe indices, distributed; K4 getSizeInBytes: the
    # serialized bit array is ceil(m/8) for the optimal-formula m
    from bloom_filters_spark.kernels.bloom import optimal_k, optimal_m
    from bloom_filters_spark.operators.collisions import probe_indices
    idx = probe_indices(orders.limit(500), "o_orderkey", sk.k, sk.m)
    bad_idx = idx.where(
        (F.size("indices") != sk.k)
        | F.exists("indices", lambda i: (i < 0) | (i >= sk.m))).count()
    m_expect = optimal_m(n, p)
    size_ok = (sk.m == m_expect and sk.k == optimal_k(m_expect, n)
               and sk.size_bytes == (m_expect + 7) // 8)
    # H6 (Kirsch–Mitzenmacher family, the documented std::hash+i
    # upgrade): the DISTRIBUTED probe-index arrays must equal the
    # kernel formula h_i = (h1 + i·h2) mod m recomputed driver-side
    # from the same xxhash64 values (DynamicBloomFilter.hpp:88-94)
    from bloom_filters_spark.kernels.hashing import km_indices
    sample = orders.distinct().limit(64).select("o_orderkey")
    got = {r["h"]: list(r["indices"]) for r in
           probe_indices(sample, "o_orderkey", sk.k, sk.m).collect()}
    km_ok = True
    hs64 = [r["h"] for r in
            sample.select(hash_col(F.col("o_orderkey")).alias("h"))
            .collect()]
    for h in hs64:
        expect = km_indices(np.array([h], dtype=np.int64),
                            sk.k, sk.m)[0].tolist()
        if got.get(h) != expect:
            km_ok = False
    # H8 (pluggable hash-family registration, the reference's
    # setHashFunction surface): the same build under ``seed=1`` derives
    # an INDEPENDENT family from the (col, lit(seed)) tuple — the
    # no-false-negative contract must hold under ANY registered family,
    # while the bit patterns must differ (families are not aliases)
    sk2, _ = build_sketch(orders, "o_orderkey",
                          lambda: BloomSketch.from_capacity(n, p), seed=1)
    fn2 = probe_membership(orders.distinct(), "o_orderkey", sk2,
                           seed=1).where(~F.col("seen")).count()
    seed_family_ok = (fn2 == 0 and sk2.to_bytes() != sk.to_bytes())
    # K20 (DynBloomHLL constructor quirk — i==0 registers no hash, so
    # the filter probes k−1 functions while reporting k,
    # DynamicBloomHLLFilter.hpp:70-95): the opt-in quirk twin, built
    # DISTRIBUTED over the same keys, must satisfy the algebraic
    # identity  quirk.bits | slot0.bits == standard_k.bits  (a k=1
    # standard filter is exactly the dropped slot 0), report the
    # advertised k, and still hold zero false negatives. The oracle
    # RECOMPUTES k−1 from the published sizing formulas over orders.
    from bloom_filters_spark.kernels.bloom import K20QuirkBloom
    skq, _ = build_sketch(orders, "o_orderkey",
                          lambda: K20QuirkBloom(sk.m, sk.k))
    sk0, _ = build_sketch(orders, "o_orderkey",
                          lambda: BloomSketch(sk.m, 1))
    fnq = probe_membership(orders.distinct(), "o_orderkey", skq) \
        .where(~F.col("seen")).count()
    k20_quirk_ok = bool(
        fnq == 0 and skq.k == sk.k
        and np.bitwise_or(skq.bits, sk0.bits).tobytes() == sk.bits.tobytes()
        and skq.bits_set() < sk.bits_set())
    return spark.createDataFrame(
        [(int(fn), 20_000, bool(fp / 20_000 <= 2 * p),
          int(bad_idx), bool(size_ok), bool(km_ok),
          bool(seed_family_ok), int(sk.k - 1), k20_quirk_ok)],
        "false_negatives long, n_probes long, fpr_ok boolean, "
        "bad_probe_indices long, sizing_ok boolean, km_family_ok boolean, "
        "seed_family_ok boolean, k20_effective_k long, k20_quirk_ok boolean")


def q_hll_bounds(spark, sf_dir):
    """K15/K16 + north_rule associativity in one row:
    (a) HLL(p=12) distinct l_partkey within the published bound
    (±1.04/√m, ×4 statistical tolerance as in tests);
    (b) partials merged in opposite orders AND via the full build are
    byte-identical (merge = elementwise max);
    (c) the sketch ROLLUP (operators/rollup.py): per-day per-type HLL
    partials over events, a 7-day single-type range answered by
    merging stored partials — byte-identical to a direct build over
    those rows, within bound of the SQL-exact distinct (the strong
    value check: rollup_range_exact is recomputed by the oracle);
    (d) STREAMED-cube maintenance (streaming/rollup.py): the same cube
    maintained by Structured Streaming over a 3-batch replay of events
    (maxFilesPerTrigger=1) — after compact_cube, every (event_type,
    day) row is BYTE-identical to the batch cube's, and compaction
    preserves the slice answer bit-for-bit (stream_cube_byte_identical
    / compact_preserves)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    from bloom_filters_spark.operators.rollup import (compact_cube,
                                                      query_rollup,
                                                      rollup_sketches)
    from bloom_filters_spark.streaming.rollup import (read_stream_cube,
                                                      run_stream_rollup)
    ev = _t(spark, sf_dir, "events")
    cube = rollup_sketches(ev, "user_id", lambda: HLLSketch(12),
                           time_col="ts", grain="day",
                           group_cols=["event_type"])
    range_pred = ((F.col("event_type") == "click") &
                  (F.col("bucket") >= "2024-01-05") &
                  (F.col("bucket") < "2024-01-12"))
    rsk, _rn = query_rollup(cube, range_pred)
    with _tempfile.TemporaryDirectory() as td:
        src = _os.path.join(td, "src")
        ev.repartition(3).write.parquet(src)
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_stream_rollup(stream, _os.path.join(td, "cube"), "user_id",
                          lambda: HLLSketch(12), time_col="ts",
                          grain="day", group_cols=["event_type"],
                          checkpoint_dir=_os.path.join(td, "cp"))
        streamed = read_stream_cube(spark, _os.path.join(td, "cube"))
        multi_partial = streamed.count() > cube.count()
        compacted = compact_cube(streamed, ["event_type"])
        mism = (compacted.alias("s")
                .join(cube.alias("b"),
                      (F.col("s.event_type").eqNullSafe(
                          F.col("b.event_type"))) &
                      (F.col("s.bucket") == F.col("b.bucket")), "full")
                .where(F.col("s.payload").isNull()
                       | F.col("b.payload").isNull()
                       | (F.col("s.payload") != F.col("b.payload"))
                       | (F.col("s.n_rows") != F.col("b.n_rows")))
                .count())
        stream_cube_ok = bool(multi_partial and mism == 0)
        ssk, sn = query_rollup(streamed, range_pred)
        csk, cn = query_rollup(compacted, range_pred)
        compact_ok = bool(sn == cn == _rn
                          and ssk.to_bytes() == rsk.to_bytes()
                          and csk.to_bytes() == rsk.to_bytes())
    sliced = ev.where((F.col("event_type") == "click") &
                      (F.date_trunc("day", "ts") >= "2024-01-05") &
                      (F.date_trunc("day", "ts") < "2024-01-12"))
    rdirect, _ = build_sketch(sliced, "user_id", lambda: HLLSketch(12))
    r_exact = sliced.select("user_id").distinct().count()
    r_tol = 4 * rsk.relative_error + 0.05
    li = _t(spark, sf_dir, "lineitem")
    exact = li.select("l_partkey").distinct().count()
    full, _ = build_sketch(li.select("l_partkey"), "l_partkey",
                           lambda: HLLSketch(12))
    ok = abs(full.estimate() - exact) / exact \
        <= 4 * full.relative_error + 0.02
    parts = []
    for i in range(4):
        chunk = li.where(F.pmod(F.col("l_orderkey"), F.lit(4)) == i)
        sk, _ = build_sketch(chunk, "l_partkey", lambda: HLLSketch(12))
        parts.append(sk)
    fwd = parts[0].merge(parts[1]).merge(parts[2]).merge(parts[3])
    rev = parts[3].merge(parts[2].merge(parts[1].merge(parts[0])))
    # K17/K18: register-bank shape m = 2^p, a cleared (fresh) sketch
    # estimates exactly 0 (σ(1) = ∞ in the estimator), and the α bias
    # constants match the published Flajolet values
    # (HyperLogLog.cpp:69-77)
    from bloom_filters_spark.kernels.hll import _alpha
    return spark.createDataFrame(
        [(exact, bool(ok), fwd.to_bytes() == rev.to_bytes(),
          fwd.to_bytes() == full.to_bytes(),
          int(full.m), float(HLLSketch(12).estimate()),
          float(_alpha(16)), float(_alpha(32)), float(_alpha(64)),
          float(_alpha(4096)),
          int(r_exact), rsk.to_bytes() == rdirect.to_bytes(),
          bool(abs(rsk.estimate() - r_exact) / r_exact <= r_tol),
          stream_cube_ok, compact_ok)],
        "exact_distinct long, within_bound boolean, "
        "byte_identical boolean, matches_full_build boolean, "
        "m_registers long, empty_estimate double, "
        "alpha16 double, alpha32 double, alpha64 double, alpha4096 double, "
        "rollup_range_exact long, rollup_merge_exact boolean, "
        "rollup_within_bound boolean, stream_cube_byte_identical boolean, "
        "compact_preserves boolean")


def q_hll_by_lang(spark, sf_dir):
    """Grouped HLL (one sketch per lang) vs exact per-group distinct."""
    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    grouped = build_grouped_sketches(docs, "doc_id",
                                     lambda: HLLSketch(12), ["lang"])
    est = {r["lang"]: r["estimate"]
           for r in estimate_grouped(grouped).collect()}
    exact = dict(docs.groupBy("lang")
                 .agg(F.countDistinct("doc_id")).collect())
    tol = 4 * HLLSketch(12).relative_error + 0.02
    rows = [(lang, int(exact[lang]),
             bool(abs(est[lang] - exact[lang]) / exact[lang] <= tol))
            for lang in sorted(exact)]
    return spark.createDataFrame(
        rows, "lang string, exact_distinct long, within_bound boolean")


def q_cms_no_underestimate(spark, sf_dir):
    """Count-min NEVER underestimates (deterministic): violations = 0
    over the top-50 exact token counts. Same row also checks the CMS
    inner-product JOIN-SIZE estimator (operators/joins.py
    estimate_join_size — the broadcast-planning primitive): the
    estimate must bracket the exact |orders ⋈ lineitem| from above
    (a·b ≤ est, C&M 2005 §4.2) within the ε·|A|·|B| slack; the exact
    join count itself is the strong SQL value check."""
    docs = _t(spark, sf_dir, "documents")
    toks = ts.tokenize(docs.select("text"), "text").select("token")
    cms, total = build_sketch(toks, "token",
                              lambda: CountMinSketch(5, 1 << 14))
    top = rel.top_k_by_count(toks, "token", 50)
    est = cms_lookup(top, "token", cms, out_col="cms_estimate")
    from bloom_filters_spark.operators.joins import estimate_join_size
    js = estimate_join_size(
        _t(spark, sf_dir, "orders").select("o_orderkey")
        .withColumnRenamed("o_orderkey", "k"),
        "k",
        _t(spark, sf_dir, "lineitem").select("l_orderkey")
        .withColumnRenamed("l_orderkey", "k"),
        "k", eps=1e-4, delta=0.01)
    exact_join = (_t(spark, sf_dir, "orders")
                  .join(_t(spark, sf_dir, "lineitem"),
                        F.col("o_orderkey") == F.col("l_orderkey"))
                  .count())
    row = est.agg(
        F.sum(F.when(F.col("cms_estimate") < F.col("cnt"), 1).otherwise(0))
        .cast("long").alias("violations"))
    return row.select(
        "violations",
        F.lit(int(exact_join)).cast("long").alias("exact_join_rows"),
        F.lit(bool(js["estimate"] >= exact_join)).alias("join_no_under"),
        F.lit(bool(js["estimate"] <= exact_join + js["bound_slack"]))
        .alias("join_within_bound"))


def q_heavy_hitters_mg(spark, sf_dir):
    """EXACT heavy hitters via the two-pass Misra-Gries plan
    (operators/frequent.py): pass 1 tree-merges capacity-256 MG
    summaries (only counter rows shuffle — the token stream never
    does); pass 2 recounts the ≤256 candidates exactly under a
    broadcast semi filter. The MG retention guarantee (every token
    with freq > n/257 survives the summary) makes the result EXACTLY
    the tokens with count > n/257 — a full-strength SQL oracle, no
    bound-style booleans needed."""
    docs = _t(spark, sf_dir, "documents")
    toks = ts.tokenize(docs.select("text"), "text").select("token")
    return fq.heavy_hitters(toks, "token", capacity=256)


def q_ibf_reconcile(spark, sf_dir):
    """IBF set reconciliation (operators/reconcile.py): two ~15k-row
    'replicas' of orders differing in a few hundred keys; the diff is
    recovered from per-shard invertible-Bloom subtraction — O(d)
    sketch bytes cross the cluster, never the tables. The recovered
    (key, side) rows are exactly the SQL symmetric difference."""
    orders = _t(spark, sf_dir, "orders")
    left = orders.where("o_orderkey % 97 != 0").select("o_orderkey")
    right = orders.where("o_orderkey % 89 != 0").select("o_orderkey")
    # capacity sized for sf0.1's ~3.2k-key diff too (sketch cost is
    # O(capacity) — 16 shards × 24 KB — so headroom is nearly free)
    keys = rc.reconcile_keys(left, right, "o_orderkey",
                             diff_capacity=8192, n_shards=16)
    # version-aware diff (reconcile_rows): same replicas carrying
    # o_totalprice, with the price bumped on a third key set — those
    # keys exist on BOTH sides with diverged values and must classify
    # as 'changed' (keys-only reconciliation cannot see them at all)
    left2 = orders.where("o_orderkey % 97 != 0").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 101 == 5,
               F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"))
    right2 = orders.where("o_orderkey % 89 != 0").select(
        "o_orderkey", "o_totalprice")
    rows = rc.reconcile_rows(left2, right2, "o_orderkey",
                             ["o_totalprice"], diff_capacity=8192,
                             n_shards=16)
    return keys.unionByName(rows.select(
        "o_orderkey",
        F.concat(F.lit("rows_"), F.col("status")).alias("side")))


def q_quantile_bounds(spark, sf_dir):
    """KLL(200) rank error ≤ 0.04 at 6 quantiles AND t-digest(100)
    rank error ≤ 0.02 at 5 quantiles over events.value — PLUS the
    grouped-quantile path (the north-star per-lang text-length shape):
    one KLL(200) sketch per lang over documents (grouped map-side
    combine, value-based), each group's p50/p90 estimate verified
    against that group's EXACT rank within ±(0.04 + 1/n_g) (the 1/n_g
    term absorbs discreteness of integer lengths) — PLUS the balanced
    range partitioner (operators/partitioning.py): 16 equal-row cut
    points from the same KLL, EXACT per-bucket counts all within
    n/16 ± 2εn. One row per lang, each carrying the global booleans."""
    ev = _t(spark, sf_dir, "events").select("value")

    def rank_ok(sk, n, qs, tol):
        ests = [sk.quantile(q) for q in qs]
        ranks = ev.agg(*[
            (F.sum(F.when(F.col("value") <= e, 1).otherwise(0)) / n)
            .alias(f"r{i}") for i, e in enumerate(ests)]).first()
        return all(abs(float(ranks[i]) - q) <= tol
                   for i, q in enumerate(qs))

    kll, n = build_sketch(ev, "value", lambda: KLLSketch(200),
                          value_based=True)
    kll_qs = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    td, _ = build_sketch(ev, "value", lambda: TDigest(100),
                         value_based=True)
    td_qs = (0.1, 0.25, 0.5, 0.9, 0.99)
    # balanced range partitioner (operators/partitioning.py): cut the
    # SAME KLL into 16 equal-row buckets; every EXACT bucket count must
    # land within n/16 ± 2εn (ε=0.04, two cut points bound a bucket)
    n_buckets = 16
    bounds = ptn.boundaries_from_sketch(kll, n_buckets)
    bal = ptn.partition_balance(ev, "value", bounds).collect()
    tol = 2 * 0.04 * n + 1
    part_ok = (sum(r["n_rows"] for r in bal) == n and
               all(abs(r["n_rows"] - n / n_buckets) <= tol for r in bal))
    glob = spark.createDataFrame(
        [(len(kll_qs), bool(rank_ok(kll, n, kll_qs, 0.04)),
          len(td_qs), bool(rank_ok(td, n, td_qs, 0.02)),
          n_buckets, bool(part_ok))],
        "kll_n_quantiles long, kll_ok boolean, "
        "td_n_quantiles long, td_ok boolean, "
        "part_n_buckets long, part_balanced_ok boolean")

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.length("text").cast("double").alias("len")).persist()
    grouped = build_grouped_sketches(docs, "len", lambda: KLLSketch(200),
                                     ["lang"], value_based=True)
    gq = quantiles_grouped(grouped, (0.5, 0.9))
    est = spark.createDataFrame(
        [(r["lang"], float(r["quantiles"][0]), float(r["quantiles"][1]))
         for r in gq.collect()], "lang string, e50 double, e90 double")
    ranks = (docs.join(F.broadcast(est), "lang")
             .groupBy("lang")
             .agg((F.sum((F.col("len") <= F.col("e50")).cast("int")) /
                   F.count(F.lit(1))).alias("r50"),
                  (F.sum((F.col("len") <= F.col("e90")).cast("int")) /
                   F.count(F.lit(1))).alias("r90"),
                  F.count(F.lit(1)).alias("n_g")))
    per_lang = ranks.select(
        "lang",
        ((F.abs(F.col("r50") - 0.5) <= 0.04 + 1.0 / F.col("n_g")) &
         (F.abs(F.col("r90") - 0.9) <= 0.04 + 1.0 / F.col("n_g")))
        .alias("grouped_ok"))
    # materialize the per-lang rows while the docs cache is alive — the
    # harness evaluates the returned DataFrame after this function (and
    # its unpersist) has run
    rows = per_lang.collect()
    docs.unpersist()
    # both sides are a handful of literal rows, but createDataFrame
    # spreads them over defaultParallelism partitions and the cartesian
    # product would run 32x32 = 1024 no-op tasks — coalesce first
    return (spark.createDataFrame(rows, per_lang.schema).coalesce(1)
            .crossJoin(glob.coalesce(1)))


def q_counting_bloom_delete(spark, sf_dir):
    """K8: delete support — remove all 'F'-status keys; every remaining
    key still probes present (counter arithmetic is exact per insert)
    (Bloom_project/src/core/CounterBloom.hpp:34-68).

    The removal hashes are collected to the driver deliberately: this
    is the single-filter API demo (one CountingBloomSketch object,
    mirroring the reference's in-process filter). The scale path for
    deletes is ``sharded_delete`` (operators/sharded.remove_sharded),
    where removals stream through a cogroup and never collect."""
    orders = _t(spark, sf_dir, "orders")
    keys = orders.select("o_orderkey").distinct()
    sk, _ = build_sketch(keys, "o_orderkey",
                         lambda: CountingBloomSketch(1 << 16, 4))
    gone = orders.where("o_orderstatus = 'F'").select("o_orderkey").distinct()
    gone_h = gone.select(hash_col(F.col("o_orderkey")).alias("h")).collect()
    sk.remove_hashes(np.array([r["h"] for r in gone_h], dtype=np.int64))
    remaining = keys.join(gone, "o_orderkey", "left_anti")
    probed = probe_membership(remaining, "o_orderkey", sk)
    return probed.agg(F.sum(F.when(~F.col("seen"), 1).otherwise(0))
                      .cast("long").alias("false_negatives"))


def q_cuckoo_contract(spark, sf_dir):
    """K11-K14 contract: distributed bank build → no false negatives;
    driver-side filter: delete → lookup drops, survivors still present
    (Bloom_project/src/core/CuckooFilter.hpp:71-168)."""
    parts = _t(spark, sf_dir, "part").select("p_partkey").distinct()
    # no explicit capacity: the default-1024 seed member auto-grows
    # (appends same-shaped members) when a partition exceeds it
    bank, _ = build_sketch(
        parts, "p_partkey",
        lambda: CuckooBank.wrap(CuckooFilter()))
    probed = probe_membership(parts, "p_partkey", bank)
    bank_misses = probed.where(~F.col("seen")).count()

    hs = np.array([r["h"] for r in parts.select(
        hash_col(F.col("p_partkey")).alias("h")).collect()], dtype=np.int64)
    cf = CuckooFilter(capacity=8192)
    cf.update_hashes(hs)
    insert_misses = int((~cf.contains_hashes(hs)).sum())
    cf.remove_hashes(hs[:500])
    survivors_missing = int((~cf.contains_hashes(hs[500:])).sum())
    # K14 (CuckooNonProbability.hpp:57-139 contract): a removed key
    # stops answering "present" — up to fingerprint-collision FPs,
    # bounded like sharded_delete's check (≤ 2% of removals)
    removed_found = int(cf.contains_hashes(hs[:500]).sum())
    removed_absent_ok = removed_found <= 10
    return spark.createDataFrame(
        [(int(bank_misses), insert_misses, survivors_missing,
          bool(removed_absent_ok))],
        "bank_misses long, insert_misses long, survivors_missing long, "
        "removed_absent_ok boolean")


def q_sharded_bloom(spark, sf_dir):
    """Hash-range-sharded seen-before filter (the 10^12-key design: a
    single 1.2TB Bloom cannot broadcast or merge; shards are a
    DataFrame of (shard, payload) probed via co-partitioned join).
    Contract: zero false negatives over every built key; observed FPR
    on 20k disjoint keys ≤ 2·p."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, probe_sharded)
    keys = _t(spark, sf_dir, "orders").select("o_orderkey").distinct()
    shards = build_sharded(keys, "o_orderkey", n_shards=16, p=0.01)
    shards = shards.cache()
    n_shards = shards.count()
    fn = probe_sharded(keys, "o_orderkey", shards) \
        .where(~F.col("seen")).count()
    absent = spark.range(50_000_000, 50_020_000).select(
        F.col("id").alias("o_orderkey"))
    fp = probe_sharded(absent, "o_orderkey", shards).where("seen").count()
    shards.unpersist()
    return spark.createDataFrame(
        [(int(n_shards == 16), int(fn), bool(fp / 20_000 <= 0.02))],
        "all_shards_built long, false_negatives long, fpr_ok boolean")


def q_sharded_delete(spark, sf_dir):
    """Delete-at-scale: counting-Bloom shards support key removal
    without rebuilding (K8's delete semantics at sharded scale).
    Remove all 'F'-status order keys from the shard table; every
    survivor still probes present (exact counter arithmetic — zero
    false negatives) and removed keys probe absent modulo the FP rate.
    The same contract is then replayed over CUCKOO shards
    (``cuckoo_shard_factory`` — deletable state at ~2-4 bytes/key vs
    ~9.6 counter-bytes/key, reference CuckooFilter.hpp K11-K13 at
    shard scale), and the cuckoo shard table must be smaller than the
    counting one over the same keys."""
    from bloom_filters_spark.operators.sharded import (
        build_sharded, counting_shard_factory, cuckoo_shard_factory,
        probe_sharded, remove_sharded)
    orders = _t(spark, sf_dir, "orders")
    keys = orders.select("o_orderkey").distinct()
    gone = orders.where("o_orderstatus = 'F'") \
        .select("o_orderkey").distinct()
    survivors = keys.join(gone, "o_orderkey", "left_anti")
    n_gone = gone.count()

    def delete_contract(factory):
        shards = build_sharded(keys, "o_orderkey", n_shards=16,
                               factory=factory).cache()
        shards.count()
        shards2 = remove_sharded(gone, "o_orderkey", shards).cache()
        fn = probe_sharded(survivors, "o_orderkey", shards2) \
            .where(~F.col("seen")).count()
        still = probe_sharded(gone, "o_orderkey", shards2) \
            .where("seen").count()
        # resident state, not wire bytes (sparse serde shrinks lightly
        # filled counting shards on the wire; the size claim is about
        # executor memory)
        from bloom_filters_spark.kernels import sketch_from_bytes
        size = sum(sketch_from_bytes(bytes(r["payload"])).size_bytes
                   for r in shards.select("payload").collect())
        shards.unpersist()
        shards2.unpersist()
        return int(fn), bool(still / max(n_gone, 1) <= 0.05), size

    fn_c, ok_c, size_counting = delete_contract(counting_shard_factory(0.01))
    fn_k, ok_k, size_cuckoo = delete_contract(cuckoo_shard_factory())
    return spark.createDataFrame(
        [(fn_c, ok_c, fn_k, ok_k, bool(size_cuckoo < size_counting))],
        "false_negatives long, removed_mostly_absent boolean, "
        "cuckoo_false_negatives long, cuckoo_removed_mostly_absent boolean, "
        "cuckoo_smaller boolean")


def q_ibf_recover(spark, sf_dir):
    """K9/K10: IBF getAllValues — peel the merged IBF and join recovered
    key hashes back to the source (all 200 names recovered)
    (Bloom_project/src/core/InvertibleBloomFilter.hpp:207-213) — plus
    the getValue(idx) point accessor (:179-185): every pure cell's
    key must be one of the inserted key hashes, and at least one pure
    cell exists at this load factor."""
    cust = _t(spark, sf_dir, "customer").where("c_custkey <= 200") \
        .select("c_name").distinct()
    ibf, _ = build_sketch(cust, "c_name",
                          lambda: InvertibleBloomSketch(2048, 3))
    rec = ibf_recover(cust, "c_name", ibf)
    inserted = {r["h"] & 0xFFFFFFFFFFFFFFFF for r in cust.select(
        hash_col(F.col("c_name")).alias("h")).collect()}
    point_vals = [v for v in (ibf.get_value(i) for i in range(ibf.m))
                  if v is not None]
    point_ok = (len(point_vals) > 0
                and all(int(v) in inserted for v in point_vals))
    return (rec.agg(F.countDistinct("c_name").alias("n_recovered"))
            .withColumn("getvalue_ok", F.lit(bool(point_ok))))


def q_collision_metrics(spark, sf_dir):
    """K5/K6/D1: relative + absolute collision counts, relationally
    (Bloom_project/src/core/BloomFilter.cpp:106-159) — deterministic
    given the fixed hash family, pinned by the Spark-side exact compute
    and cross-checked between the two formulations."""
    cust = _t(spark, sf_dir, "customer").select("c_name")
    relc = relative_collisions(cust, "c_name", k=3, m=5000).first()[0]
    absc = absolute_collisions(cust, "c_name", k=3, m=5000).first()[0]
    # invariant: absolute collisions can only involve elements whose
    # every probe collides, so 2·abs ≤ rel·k is a safe sanity relation;
    # the oracle pins the *invariant*, not the hash-dependent numbers
    ok = (relc >= 0) and (absc >= 0) and (absc <= relc * 3 + 1)
    return spark.createDataFrame([(bool(ok),)], "ok boolean")


def q_theta_set_ops(spark, sf_dir):
    """Theta sketch (KMV) set-operation estimates vs exact
    INTERSECT/EXCEPT counts over order keys vs lineitem order keys (an
    asymmetric overlap in this testdata: 257 of 15000 orders have no
    lineitems at sf0.01). k=4096 < 15000 forces estimation mode; union
    tolerance is the published 1/sqrt(k-1) RSE x4, intersection /
    difference scale by sqrt(union/target) per the standard theta
    error model."""
    cust = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"))
    ordc = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"))
    a, _ = build_sketch(cust, "k", lambda: ThetaSketch(4096))
    b, _ = build_sketch(ordc, "k", lambda: ThetaSketch(4096))
    da, db = cust.distinct(), ordc.distinct()
    exact_union = da.unionByName(db).distinct().count()
    exact_inter = da.join(db, "k").count()
    exact_diff = da.join(db, "k", "left_anti").count()
    tol_u = 4 * a.relative_error + 0.01
    union_ok = (abs(a.union_estimate(b) - exact_union) / exact_union
                <= tol_u)
    tol_i = (4 * math.sqrt(exact_union / exact_inter) / math.sqrt(a.k)
             + 0.01)
    inter_ok = (abs(a.intersect_estimate(b) - exact_inter) / exact_inter
                <= tol_i)
    tol_d = (4 * math.sqrt(exact_union / exact_diff) / math.sqrt(a.k)
             + 0.01)
    diff_ok = (abs(a.difference_estimate(b) - exact_diff) / exact_diff
               <= tol_d)
    return spark.createDataFrame(
        [(int(exact_union), bool(union_ok), int(exact_inter),
          bool(inter_ok), int(exact_diff), bool(diff_ok))],
        "exact_union long, union_ok boolean, exact_inter long, "
        "inter_ok boolean, exact_diff long, diff_ok boolean")


def q_theta_grouped_overlap(spark, sf_dir):
    """Grouped theta sketches (one per event_type) + pairwise
    INTERSECTION estimates: how many users each pair of event types
    shares, estimated from per-group sketches alone vs the exact
    pairwise overlap (the audience-overlap query a sketch library
    exists for — no re-scan per pair)."""
    from bloom_filters_spark.kernels import sketch_from_bytes
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    grouped = build_grouped_sketches(ev, "user_id",
                                     lambda: ThetaSketch(1024),
                                     ["event_type"])
    sks = {r["event_type"]: sketch_from_bytes(bytes(r["payload"]))
           for r in grouped.collect()}
    d = ev.distinct()
    exact = {(r["ta"], r["tb"]): r["c"] for r in
             (d.alias("a").join(
                 d.alias("b"),
                 (F.col("a.user_id") == F.col("b.user_id"))
                 & (F.col("a.event_type") < F.col("b.event_type")))
              .groupBy(F.col("a.event_type").alias("ta"),
                       F.col("b.event_type").alias("tb"))
              .agg(F.count("*").alias("c"))).collect()}
    rows = []
    for (ta, tb), ex in sorted(exact.items()):
        a, b = sks[ta], sks[tb]
        union = a.union_estimate(b)
        tol = 4 * math.sqrt(max(union / max(ex, 1), 1)) / math.sqrt(a.k) \
            + 0.02
        est = a.intersect_estimate(b)
        rows.append((ta, tb, int(ex), bool(abs(est - ex) / ex <= tol)))
    return spark.createDataFrame(
        rows, "type_a string, type_b string, exact_inter long, "
              "within_bound boolean")


def q_minhash_vs_exact(spark, sf_dir):
    """MinHash-LSH (128 perms / 32 bands) vs exact Jaccard ≥ 0.8:
    verification makes precision exact; banding makes the per-pair miss
    probability (1−s⁴)³² ≤ 5e-8 at s=0.8 → symmetric difference 0.
    Round-5 fold: connected components over the minhash pair graph
    (`neardup_components` — min-label propagation + pointer jumping,
    the Lee et al. 2021 cluster-then-keep-one dedup shape): the oracle
    independently RECOMPUTES node count, component count, and the
    sum of per-node representatives with a DuckDB recursive CTE over
    its own exact-jaccard pairs — a different pair derivation AND a
    different components algorithm reaching the same labeling."""
    docs = _t(spark, sf_dir, "documents")
    # persisted: referenced by both anti-joins AND the components
    # edge build — without it the LSH candidate join re-runs 4x
    mh = dd.neardup_minhash(docs, "doc_id", "text", threshold=0.8,
                            num_perm=128, bands=32) \
        .select("id1", "id2").persist()
    exact = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=1,
                                   threshold=0.8).select("id1", "id2")
    missing = exact.join(mh, ["id1", "id2"], "left_anti").count()
    extra = mh.join(exact, ["id1", "id2"], "left_anti").count()
    comp = dd.neardup_components(mh)
    cc = comp.agg(F.count("*").alias("n"),
                  F.countDistinct("rep").alias("c"),
                  F.sum("rep").alias("s")).first()
    return spark.createDataFrame(
        [(int(missing), int(extra), int(cc["n"]), int(cc["c"]),
          int(cc["s"] or 0))],
        "missing long, extra long, cc_nodes long, cc_components long, "
        "cc_rep_sum long")


def q_simhash_complete(spark, sf_dir):
    """SimHash banding is pigeonhole-complete for hamming < chunks:
    banded pairs ≡ brute-force pairs at hamming ≤ 7 with 8 chunks."""
    docs = _t(spark, sf_dir, "documents")
    banded = dd.neardup_simhash(docs, "doc_id", "text", max_hamming=7,
                                chunks=8).select("id1", "id2")
    sig = dd.simhash_signatures(docs, "doc_id", "text")
    a, b = sig.alias("a"), sig.alias("b")
    brute = (a.join(b, F.col("a.id") < F.col("b.id"))
             .where(F.bit_count(F.col("a.simhash")
                                .bitwiseXOR(F.col("b.simhash"))) <= 7)
             .select(F.col("a.id").alias("id1"),
                     F.col("b.id").alias("id2")))
    mism = (banded.join(brute, ["id1", "id2"], "left_anti").count()
            + brute.join(banded, ["id1", "id2"], "left_anti").count())
    return spark.createDataFrame([(int(mism),)], "mismatches long")


def q_lsh_bucket_caps(spark, sf_dir):
    """Hot-bucket scale guard (VERDICT r1 item 1): 3000 identical docs
    appended to the corpus form one degenerate LSH bucket per band
    (~4.5M candidate pairs uncapped). With bucket_cap=512:
    - no hot pair survives candidate generation (minhash AND simhash);
    - every exact jaccard>=0.8 pair of the ORIGINAL corpus is still
      found (the cap exceeds the corpus's largest true near-dup
      cluster, ~300 docs — the cap-choice rule at scale);
    - the dropped buckets are accounted (>=1 per band ⇒ >= 32)."""
    cap = 512
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    hot = spark.range(3000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit("hot boilerplate navigation footer copyright terms "
              "privacy contact about").alias("text"))
    both = docs.unionByName(hot)
    mh = dd.neardup_minhash(both, "doc_id", "text", threshold=0.8,
                            num_perm=128, bands=32,
                            bucket_cap=cap).select("id1", "id2")
    is_hot = (F.col("id1") >= 10_000_000) | (F.col("id2") >= 10_000_000)
    mh_hot = mh.where(is_hot).count()
    base_exact = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=1,
                                        threshold=0.8).select("id1", "id2")
    mh_missing = base_exact.join(mh, ["id1", "id2"], "left_anti").count()
    sig = dd.minhash_signatures(both, "doc_id", "text", 128, 32)
    stats = dd.lsh_bucket_stats(sig, cap).first()
    sh = dd.neardup_simhash(both, "doc_id", "text", max_hamming=7,
                            chunks=8, bucket_cap=cap).select("id1", "id2")
    sh_hot = sh.where(is_hot).count()
    return spark.createDataFrame(
        [(int(mh_hot), int(mh_missing),
          bool(stats["n_capped_buckets"] >= 32),
          int(stats["n_rows_in_capped"] > 0), int(sh_hot))],
        "mh_hot_pairs long, mh_missing_base long, caps_accounted boolean, "
        "capped_rows_reported long, sh_hot_pairs long")


def q_checkpoint_resume(spark, sf_dir):
    """north_rule resume: kill after 5/16 shards → resume → final sketch
    byte-identical to an uninterrupted build (content-addressed shards
    + latest-attempt-wins lineage). The same cycle then runs through a
    LIVE DataFrameWriterV2 catalog table (Spark's built-in
    JDBCTableCatalog over embedded Derby — the writeTo().append()
    branch the Iceberg backend uses; no Iceberg jars in the sandbox),
    so catalog_byte_identical certifies the V2 write path end-to-end."""
    import tempfile
    ev = _t(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as td:
        cp = SketchCheckpoint(spark, f"{td}/cp", n_shards=16)
        factory = lambda: HLLSketch(12)
        try:
            cp.build(ev, "user_id", factory, "h", fail_after_shards=5)
        except RuntimeError:
            pass
        sk, n, lineage = cp.resume(ev, "user_id", factory, "h")
        direct, n2 = build_sketch(ev, "user_id", factory)

        # catalog backend: one Derby db per Spark application (embedded
        # Derby is single-JVM; the app id keeps concurrent sessions
        # apart, and re-runs within a session are idempotent because
        # latest-attempt-wins). The db must outlive this query's
        # tempdir — the catalog conf is session-lived and bench re-runs
        # the query — so it sits under /tmp with an atexit cleanup
        # instead of accumulating one directory per run. Derby cannot
        # compare CLOB in pushed predicates → filters evaluate
        # Spark-side for this catalog.
        app = spark.sparkContext.applicationId
        if spark.conf.get("spark.sql.catalog.bfsq.url", None) is None:
            import atexit
            import shutil
            atexit.register(shutil.rmtree, f"/tmp/bfs_cat_{app}",
                            ignore_errors=True)
        for k, v in {
            "spark.sql.catalog.bfsq":
                "org.apache.spark.sql.execution.datasources.v2.jdbc."
                "JDBCTableCatalog",
            "spark.sql.catalog.bfsq.url":
                f"jdbc:derby:/tmp/bfs_cat_{app};create=true",
            "spark.sql.catalog.bfsq.driver":
                "org.apache.derby.jdbc.EmbeddedDriver",
            "spark.sql.catalog.bfsq.pushDownPredicate": "false",
        }.items():
            if spark.conf.get(k, None) is None:
                spark.conf.set(k, v)
        ck = SketchCheckpoint(spark, f"{td}/unused", n_shards=8,
                              catalog_table="bfsq.lineage_q")
        try:
            ck.build(ev, "user_id", factory, "hq", fail_after_shards=3)
        except RuntimeError:
            pass
        sk_c, _, _ = ck.resume(ev, "user_id", factory, "hq")
        return spark.createDataFrame(
            [(sk.to_bytes() == direct.to_bytes(), int(n),
              len(lineage["recomputed_shards"]),
              sk_c.to_bytes() == direct.to_bytes())],
            "byte_identical boolean, n_rows long, "
            "recomputed_shards long, catalog_byte_identical boolean")


def q_pages_invariant(spark, sf_dir):
    """Per-row invariant (input_hint): extract_text(html) is
    byte-identical to text for every url of the synthetic pages table."""
    pages = generate_pages(spark, 2000)
    ext = with_extracted_text(pages)
    return ext.agg(
        F.sum(F.when(F.col("extracted_text") != F.col("text"), 1)
              .otherwise(0)).cast("long").alias("mismatches"),
        F.count("*").alias("n_rows"))


def q_multimodal(spark, sf_dir):
    """Multimodal plumbing, both stages in one result (r3 registry
    merge): binary payload → fixed-size frame sampling (every 2nd
    64-byte frame of a 269-byte PGM payload; the trailing 13-byte
    partial frame is kept — ceil split) JOINED with the decode→feature
    pipeline (REAL in-repo pure-numpy Netpbm codec — synthetic_media
    emits genuine P5 images; every row decodes ok into a 16-dim
    feature) on media_id — 3 frame rows per media (idx 0, 2, 4), each
    carrying that media's decode columns."""
    media = mm.synthetic_media(spark, 100)
    frames = (mm.sample_frames(media, every_n=2, frame_bytes=64)
              .select("media_id", "frame_idx",
                      F.octet_length("frame").cast("long")
                      .alias("n_bytes")))
    feats = (mm.extract_features(media)
             .select("media_id", "ok",
                     F.size("feature").alias("n_features")))
    return frames.join(feats, on="media_id")


def q_streaming_accumulate(spark, sf_dir):
    """Structured Streaming foreachBatch accumulation over the documents
    parquet equals the batch build (mergeable-monoid property)."""
    import tempfile
    from bloom_filters_spark.streaming import (
        StreamingSketchAccumulator, run_stream_accumulation)
    import os
    import shutil
    docs_path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(docs_path).schema
    with tempfile.TemporaryDirectory() as td:
        # file streams need a directory source; stage the parquet file
        src = f"{td}/src"
        os.makedirs(src, exist_ok=True)
        shutil.copy(docs_path, f"{src}/documents.parquet")
        stream = spark.readStream.schema(schema).parquet(src)
        acc = StreamingSketchAccumulator("doc_id", lambda: HLLSketch(12))
        run_stream_accumulation(stream, acc, checkpoint_dir=f"{td}/cp")
        batch, n = build_sketch(spark.read.parquet(docs_path), "doc_id",
                                lambda: HLLSketch(12))
        return spark.createDataFrame(
            [(acc.sketch is not None
              and acc.sketch.to_bytes() == batch.to_bytes(),
              int(acc.n_rows))],
            "matches_batch boolean, n_rows long")


def q_streaming_windowed(spark, sf_dir):
    """Event-time windowed sketches under Structured Streaming
    (applyInPandasWithState + watermark): per-day distinct-user HLL
    sketches over the events stream — n_rows exact per window,
    estimate within the published bound vs the batch-exact count —
    PLUS per-day top-3 event types from the streaming Misra-Gries
    state (`topk_per_window`): capacity 64 exceeds the event-type
    cardinality, so MG never decrements and the streamed (item, count,
    rank) triples are EXACT — checked value-for-value against the SQL
    window-rank oracle. Round-5 folds (VERDICT r4 #4): (a) win_p50 —
    the VALUE-BASED per-window quantile path (sketch_per_window with
    value_based=True, emit=p50): per-day KLL(2048) median of `value`;
    each day holds ≤ ~364 rows < k so the sketch is EXACT and the
    emitted median equals DuckDB's quantile_disc(0.5) value-for-value
    (rank conventions verified identical: both return the element at
    the first cumulative weight ≥ q·n); (b) ttl_flush_ok — the SAME
    distinct-user stream with state_ttl='1 day' over a 2-batch
    time-ordered replay: every evicted window flushes exactly one
    final row byte-equal to its last update, ≥20 of the 30 windows
    evict inside the run, and final estimates match the no-TTL run;
    (c) slide_parity_ok — SLIDING windows (W=2 days, S=1 day): every
    event feeds exactly W/S=2 window states, each sliding window's
    final n_rows equals the exact batch count over [start, start+2d),
    and its estimate sits within the HLL bound of the exact distinct
    over that span."""
    import glob
    import tempfile
    import shutil
    import os
    import uuid
    from bloom_filters_spark.streaming import (
        run_windowed_to_memory, sketch_per_window, topk_per_window)
    ev_path = f"{sf_dir}/events.parquet"
    ev_df = spark.read.parquet(ev_path)
    schema = ev_df.schema
    name = f"win_q_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as td:
        src = f"{td}/src"
        os.makedirs(src)
        # two TIME-ORDERED source files (days 1-15, then 16-30): the
        # TTL replay below needs later batches to carry only newer
        # event time, so an evicted window can never see another row
        split = "2024-01-16"
        for i, half in enumerate((ev_df.where(F.col("ts") < split),
                                  ev_df.where(F.col("ts") >= split))):
            part = f"{td}/p{i}"
            half.coalesce(1).write.parquet(part)
            dst = f"{src}/events_{i}.parquet"
            shutil.copy(glob.glob(f"{part}/part-*.parquet")[0], dst)
            # FileStreamSource orders by mtime — pin it explicitly
            os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
        stream = (spark.readStream.schema(schema).parquet(src)
                  # watermarks need TIMESTAMP (ltz); parquet has NTZ.
                  # Session TZ is UTC so the cast is value-preserving.
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        windowed = sketch_per_window(stream, "ts", "user_id",
                                     lambda: HLLSketch(12),
                                     window="1 day", watermark="1 day")
        run_windowed_to_memory(windowed, name, f"{td}/cp")
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        topk = topk_per_window(stream, "ts", "event_type", k=3,
                               capacity=64, window="1 day",
                               watermark="1 day")
        run_windowed_to_memory(topk, f"{name}_tk", f"{td}/cp_tk")
        tk_rows = spark.sql(f"SELECT * FROM {name}_tk").collect()
        med = sketch_per_window(stream, "ts", "value",
                                lambda: KLLSketch(2048),
                                window="1 day", watermark="1 day",
                                value_based=True,
                                emit=lambda sk: sk.quantile(0.5))
        run_windowed_to_memory(med, f"{name}_md", f"{td}/cp_md")
        md_rows = spark.sql(f"SELECT * FROM {name}_md").collect()
        ttl_stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(src)
                      .withColumn("ts", F.col("ts").cast("timestamp")))
        ttl = sketch_per_window(ttl_stream, "ts", "user_id",
                                lambda: HLLSketch(12),
                                window="1 day", watermark="1 day",
                                state_ttl="1 day")
        run_windowed_to_memory(ttl, f"{name}_tt", f"{td}/cp_tt")
        tt_rows = spark.sql(f"SELECT * FROM {name}_tt").collect()
        sld = sketch_per_window(stream, "ts", "user_id",
                                lambda: HLLSketch(12),
                                window="2 days", slide="1 day",
                                watermark="1 day")
        run_windowed_to_memory(sld, f"{name}_sl", f"{td}/cp_sl")
        sl_rows = spark.sql(f"SELECT * FROM {name}_sl").collect()
    # update mode: keep the final (largest-n) row per window
    final: dict = {}
    for r in rows:
        cur = final.get(r["window_start"])
        if cur is None or r["n_rows"] > cur["n_rows"]:
            final[r["window_start"]] = r
    # same for the top-k stream: the trigger with the largest n_rows
    # per window carries that window's final MG state
    tk_final: dict = {}
    for r in tk_rows:
        w = r["window_start"]
        if w not in tk_final or r["n_rows"] > tk_final[w][0]["n_rows"]:
            tk_final.setdefault(w, [])
        if tk_final[w] and r["n_rows"] < tk_final[w][0]["n_rows"]:
            continue
        tk_final[w] = [x for x in tk_final[w]
                       if x["n_rows"] == r["n_rows"]] + [r]
    # windowed median: single batch → exactly one row per window
    p50 = {r["window_start"]: r["estimate"] for r in md_rows}
    # TTL replay: per window, the final (max-n) row plus — for evicted
    # windows — one flush row BYTE-equal to it (same sketch state)
    tt_by_win: dict = {}
    for r in tt_rows:
        tt_by_win.setdefault(r["window_start"], []).append(r)
    evicted = 0
    ttl_ok = set(tt_by_win) == {w for w in final}
    for w, rs in tt_by_win.items():
        fin = max(rs, key=lambda r: r["n_rows"])
        dups = [r for r in rs if r["n_rows"] == fin["n_rows"]]
        if len(dups) > 1:
            evicted += 1
            ttl_ok &= all(r["estimate"] == fin["estimate"] for r in dups)
        # the TTL run's final state equals the no-TTL run's
        ttl_ok &= (fin["n_rows"] == final[w]["n_rows"]
                   and fin["estimate"] == final[w]["estimate"])
    ttl_ok = bool(ttl_ok and evicted >= 20)
    exact = dict(spark.read.parquet(ev_path)
                 .groupBy(F.date_trunc("day", "ts").alias("w"))
                 .agg(F.countDistinct("user_id")).collect())
    tol = 4 * HLLSketch(12).relative_error + 0.02
    # sliding windows (W=2d, S=1d — the r5 fold): each event feeds
    # exactly W/S=2 window states; per sliding window the final n_rows
    # must equal the exact batch count over [start, start+2d) and the
    # estimate must sit within the HLL bound of the exact distinct
    # over that span (exact side: explode each row into its two
    # covering window_starts, then plain groupBy)
    sl_final: dict = {}
    for r in sl_rows:
        cur = sl_final.get(r["window_start"])
        if cur is None or r["n_rows"] > cur["n_rows"]:
            sl_final[r["window_start"]] = r
    sl_exact = {
        r["w"]: (int(r["n"]), int(r["d"]))
        for r in spark.read.parquet(ev_path)
        .select(F.explode(F.array(
            F.date_trunc("day", "ts"),
            F.date_trunc("day", "ts") - F.expr("INTERVAL 1 DAY")))
            .alias("w"), "user_id")
        .groupBy("w").agg(F.count("*").alias("n"),
                          F.countDistinct("user_id").alias("d"))
        .collect()}
    slide_ok = set(sl_final) == set(sl_exact)
    for w, r in sl_final.items():
        n_ex, d_ex = sl_exact.get(w, (0, 0))
        slide_ok = (slide_ok and r["n_rows"] == n_ex
                    and abs(r["estimate"] - d_ex) / max(d_ex, 1) <= tol)
    slide_ok = bool(slide_ok)
    out = []
    for w, r in sorted(final.items()):
        within = bool(abs(r["estimate"] - exact[w]) / exact[w] <= tol)
        for t in sorted(tk_final[w], key=lambda t: t["rank"]):
            out.append((w, int(r["n_rows"]), within, int(t["rank"]),
                        str(t["item"]), int(t["count"]),
                        float(p50[w]), ttl_ok, slide_ok))
    return spark.createDataFrame(
        out, "window_start timestamp, n_rows long, within_bound boolean,"
             " top_rank long, top_item string, top_count long,"
             " win_p50 double, ttl_flush_ok boolean,"
             " slide_parity_ok boolean")


def q_token_budget(spark, sf_dir):
    """Best-docs-within-a-token-budget selection (distributed
    cumulative sum over the quality ranking — range partitions +
    per-partition windows + broadcast prefix offsets; never a global
    single-partition sort). Exact vs the SQL global-window cumsum."""
    docs = _t(spark, sf_dir, "documents")
    out = plans.select_token_budget(docs.select("doc_id", "text"),
                                    budget_tokens=10_000, partitions=8)
    # token-balanced output sharding (r5): assign the FULL corpus to 4
    # ~equal-token shards (distributed cumsum + exact integer div),
    # reported per selected doc — the oracle re-derives start/total
    # with a SQL window and the same least(3, start*4 // total)
    from bloom_filters_spark.operators.partitioning import (
        assign_token_shards)
    sh = assign_token_shards(docs.select("doc_id", "text"), 4,
                             partitions=8)
    return (out.select("doc_id")
            .join(sh.select("doc_id", "shard"), "doc_id")
            .select("doc_id", F.col("shard").cast("long").alias("shard")))


def q_sampling_splits(spark, sf_dir):
    """Content-addressed train/val/test splits + deterministic sample:
    membership is a pure function of (key, seed), so splits partition
    the data exactly, match their fractions, and are IDENTICAL across
    re-computation and physical re-layout (the property a training
    pipeline needs — no doc may hop between train and val)."""
    from bloom_filters_spark.operators import sampling as sp
    ev = _t(spark, sf_dir, "events").select("event_id")
    total = ev.count()
    s = sp.hash_split(ev, "event_id",
                      {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = dict(s.groupBy("split").count().collect())
    parts_ok = sum(counts.values()) == total and len(counts) == 3
    frac_ok = all(abs(counts[k] / total - f) < 0.02 for k, f in
                  [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    relaid = sp.hash_split(ev.repartition(7), "event_id",
                           {"train": 0.8, "val": 0.1, "test": 0.1})
    moved = (s.join(relaid.withColumnRenamed("split", "s2"), "event_id")
             .where("split <> s2").count())
    samp1 = sp.deterministic_sample(ev, "event_id", 0.3)
    samp2 = sp.deterministic_sample(ev.repartition(5), "event_id", 0.3)
    samp_stable = (samp1.join(samp2, "event_id", "full_outer")
                   .where(samp1["event_id"].isNull()
                          | samp2["event_id"].isNull()).count() == 0)
    samp_frac_ok = abs(samp1.count() / total - 0.3) < 0.02
    # weighted sampling (Efraimidis–Spirakis A-ES, weight = text
    # length): the oracle RE-DERIVES the same content-addressed
    # uniform (md5-based) in SQL and recomputes the exact top-k, so
    # weighted_sum_ids is a strong value check, not a property bit
    wdocs = (_t(spark, sf_dir, "documents")
             .select("doc_id",
                     F.greatest(F.length("text"), F.lit(1))
                     .cast("double").alias("wt")))
    w_ids = {r["doc_id"] for r in
             sp.weighted_sample(wdocs, "doc_id", "wt", 50).collect()}
    w2 = {r["doc_id"] for r in
          sp.weighted_sample(wdocs.repartition(7), "doc_id", "wt", 50)
          .collect()}
    w3 = {r["doc_id"] for r in
          sp.weighted_sample(wdocs.withColumn("wt", F.col("wt") * 1000.0),
                             "doc_id", "wt", 50).collect()}
    return spark.createDataFrame(
        [(int(total), bool(parts_ok), bool(frac_ok), int(moved),
          bool(samp_stable), bool(samp_frac_ok),
          int(len(w_ids)), int(sum(w_ids)),
          bool(w2 == w_ids), bool(w3 == w_ids))],
        "n_total long, partitions_data boolean, fractions_ok boolean, "
        "keys_moved_on_relayout long, sample_stable boolean, "
        "sample_fraction_ok boolean, weighted_k long, "
        "weighted_sum_ids long, weighted_stable boolean, "
        "weighted_scale_invariant boolean")


def q_stratified_take(spark, sf_dir):
    """Deterministic n-per-group sample: exactly min(n, group size)
    rows per lang, chosen by hash order — per-group counts are exact
    (SQL-checkable) even though membership is hash-chosen."""
    from bloom_filters_spark.operators import sampling as sp
    docs = _t(spark, sf_dir, "documents")
    take = sp.stratified_take(docs, ["lang"], 50, key_col="doc_id")
    return (take.groupBy("lang").agg(F.count("*").alias("taken"))
            .orderBy("lang"))


def q_prepare_corpus(spark, sf_dir):
    """End-to-end corpus preparation (exact dedup → MinHash near-dup
    dedup with greedy keep-first → quality filter), checked against a
    full SQL replication of all three stages (near-dup via exact
    inverted-index jaccard — valid because LSH at 128/32 banding plus
    exact verification matches exact pairs on this corpus, per
    minhash_vs_exact). Round-5 fold: the row also carries
    cc_policy_sum — the doc_id sum of the survivors under
    ``near_dedup_policy="components"`` (connected-components
    keep-one) — which the oracle recomputes by extending its SQL
    replication with a RECURSIVE closure over the same exact pair
    set: the whole alternate pipeline, end to end, against an
    independent implementation."""
    docs = _t(spark, sf_dir, "documents")
    out = plans.prepare_corpus(docs.select("doc_id", "text"),
                               jaccard_threshold=0.8, min_quality=0.6)
    comp = plans.prepare_corpus(docs.select("doc_id", "text"),
                                jaccard_threshold=0.8, min_quality=0.6,
                                near_dedup_policy="components")
    cc_sum = comp.agg(F.sum("doc_id")).first()[0] or 0
    return out.select("doc_id").withColumn(
        "cc_policy_sum", F.lit(int(cc_sum)).cast("long"))


def q_bloom_join(spark, sf_dir):
    """Bloom filters at the two places they pay at 100 TB: inside a
    join and in front of the scan.

    (a) Bloom-accelerated EXACT joins (operators/joins.py): semi and
    anti join of lineitem against high-value orders, where a broadcast
    Bloom over the small side's keys pre-filters the big side before
    the shuffle (semi) / bypasses the join for certain non-members
    (anti). Exactness checked by count + value checksum on both
    streams; n_semi + n_anti must partition the table.

    (b) Sketch-indexed scan pruning (operators/skipping.py): stage
    orders range-clustered by o_orderkey, build the per-file
    Bloom+zone-map index in one pass, then point-look-up a probe set
    reading ONLY admitted files. The pruned result must equal the
    full-scan lookup (n_pruned/pruned_sum vs the SQL oracle) and must
    actually skip files (files_skipped: scanned < total)."""
    import tempfile
    from bloom_filters_spark.operators import skipping as skp
    li = _t(spark, sf_dir, "lineitem")
    hot = _t(spark, sf_dir, "orders").where("o_totalprice > 400000")
    semi = jn.bloom_semijoin(li, hot, "l_orderkey", "o_orderkey")
    anti = jn.bloom_antijoin(li, hot, "l_orderkey", "o_orderkey")
    s = semi.agg(
        F.count("*").alias("n_semi"),
        F.sum(F.col("l_quantity").cast("long")).alias("semi_qty"))
    a = anti.agg(
        F.count("*").alias("n_anti"),
        F.sum(F.col("l_quantity").cast("long")).alias("anti_qty"))

    orders = _t(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/orders_by_key"
        skp.stage_clustered(orders, path, "o_orderkey", 8)
        idx = skp.build_scan_index(spark, path, "o_orderkey").persist()
        idx.count()
        probes = (orders.where("o_orderkey % 19 = 0 AND o_orderkey < 1500")
                  .select("o_orderkey")
                  .unionByName(spark.createDataFrame(
                      [(-7,), (9_999_999_998,)], "o_orderkey long")))
        res, stats = skp.pruned_lookup(spark, path, idx, probes,
                                       "o_orderkey")
        row = res.agg(
            F.count("*").alias("n_pruned"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0)).alias(
                "pruned_sum")).collect()[0]
        idx.unpersist()
        # coalesce the literal side: createDataFrame spreads one row
        # over defaultParallelism partitions and the cartesian product
        # would multiply task counts for no work
        p = spark.createDataFrame(
            [(int(row["n_pruned"]), int(row["pruned_sum"]),
              bool(stats["files_scanned"] < stats["files_total"]))],
            "n_pruned long, pruned_sum long, files_skipped boolean"
        ).coalesce(1)
    return s.crossJoin(a).crossJoin(p)


def q_streaming_dedup(spark, sf_dir):
    """Online seen-before dedup guard: two overlapping micro-batches
    through StreamingShardedDedup (persistent versioned sharded Bloom
    state). No key is ever emitted twice (no false negatives), every
    true duplicate is suppressed, and false positives suppress at most
    ~3p of genuinely new keys."""
    import shutil
    import tempfile
    from bloom_filters_spark.streaming import (
        StreamingShardedDedup, run_stream_dedup)
    with tempfile.TemporaryDirectory() as td:
        b1 = spark.range(0, 1000).select(F.col("id").alias("user_id"))
        b2 = spark.range(500, 1500).select(F.col("id").alias("user_id"))
        b1.coalesce(1).write.parquet(f"{td}/b1")
        b2.coalesce(1).write.parquet(f"{td}/b2")
        import os
        os.makedirs(f"{td}/src")
        for i, d in enumerate(("b1", "b2")):
            for fn in os.listdir(f"{td}/{d}"):
                if fn.endswith(".parquet"):
                    shutil.copy(f"{td}/{d}/{fn}", f"{td}/src/batch{i}.parquet")
        emitted: list = []
        guard = StreamingShardedDedup(
            spark, "user_id", f"{td}/state", n_shards=8, p=0.01,
            shard_capacity=2048,
            emit=lambda df, bid: emitted.extend(
                r["user_id"] for r in df.collect()))
        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{td}/src"))
        run_stream_dedup(stream, guard, checkpoint_dir=f"{td}/cp")
    twice = len(emitted) - len(set(emitted))
    coverage_ok = len(set(emitted)) >= 1500 * (1 - 3 * 0.01)
    return spark.createDataFrame(
        [(int(twice), bool(coverage_ok),
          bool(guard.n_suppressed >= 500))],
        "keys_emitted_twice long, coverage_ok boolean, "
        "true_dupes_suppressed boolean")


def q_flagship_hll_bloom(spark, sf_dir):
    """EP3 flagship (Bloom_project/src/core/Bloom_project.cpp:4744-4834):
    HLL → leading-order rounding → sized DynBloom → probes, with every
    north_rule bound folded into the result. Round-5 fold: the
    MultiSketch one-pass composite (HLL + Bloom built from a SINGLE
    table scan — the 10^12-row production shape where the scan is the
    expensive part) must be BYTE-identical per member to standalone
    single-sketch builds, survive a serialization round trip, and its
    Bloom member must hold zero false negatives over the distinct
    tokens (multi_one_pass_ok)."""
    from bloom_filters_spark.kernels import (BloomSketch, MultiSketch,
                                             sketch_from_bytes)
    from bloom_filters_spark.operators.agg import build_sketch
    docs = _t(spark, sf_dir, "documents")
    toks = ts.tokenize(docs.select("text"), "text").select("token")
    out = plans.flagship_hll_bloom(toks, "token", p_hll=13, p_fpr=0.1)
    exact = toks.distinct().count()
    hll_ok = (abs(out["hll_estimate"] - exact) / exact
              <= 4 * out["hll"].relative_error + 0.02)
    bf = out["sketch"]
    present = probe_membership(toks.distinct(), "token", bf)
    fn = present.where(~F.col("seen")).count()
    absent = spark.range(20_000).select(
        F.concat(F.lit("zz"), F.col("id")).alias("token"))
    fp = probe_membership(absent, "token", bf).where("seen").count()
    fpr_ok = (fp / 20_000) <= 2 * 0.1
    multi_factory = lambda: MultiSketch(  # noqa: E731
        [HLLSketch(13), BloomSketch.from_capacity(200_000, 0.01)])
    multi, mn = build_sketch(toks, "token", multi_factory)
    solo_hll, sn = build_sketch(toks, "token", lambda: HLLSketch(13))
    solo_bf, _ = build_sketch(
        toks, "token", lambda: BloomSketch.from_capacity(200_000, 0.01))
    rt = sketch_from_bytes(multi.to_bytes())
    multi_fn = (probe_membership(toks.distinct(), "token", multi[1])
                .where(~F.col("seen")).count())
    multi_ok = bool(mn == sn
                    and multi[0].to_bytes() == solo_hll.to_bytes()
                    and multi[1].to_bytes() == solo_bf.to_bytes()
                    and rt.to_bytes() == multi.to_bytes()
                    and multi_fn == 0)
    return spark.createDataFrame(
        [(int(exact), bool(hll_ok), int(fn), bool(fpr_ok), multi_ok)],
        "exact_distinct long, hll_within_bound boolean, "
        "false_negatives long, fpr_within_bound boolean, "
        "multi_one_pass_ok boolean")


def q_s6_seeded_users(spark, sf_dir):
    """S6 + S4 (EP2): create + seed the users table (1000 synthetic
    rows), persist it, read back, ORDER BY id DESC LIMIT 20
    (Bloom_project/src/core/Bloom_project.cpp:3784-3827, :2771-2797)."""
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        users_df(spark, 1000).write.parquet(f"{td}/users")
        back = spark.read.parquet(f"{td}/users")
        rows = (back.orderBy(F.desc("id")).limit(20)
                .select("id", "name").collect())
    return spark.createDataFrame([(int(r["id"]), r["name"]) for r in rows],
                                 "id long, name string")


def q_fixture_probes(spark, sf_dir):
    """S1/S2/S7 (EP1): the reference's fixture workloads in one row —
    (a) classic Bloom over raw CSV lines (never column-parsed,
    Bloom_project/src/core/Bloom_project.cpp:3674-3681): the header
    line probes present, 'apple'/'orange' probe absent (:3689-3696);
    (b) the deterministic words.txt analogue with its console probe
    pair (member present, absent absent; :573-591, :4825-4834)."""
    lines = sales_lines_df(spark, 1000)
    sk, n = build_sketch(lines, "value",
                         lambda: BloomSketch.from_capacity(1000, 0.01))
    probes = spark.createDataFrame(
        [(SALES_HEADER,), ("apple",), ("orange",)], "value string")
    probed = probe_membership(probes, "value", sk)
    header_seen = probed.where(
        (F.col("value") == SALES_HEADER) & F.col("seen")).count() == 1
    absent_fp = probed.where(
        (F.col("value") != SALES_HEADER) & F.col("seen")).count()
    words = words_df(spark, 10_000)
    n_words = words.count()
    member = words.where(F.col("value") == KNOWN_MEMBER).count() > 0
    absent = words.where(F.col("value") == KNOWN_ABSENT).count() > 0
    # P3 + A1: CSV field split (Bloom_project field parsing) and exact
    # distinct over a parsed field — the header contributes 14 fields
    # and a 5th distinct region value ('Region') atop the 4 data values
    fields = lines.select(F.split(F.col("value"), ",").alias("f"))
    n_fields_header = fields.agg(F.max(F.size("f"))).first()[0]
    distinct_regions = (fields.select(F.col("f")[0].alias("region"))
                        .distinct().count())
    return spark.createDataFrame(
        [(int(n), bool(header_seen), int(absent_fp),
          int(n_words), bool(member), bool(absent),
          int(n_fields_header), int(distinct_regions))],
        "n_lines long, header_seen boolean, absent_false_positives long, "
        "n_words long, has_member boolean, has_absent boolean, "
        "n_fields_header long, distinct_regions long")


def q_string_digests(spark, sf_dir):
    """P5 + H4/H5 + H1/H2/H3: display truncation substr(0,77) + '...'
    (Bloom_project/src/core/Bloom_project.cpp:2790), the cryptographic
    digest functions (sha256/md5, Bloom_project/src/hash/
    HashFunctions.cpp:42-70) as JVM built-ins, one row per document —
    plus the reference's non-crypto hash family as distributed parity
    checksums (poly31 HashFunctions.cpp:13-20, poly37 :28-34,
    murmur3_32 :81-137): each applied per-word over 100 fixed strings
    in a pandas UDF and SUMmed; the oracle pins the published-algorithm
    constants (independently recomputed). Round-5 fold (H7): the
    reference cuckoo's ascii-sum / ascii-squared-sum hashes
    (CuckooNonProbability.hpp:153-159, :171-177) as pure-JVM
    ``aggregate(split(w, ''))`` expressions mod 1009 — DuckDB
    RECOMPUTES these checksums from the same words (list_transform +
    ascii), and a unit test pins the JVM expression to the python
    parity kernels (ascii_sum_hash / ascii_sq_sum_hash)."""
    from bloom_filters_spark.kernels.hashing import murmur3_32, poly_hash

    @F.pandas_udf("long")
    def p31(s: pd.Series) -> pd.Series:
        return pd.Series([poly_hash(x, 31) % 1000003 for x in s])

    @F.pandas_udf("long")
    def p37(s: pd.Series) -> pd.Series:
        return pd.Series([poly_hash(x, 37) % 1000003 for x in s])

    @F.pandas_udf("long")
    def m3(s: pd.Series) -> pd.Series:
        return pd.Series([murmur3_32(x) for x in s])

    def ascii_col(sq: bool):
        return F.aggregate(
            F.filter(F.split(F.col("w"), ""), lambda c: c != ""),
            F.lit(0).cast("long"),
            lambda acc, c: acc + (F.ascii(c) * F.ascii(c) if sq
                                  else F.ascii(c)).cast("long")) % 1009

    words = spark.range(100).select(
        F.concat(F.lit("word"), F.col("id")).alias("w"))
    sums = words.agg(F.sum(p31(F.col("w"))).alias("poly31_checksum"),
                     F.sum(p37(F.col("w"))).alias("poly37_checksum"),
                     F.sum(m3(F.col("w"))).alias("murmur3_checksum"),
                     F.sum(ascii_col(False)).alias("ascii_sum_checksum"),
                     F.sum(ascii_col(True)).alias("ascii_sq_checksum"))

    # canonical-url parity (operators/urls.py): md5 of the '|'-joined
    # canonical forms of the fixed adversarial list — the oracle
    # RE-IMPLEMENTS all seven rules in DuckDB SQL and recomputes it
    from bloom_filters_spark.operators.urls import (
        registrable_domain_col, with_canonical_url)
    udf = spark.createDataFrame(list(enumerate(_CANON_URLS, 1)),
                                "i long, url string")
    canon_arr = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "canonical_url"))),
        lambda s: s["canonical_url"])
    canon = (with_canonical_url(udf)
             .agg(F.md5(F.concat_ws("|", canon_arr))
                  .alias("canon_urls_md5")))
    # registrable-domain parity over the fixed host list (same
    # single-source pattern; the oracle re-implements the suffix
    # heuristic in SQL)
    hdf = spark.createDataFrame(list(enumerate(_DOMAIN_HOSTS, 1)),
                                "i long, host string")
    dom_arr = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "rd"))),
        lambda s: s["rd"])
    dom = (hdf.withColumn("rd", registrable_domain_col("host"))
           .agg(F.md5(F.concat_ws("|", dom_arr))
                .alias("domain_checksum")))
    # PII-scrub parity (operators/scrub.py): md5 of the '|'-joined
    # scrubbed forms of the fixed adversarial list + total rule hits —
    # the oracle rebuilds the SAME ordered regexp chain from PII_RULES
    # in DuckDB SQL (RE2) and must reproduce both values
    from bloom_filters_spark.operators.scrub import with_scrubbed_text
    sdf_pii = spark.createDataFrame(list(enumerate(_PII_STRINGS, 1)),
                                    "i long, s string")
    scr = with_scrubbed_text(sdf_pii, "s", "sc")
    pii_arr = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "sc"))),
        lambda x: x["sc"])
    pii = scr.agg(
        F.md5(F.concat_ws("|", pii_arr)).alias("pii_checksum"),
        F.sum(F.col("n_emails") + F.col("n_cards") + F.col("n_ids")
              + F.col("n_ips") + F.col("n_phones"))
         .cast("long").alias("pii_hits"))

    docs = _t(spark, sf_dir, "documents")
    return (docs.select(
        "doc_id",
        F.concat(F.substring("text", 1, 77), F.lit("...")).alias("preview"),
        F.md5(F.col("text")).alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"))
        .crossJoin(sums).crossJoin(canon).crossJoin(dom).crossJoin(pii))


def q_d1_collision_sweep(spark, sf_dir):
    """D1 + D3 (src/analysis/CollisionAnalyzer.cpp:21-70, :152-202):
    (a) relative-collision sweep over k=1..5 at fixed m — collisions
    grow monotonically with k (each extra hash can only set more bits);
    (b) sweep over m at fixed k — collisions shrink monotonically as
    the bit array grows (fewer forced index coincidences)."""
    from bloom_filters_spark.operators.collisions import (
        collision_sweep_k, collision_sweep_m)
    cust = _t(spark, sf_dir, "customer")
    pts = collision_sweep_k(cust, "c_name", m=5000)
    mono = all(pts[i]["relative_collisions"] <= pts[i + 1]["relative_collisions"]
               for i in range(len(pts) - 1))
    pts_m = collision_sweep_m(cust, "c_name", k=3, ms=(2000, 12000, 60000))
    mono_m = all(
        pts_m[i]["relative_collisions"] >= pts_m[i + 1]["relative_collisions"]
        for i in range(len(pts_m) - 1))
    return spark.createDataFrame(
        [(len(pts), bool(mono), len(pts_m), bool(mono_m))],
        "n_points long, monotonic boolean, "
        "m_sweep_points long, m_monotonic boolean")


# ===================================================================
# registry
# ===================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries, never-before-driver-checked queries FIRST:
    # the r2 driver run recorded precisely the first 50 registry
    # entries, so the registry is consolidated (several single-row
    # contract checks merged into multi-column rows — COVERAGE.md maps
    # every SURVEY §2 id to its query) to keep every operator inside
    # the window, and ordered so any truncation hits longest-green
    # entries last.
    return {
        # --- never driver-checked before r3 (merged or new) ---
        "flagship_hll_bloom": q_flagship_hll_bloom,
        "s6_seeded_users": q_s6_seeded_users,
        "fixture_probes": q_fixture_probes,
        "string_digests": q_string_digests,
        "d1_collision_sweep": q_d1_collision_sweep,
        "sampling_splits": q_sampling_splits,
        "token_budget": q_token_budget,
        "stratified_take": q_stratified_take,
        "o1_o2_neighbors": q_o1_o2_neighbors,
        "dedup_exact_keep": q_dedup_exact_keep,
        "text_profile": q_text_profile,
        "bloom_contract": q_bloom_contract,
        "hll_bounds": q_hll_bounds,
        "quantile_bounds": q_quantile_bounds,
        "ibf_recover": q_ibf_recover,
        "exact_membership": q_exact_membership,
        "bloom_join": q_bloom_join,
        "heavy_hitters_mg": q_heavy_hitters_mg,
        "ibf_reconcile": q_ibf_reconcile,
        # --- green in r2, re-checked every round ---
        "s3_projection": q_s3_projection,
        "s4_sort_limit": q_s4_sort_limit,
        "s5_p4_counts": q_s5_p4_counts,
        "tokens_topk": q_tokens_topk,
        "tokens_topk_by_lang": q_tokens_topk_by_lang,
        "a2_a3_distinct": q_a2_a3_distinct,
        "p7_fpr_curve": q_p7_fpr_curve,
        "p8_sizing": q_p8_sizing,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_pairs": q_cosine_pairs,
        "ann_topk": q_ann_topk,
        "ann_topk_ivf": q_ann_topk_ivf,
        "hll_by_lang": q_hll_by_lang,
        "cms_no_underestimate": q_cms_no_underestimate,
        "counting_bloom_delete": q_counting_bloom_delete,
        "cuckoo_contract": q_cuckoo_contract,
        "sharded_bloom": q_sharded_bloom,
        "sharded_delete": q_sharded_delete,
        "collision_metrics": q_collision_metrics,
        "theta_set_ops": q_theta_set_ops,
        "theta_grouped_overlap": q_theta_grouped_overlap,
        "minhash_vs_exact": q_minhash_vs_exact,
        "simhash_complete": q_simhash_complete,
        "lsh_bucket_caps": q_lsh_bucket_caps,
        "checkpoint_resume": q_checkpoint_resume,
        "pages_invariant": q_pages_invariant,
        "multimodal": q_multimodal,
        "streaming_accumulate": q_streaming_accumulate,
        "streaming_windowed": q_streaming_windowed,
        "streaming_dedup": q_streaming_dedup,
        "prepare_corpus": q_prepare_corpus,
    }


_MARKER_LIST = {code: ", ".join(f"'{w}'" for w in ws)
                for code, ws in ts.LANG_MARKERS.items()}
_STOPWORD_LIST = ", ".join(f"'{w}'" for w in ts.STOPWORDS)


def _canon_values() -> str:
    """VALUES list for the canonical-url oracle (urls contain no
    quotes; _CANON_URLS is the single source for both sides)."""
    return ", ".join(f"({i}, '{u}')"
                     for i, u in enumerate(_CANON_URLS, 1))


def _domain_values() -> str:
    return ", ".join(f"({i}, '{h}')"
                     for i, h in enumerate(_DOMAIN_HOSTS, 1))


def _pii_values() -> str:
    return ", ".join(f"({i}, '{s}')"
                     for i, s in enumerate(_PII_STRINGS, 1))


def _pii_scrub_sql(col: str) -> str:
    """The scrub chain as nested DuckDB regexp_replace, generated from
    the SAME PII_RULES the Spark operator applies (single source).
    DuckDB string literals keep backslashes verbatim, so the patterns
    pass through unescaped; 'g' mirrors Spark's replace-all."""
    from bloom_filters_spark.operators.scrub import PII_RULES
    expr = col
    for tag, pat in PII_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{tag}', 'g')"
    return expr


def _bpe_pat_sql() -> str:
    """The BPE-ish pre-tokenizer pattern as a DuckDB string literal
    body (single source: textstats.BPE_SPLIT; apostrophes doubled)."""
    from bloom_filters_spark.operators.textstats import BPE_SPLIT
    return BPE_SPLIT.replace("'", "''")


def _pii_count_sql(col: str) -> str:
    """Total rule hits: sum of len(regexp_extract_all) per pattern —
    DuckDB's non-overlapping leftmost matches == Spark regexp_count."""
    from bloom_filters_spark.operators.scrub import PII_RULES
    return " + ".join(f"len(regexp_extract_all({col}, '{pat}'))"
                      for _, pat in PII_RULES)


def _suffix_list() -> str:
    from bloom_filters_spark.operators.urls import MULTI_PART_SUFFIXES
    return ", ".join(f"'{s}'" for s in MULTI_PART_SUFFIXES)


def oracle_sql() -> dict[str, str]:
    toks = _SQL_TOKS
    return {
        "s3_projection":
            "SELECT c_name AS name FROM customer WHERE c_custkey <= 100",
        "s4_sort_limit":
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
        "s5_p4_counts":
            "SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows, "
            "(SELECT COUNT(*) FROM documents WHERE length(text) > 0) "
            "AS n_nonempty",
        "tokens_topk":
            f"SELECT token, COUNT(*) AS cnt FROM (SELECT unnest({toks}) "
            "AS token FROM documents) GROUP BY token "
            "ORDER BY cnt DESC, token LIMIT 20",
        "tokens_topk_by_lang":
            f"""WITH t AS (SELECT lang, unnest({toks}) AS token
                           FROM documents),
                c AS (SELECT lang, token, COUNT(*) AS cnt FROM t
                      GROUP BY lang, token)
            SELECT lang, token, cnt, rnk FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, token) AS rnk FROM c)
            WHERE rnk <= 3""",
        "a2_a3_distinct":
            f"SELECT (SELECT COUNT(DISTINCT token) FROM "
            f"(SELECT unnest({toks}) AS token FROM documents)) "
            "AS n_distinct_tokens, "
            "(SELECT COUNT(DISTINCT user_id) FROM events) "
            "AS n_distinct_users, "
            "(SELECT COUNT(*) FROM documents) AS n_docs, "
            "(SELECT COUNT(text) FROM documents) AS n_text_docs, "
            f"(SELECT CAST(COALESCE(SUM(len(t)), 0) AS BIGINT) FROM "
            f"(SELECT {toks} AS t FROM documents)) AS total_tokens, "
            f"(SELECT CAST(COALESCE(SUM(coalesce(len("
            f"regexp_extract_all(text, '{_bpe_pat_sql()}')), 0)), 0) "
            "AS BIGINT) FROM documents) AS total_bpe_tokens, "
            "(SELECT COUNT(DISTINCT text) FROM documents) "
            "AS n_distinct_texts, "
            "(SELECT COUNT(DISTINCT lang) FROM documents) "
            "AS n_distinct_langs, "
            "TRUE AS hll_within_bound, TRUE AS kll_rank_ok",
        "exact_membership":
            "SELECT r.range AS o_orderkey, "
            "(k.o_orderkey IS NOT NULL) AS present "
            "FROM range(7400, 7600) r "
            "LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) k "
            "ON r.range = k.o_orderkey",
        "o1_o2_neighbors":
            "SELECT (SELECT MIN(o_orderkey) FROM orders "
            "WHERE o_orderkey >= 7500) AS successor, "
            "(SELECT MAX(o_orderkey) FROM orders "
            "WHERE o_orderkey <= 7500) AS predecessor",
        "p7_fpr_curve":
            "SELECT range AS k, round(power(1 - exp(-range * 1000.0 "
            "/ 10000.0), range), 8) AS fpr FROM range(2, 11)",
        "p8_sizing":
            "SELECT n, p, CAST(ceil(-n * ln(p) / (ln(2) * ln(2))) AS BIGINT)"
            " AS m, CAST(floor(ln(2) * ceil(-n * ln(p) / (ln(2) * ln(2))) "
            "/ n + 0.5) AS BIGINT) AS k FROM (SELECT CAST(n AS BIGINT) AS n,"
            " CAST(p AS DOUBLE) AS p FROM (VALUES (1000, 0.1), "
            "(1000, 0.01), (10000, 0.1), (10000, 0.01), (100000, 0.1), "
            "(100000, 0.01)) AS t(n, p))",
        "dedup_exact_keep":
            """WITH keep AS (SELECT MIN(doc_id) AS doc_id,
                    COUNT(*) AS n_dups FROM documents GROUP BY text),
            ps AS (SELECT doc_id, list_filter(
                    string_split_regex(text, '\\n{2,}'),
                    x -> regexp_matches(x, '\\S')) AS ps FROM documents),
            p AS (SELECT doc_id, u.pos AS pos, u.para AS para FROM
                (SELECT doc_id, unnest(list_transform(
                    range(1, len(ps) + 1),
                    i -> {'pos': i, 'para': ps[i]})) AS u FROM ps) z),
            k AS (SELECT doc_id, pos, para, row_number() OVER
                    (PARTITION BY para ORDER BY doc_id, pos) AS rn
                  FROM p),
            reb AS (SELECT doc_id,
                    string_agg(para, chr(10) || chr(10) ORDER BY pos)
                        AS td,
                    count(*) AS kept FROM k WHERE rn = 1
                    GROUP BY doc_id),
            ls AS (SELECT doc_id, list_filter(
                    string_split(text, chr(10)),
                    x -> regexp_matches(x, '\\S')) AS ls FROM documents),
            lp AS (SELECT doc_id, u.pos AS pos, u.para AS para FROM
                (SELECT doc_id, unnest(list_transform(
                    range(1, len(ls) + 1),
                    i -> {'pos': i, 'para': ls[i]})) AS u FROM ls) z),
            lk AS (SELECT doc_id, pos, para, row_number() OVER
                    (PARTITION BY para ORDER BY doc_id, pos) AS rn
                   FROM lp),
            lreb AS (SELECT doc_id,
                     string_agg(para, chr(10) ORDER BY pos) AS td
                     FROM lk WHERE rn = 1 GROUP BY doc_id)
            SELECT keep.doc_id, n_dups,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE md5(coalesce(reb.td, '')) END AS para_md5,
                   CAST(coalesce(len(ps.ps), 0) AS BIGINT) AS n_paras,
                   CAST(coalesce(reb.kept, 0) AS BIGINT)
                       AS n_paras_kept,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE md5(coalesce(lreb.td, '')) END AS line_md5
            FROM keep JOIN documents d ON d.doc_id = keep.doc_id
                 LEFT JOIN ps ON ps.doc_id = keep.doc_id
                 LEFT JOIN reb ON reb.doc_id = keep.doc_id
                 LEFT JOIN lreb ON lreb.doc_id = keep.doc_id""",
        "ngram_jaccard":
            f"""WITH t AS (SELECT doc_id AS id, list_distinct({toks}) AS sh
                           FROM documents),
                sizes AS (SELECT id, len(sh) AS sz FROM t),
                inv AS (SELECT id, unnest(sh) AS s FROM t),
                inter AS (SELECT a.id AS id1, b.id AS id2,
                                 COUNT(*) AS inter_c
                          FROM inv a JOIN inv b
                            ON a.s = b.s AND a.id < b.id
                          GROUP BY a.id, b.id),
                freq AS (SELECT s FROM inv GROUP BY s
                         HAVING COUNT(*) <= 400),
                ginv AS (SELECT id, inv.s FROM inv JOIN freq
                         ON inv.s = freq.s),
                ginter AS (SELECT a.id AS id1, b.id AS id2,
                                  COUNT(*) AS inter_c
                           FROM ginv a JOIN ginv b
                             ON a.s = b.s AND a.id < b.id
                           GROUP BY a.id, b.id)
            SELECT id1, id2,
                   round(inter_c / (s1.sz + s2.sz - inter_c), 6) AS jaccard,
                   FALSE AS guarded
            FROM inter JOIN sizes s1 ON inter.id1 = s1.id
                       JOIN sizes s2 ON inter.id2 = s2.id
            WHERE round(inter_c / (s1.sz + s2.sz - inter_c), 6) >= 0.3
            UNION ALL
            SELECT id1, id2,
                   round(inter_c / (s1.sz + s2.sz - inter_c), 6) AS jaccard,
                   TRUE AS guarded
            FROM ginter JOIN sizes s1 ON ginter.id1 = s1.id
                        JOIN sizes s2 ON ginter.id2 = s2.id
            WHERE round(inter_c / (s1.sz + s2.sz - inter_c), 6) >= 0.3""",
        "text_profile":
            f"""WITH stats AS (SELECT z.doc_id,
                CAST(len(t) AS BIGINT) AS n_tokens,
                CAST(coalesce(len(regexp_extract_all(d.text,
                    '{_bpe_pat_sql()}')), 0) AS BIGINT) AS n_bpe_tokens,
                CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
                (len(list_distinct(t)) * 20000 + greatest(len(t), 1))
                    // (2 * greatest(len(t), 1)) / 10000.0
                    AS type_token_ratio
                FROM (SELECT doc_id, {toks} AS t FROM documents) z
                JOIN documents d ON d.doc_id = z.doc_id),
            h AS (SELECT doc_id,
                len(list_intersect(list_distinct(t),
                    [{_MARKER_LIST['en']}])) AS hits_en,
                len(list_intersect(list_distinct(t),
                    [{_MARKER_LIST['de']}])) AS hits_de,
                len(list_intersect(list_distinct(t),
                    [{_MARKER_LIST['fr']}])) AS hits_fr,
                len(list_intersect(list_distinct(t),
                    [{_MARKER_LIST['es']}])) AS hits_es,
                len(list_intersect(list_distinct(t),
                    [{_MARKER_LIST['ru']}])) AS hits_ru
                FROM (SELECT doc_id, {toks} AS t FROM documents)),
            lang AS (SELECT doc_id, CASE
                WHEN greatest(hits_en, hits_de, hits_fr, hits_es, hits_ru)
                     = 0 THEN 'und'
                WHEN hits_ru = greatest(hits_en, hits_de, hits_fr, hits_es,
                     hits_ru) THEN 'ru'
                WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es)
                     THEN 'fr'
                WHEN hits_es = greatest(hits_en, hits_de, hits_es) THEN 'es'
                WHEN hits_en = greatest(hits_en, hits_de) THEN 'en'
                ELSE 'de' END AS lang_guess FROM h),
            fp AS (SELECT doc_id, md5(array_to_string(list_sort(
                list_distinct({toks})), ' ')) AS fingerprint_md5
                FROM documents),
            b AS (SELECT doc_id, text, {toks} AS t FROM documents),
            -- integer counts for the exact-integer 4dp rounding
            -- (matches the operator's _frac4 — double round() is not
            -- cross-engine stable at exact boundaries, e.g. 19/160);
            -- raw double ratios feed only the threshold flags
            c AS (SELECT doc_id,
                length(regexp_replace(text,
                    '[^!-/:-@\\[-`{{-~]', '', 'g')) AS pn,
                greatest(length(text), 1) AS pd,
                len(list_intersect(list_distinct(t), [{_STOPWORD_LIST}]))
                    AS sn,
                greatest(coalesce(len(list_distinct(t)), 0), 1) AS sd,
                len(list_distinct(t)) AS nd,
                len(t) AS ntok FROM b),
            qual AS (SELECT doc_id,
                (pn * 20000 + pd) // (2 * pd) / 10000.0 AS punct_ratio,
                (sn * 20000 + sd) // (2 * sd) / 10000.0
                    AS stopword_ratio,
                ((ntok - nd) * 20000 + greatest(ntok, 1))
                    // (2 * greatest(ntok, 1)) / 10000.0
                    AS repetition_ratio,
                ((CASE WHEN ntok BETWEEN 5 AND 100000
                       THEN 4000 ELSE 0 END)
                    + (CASE WHEN pn / pd < 0.2 THEN 2000 ELSE 0 END)
                    + (CASE WHEN 1.0 - nd / greatest(ntok, 1) < 0.9
                       THEN 2000 ELSE 0 END)
                    + least(2000, (coalesce(sn, 0) * 16000 + sd)
                            // (2 * sd))) / 10000.0
                    AS quality_score
                FROM c),
            sh13 AS (SELECT doc_id, CASE
                WHEN len(t) >= 13 THEN list_distinct(list_transform(
                    range(1, len(t) - 11),
                    i -> array_to_string(t[i:i+12], ' ')))
                WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                ELSE [] END AS sh
                FROM (SELECT doc_id, {toks} AS t FROM documents)),
            ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh13
                   WHERE doc_id IN (3, 7)),
            cont AS (SELECT DISTINCT doc_id FROM
                     (SELECT doc_id, unnest(sh) AS s FROM sh13) x
                     JOIN ev USING (s)),
            lnc AS (SELECT doc_id, v, count(*) AS c FROM
                (SELECT doc_id, unnest(list_filter(
                    string_split(text, chr(10)),
                    x -> regexp_matches(x, '\\S'))) AS v FROM documents) z
                GROUP BY doc_id, v),
            lagg AS (SELECT doc_id, sum(c) AS n, count(*) AS nd,
                sum(c * length(v)) AS chars,
                sum(CASE WHEN c >= 2 THEN (c - 1) * length(v)
                    ELSE 0 END) AS dupch FROM lnc GROUP BY doc_id),
            pac AS (SELECT doc_id, v, count(*) AS c FROM
                (SELECT doc_id, unnest(list_filter(
                    string_split_regex(text, '\\n{{2,}}'),
                    x -> regexp_matches(x, '\\S'))) AS v FROM documents) z
                GROUP BY doc_id, v),
            pagg AS (SELECT doc_id, sum(c) AS n, count(*) AS nd,
                sum(c * length(v)) AS chars,
                sum(CASE WHEN c >= 2 THEN (c - 1) * length(v)
                    ELSE 0 END) AS dupch FROM pac GROUP BY doc_id),
            gsrc AS (SELECT doc_id, ng.n AS n, ng.g AS g, count(*) AS c
                FROM (SELECT doc_id, unnest(flatten(list_transform(
                    [2, 3, 4, 5], nn -> CASE WHEN len(t) >= nn THEN
                        list_transform(range(1, len(t) - nn + 2),
                            i -> {{'n': nn, 'g': array_to_string(
                                t[i:i + nn - 1], ' ')}})
                    ELSE [] END))) AS ng
                    FROM (SELECT doc_id, {toks} AS t FROM documents) z) y
                GROUP BY doc_id, ng.n, ng.g),
            gagg AS (SELECT doc_id,
                max(CASE WHEN n = 2 THEN c * length(g) END) AS top2,
                max(CASE WHEN n = 3 THEN c * length(g) END) AS top3,
                max(CASE WHEN n = 4 THEN c * length(g) END) AS top4,
                sum(CASE WHEN n = 5 AND c >= 2 THEN c * length(g)
                    ELSE 0 END) AS dup5 FROM gsrc GROUP BY doc_id),
            tlen AS (SELECT doc_id, greatest(length(text), 1) AS tl
                     FROM documents)
            SELECT stats.doc_id, n_tokens, n_bpe_tokens,
                   n_distinct_tokens,
                   type_token_ratio, lang_guess, fingerprint_md5,
                   punct_ratio, stopword_ratio, repetition_ratio,
                   quality_score,
                   stats.doc_id IN (SELECT doc_id FROM cont)
                       AS contaminated,
                   CAST(coalesce(lagg.n, 0) AS BIGINT) AS n_lines,
                   -- half-up 4dp of the exact rational in INTEGER
                   -- space (matches the operator: floor((num*20000 +
                   -- den) // (2*den)) / 1e4 — double round() is not
                   -- cross-engine stable at exact .00005 boundaries)
                   coalesce(((lagg.n - lagg.nd) * 20000 + lagg.n)
                       // (lagg.n * 2) / 10000.0, 0.0)
                       AS dup_line_frac,
                   coalesce((lagg.dupch * 20000 + lagg.chars)
                       // (lagg.chars * 2) / 10000.0, 0.0)
                       AS dup_line_char_frac,
                   coalesce(((pagg.n - pagg.nd) * 20000 + pagg.n)
                       // (pagg.n * 2) / 10000.0, 0.0)
                       AS dup_para_frac,
                   coalesce((pagg.dupch * 20000 + pagg.chars)
                       // (pagg.chars * 2) / 10000.0, 0.0)
                       AS dup_para_char_frac,
                   coalesce((gagg.top2 * 20000 + tlen.tl)
                       // (tlen.tl * 2) / 10000.0, 0.0)
                       AS top_2gram_char_frac,
                   coalesce((gagg.top3 * 20000 + tlen.tl)
                       // (tlen.tl * 2) / 10000.0, 0.0)
                       AS top_3gram_char_frac,
                   coalesce((gagg.top4 * 20000 + tlen.tl)
                       // (tlen.tl * 2) / 10000.0, 0.0)
                       AS top_4gram_char_frac,
                   coalesce((gagg.dup5 * 20000 + tlen.tl)
                       // (tlen.tl * 2) / 10000.0, 0.0)
                       AS dup_5gram_char_frac
            FROM stats JOIN lang USING (doc_id)
                 JOIN fp USING (doc_id) JOIN qual USING (doc_id)
                 JOIN tlen ON tlen.doc_id = stats.doc_id
                 LEFT JOIN lagg ON lagg.doc_id = stats.doc_id
                 LEFT JOIN pagg ON pagg.doc_id = stats.doc_id
                 LEFT JOIN gagg ON gagg.doc_id = stats.doc_id""",
        "cosine_pairs":
            """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings
                          WHERE list_dot_product(embedding, embedding) > 0)
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""",
        "ann_topk":
            """WITH q AS (SELECT vec_id AS query_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                          FROM embeddings WHERE vec_id < 10),
                c AS (SELECT vec_id AS neighbor_id,
                      CAST(embedding AS DOUBLE[]) AS cv
                      FROM embeddings WHERE vec_id >= 10),
                s AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(cv, qv), 6) AS cosine
                      FROM c, q)
            SELECT query_id, neighbor_id, rank, cosine FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
            WHERE rank <= 5""",
        "ann_topk_ivf":
            """WITH q AS (SELECT vec_id AS query_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                          FROM embeddings WHERE vec_id < 10),
                c AS (SELECT vec_id AS neighbor_id,
                      CAST(embedding AS DOUBLE[]) AS cv
                      FROM embeddings WHERE vec_id >= 10),
                s AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(cv, qv), 6) AS cosine
                      FROM c, q)
            SELECT query_id, neighbor_id, rank, cosine,
                   TRUE AS approx_recall_ok FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
            WHERE rank <= 5""",
        "bloom_contract":
            # k20_effective_k: the oracle RE-DERIVES the quirk's k−1
            # from the published sizing formulas m* = ⌈−n·lnP/ln²2⌉,
            # k* = round(ln2·m/n) over the same orders table
            # (DynamicBloomHLLFilter.hpp:70-95 registers one fewer
            # hash function than k* — see q_bloom_contract)
            "SELECT CAST(0 AS BIGINT) AS false_negatives, "
            "CAST(20000 AS BIGINT) AS n_probes, TRUE AS fpr_ok, "
            "CAST(0 AS BIGINT) AS bad_probe_indices, TRUE AS sizing_ok, "
            "TRUE AS km_family_ok, TRUE AS seed_family_ok, "
            "CAST(GREATEST(1, ROUND(LN(2) * GREATEST(8, "
            "CEIL(-COUNT(DISTINCT o_orderkey) * LN(0.01) "
            "/ (LN(2) * LN(2)))) / COUNT(DISTINCT o_orderkey))) - 1 "
            "AS BIGINT) AS k20_effective_k, "
            "TRUE AS k20_quirk_ok FROM orders",
        "hll_bounds":
            "SELECT COUNT(DISTINCT l_partkey) AS exact_distinct, "
            "TRUE AS within_bound, TRUE AS byte_identical, "
            "TRUE AS matches_full_build, "
            "CAST(4096 AS BIGINT) AS m_registers, "
            "CAST(0.0 AS DOUBLE) AS empty_estimate, "
            # published Flajolet constants (HyperLogLog.cpp:69-77);
            # α_m for m>64 via the same IEEE expression
            "CAST(0.673 AS DOUBLE) AS alpha16, "
            "CAST(0.697 AS DOUBLE) AS alpha32, "
            "CAST(0.709 AS DOUBLE) AS alpha64, "
            "CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 4096.0)"
            " AS alpha4096, "
            "(SELECT COUNT(DISTINCT user_id) FROM events "
            " WHERE event_type = 'click' "
            " AND date_trunc('day', ts) >= TIMESTAMP '2024-01-05' "
            " AND date_trunc('day', ts) < TIMESTAMP '2024-01-12') "
            "  AS rollup_range_exact, "
            "TRUE AS rollup_merge_exact, TRUE AS rollup_within_bound, "
            "TRUE AS stream_cube_byte_identical, "
            "TRUE AS compact_preserves "
            "FROM lineitem",
        "hll_by_lang":
            "SELECT lang, COUNT(DISTINCT doc_id) AS exact_distinct, "
            "TRUE AS within_bound FROM documents GROUP BY lang",
        "cms_no_underestimate":
            # exact_join_rows is the strong value check for the CMS
            # inner-product join-size estimator's bracketing booleans
            "SELECT CAST(0 AS BIGINT) AS violations, "
            "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders "
            " JOIN lineitem ON o_orderkey = l_orderkey) "
            "  AS exact_join_rows, "
            "TRUE AS join_no_under, TRUE AS join_within_bound",
        "heavy_hitters_mg":
            f"""WITH tok AS (SELECT unnest({toks}) AS token
                             FROM documents),
                tot AS (SELECT COUNT(*) AS n FROM tok)
            SELECT token, COUNT(*) AS cnt FROM tok, tot
            GROUP BY token, tot.n HAVING COUNT(*) > tot.n / 257.0""",
        "ibf_reconcile":
            "SELECT o_orderkey, 'left_only' AS side FROM orders "
            "WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0 "
            "UNION ALL "
            "SELECT o_orderkey, 'right_only' AS side FROM orders "
            "WHERE o_orderkey % 89 <> 0 AND o_orderkey % 97 = 0 "
            "UNION ALL "
            "SELECT o_orderkey, 'rows_left_only' AS side FROM orders "
            "WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0 "
            "UNION ALL "
            "SELECT o_orderkey, 'rows_right_only' AS side FROM orders "
            "WHERE o_orderkey % 89 <> 0 AND o_orderkey % 97 = 0 "
            "UNION ALL "
            "SELECT o_orderkey, 'rows_changed' AS side FROM orders "
            "WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0 "
            "AND o_orderkey % 101 = 5",
        "quantile_bounds":
            "SELECT lang, TRUE AS grouped_ok, "
            "CAST(6 AS BIGINT) AS kll_n_quantiles, TRUE AS kll_ok, "
            "CAST(5 AS BIGINT) AS td_n_quantiles, TRUE AS td_ok, "
            "CAST(16 AS BIGINT) AS part_n_buckets, "
            "TRUE AS part_balanced_ok "
            "FROM documents GROUP BY lang",
        "counting_bloom_delete":
            "SELECT CAST(0 AS BIGINT) AS false_negatives",
        "cuckoo_contract":
            "SELECT CAST(0 AS BIGINT) AS bank_misses, "
            "CAST(0 AS BIGINT) AS insert_misses, "
            "CAST(0 AS BIGINT) AS survivors_missing, "
            "TRUE AS removed_absent_ok",
        "sharded_bloom":
            "SELECT CAST(1 AS BIGINT) AS all_shards_built, "
            "CAST(0 AS BIGINT) AS false_negatives, TRUE AS fpr_ok",
        "sharded_delete":
            "SELECT CAST(0 AS BIGINT) AS false_negatives, "
            "TRUE AS removed_mostly_absent, "
            "CAST(0 AS BIGINT) AS cuckoo_false_negatives, "
            "TRUE AS cuckoo_removed_mostly_absent, "
            "TRUE AS cuckoo_smaller",
        "ibf_recover":
            "SELECT COUNT(DISTINCT c_name) AS n_recovered, "
            "TRUE AS getvalue_ok FROM customer WHERE c_custkey <= 200",
        "collision_metrics":
            "SELECT TRUE AS ok",
        "theta_set_ops":
            "SELECT (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders "
            "UNION SELECT l_orderkey FROM lineitem)) AS exact_union, "
            "TRUE AS union_ok, "
            "(SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders "
            "INTERSECT SELECT DISTINCT l_orderkey FROM lineitem)) "
            "AS exact_inter, TRUE AS inter_ok, "
            "(SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders "
            "EXCEPT SELECT DISTINCT l_orderkey FROM lineitem)) "
            "AS exact_diff, TRUE AS diff_ok",
        "theta_grouped_overlap":
            """WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS exact_inter, TRUE AS within_bound
            FROM d a JOIN d b ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type""",
        "minhash_vs_exact":
            # cc_*: DuckDB recomputes the near-dup components with a
            # RECURSIVE reachability CTE over its own exact-jaccard
            # pairs (same shingle/jaccard derivation as the
            # ngram_jaccard oracle, threshold 0.8) — per-node MIN of
            # reachable ids == the operator's min-label fixpoint
            f"""WITH RECURSIVE
                t AS (SELECT doc_id AS id, list_distinct({toks}) AS sh
                      FROM documents),
                sizes AS (SELECT id, len(sh) AS sz FROM t),
                inv AS (SELECT id, unnest(sh) AS s FROM t),
                inter AS (SELECT a.id AS id1, b.id AS id2,
                                 COUNT(*) AS c
                          FROM inv a JOIN inv b
                            ON a.s = b.s AND a.id < b.id
                          GROUP BY 1, 2),
                p AS (SELECT id1, id2
                      FROM inter JOIN sizes s1 ON id1 = s1.id
                                 JOIN sizes s2 ON id2 = s2.id
                      WHERE round(c / (s1.sz + s2.sz - c), 6) >= 0.8),
                e AS (SELECT id1 AS u, id2 AS v FROM p
                      UNION SELECT id2, id1 FROM p),
                r AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM e)
                      UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
                comp AS (SELECT u, MIN(v) AS rep FROM r GROUP BY u)
            SELECT CAST(0 AS BIGINT) AS missing,
                   CAST(0 AS BIGINT) AS extra,
                   (SELECT COUNT(*) FROM comp) AS cc_nodes,
                   (SELECT COUNT(DISTINCT rep) FROM comp)
                       AS cc_components,
                   (SELECT CAST(COALESCE(SUM(rep), 0) AS BIGINT)
                    FROM comp) AS cc_rep_sum""",
        "simhash_complete":
            "SELECT CAST(0 AS BIGINT) AS mismatches",
        "lsh_bucket_caps":
            "SELECT CAST(0 AS BIGINT) AS mh_hot_pairs, "
            "CAST(0 AS BIGINT) AS mh_missing_base, "
            "TRUE AS caps_accounted, "
            "CAST(1 AS BIGINT) AS capped_rows_reported, "
            "CAST(0 AS BIGINT) AS sh_hot_pairs",
        "checkpoint_resume":
            "SELECT TRUE AS byte_identical, "
            "(SELECT COUNT(*) FROM events) AS n_rows, "
            "CAST(11 AS BIGINT) AS recomputed_shards, "
            "TRUE AS catalog_byte_identical",
        "pages_invariant":
            "SELECT CAST(0 AS BIGINT) AS mismatches, "
            "CAST(2000 AS BIGINT) AS n_rows",
        "multimodal":
            "SELECT r.range AS media_id, f.frame_idx, "
            "CAST(CASE WHEN f.frame_idx = 4 THEN 13 ELSE 64 END AS BIGINT) "
            "AS n_bytes, TRUE AS ok, "
            "CAST(16 AS INTEGER) AS n_features FROM range(100) r, "
            "(SELECT unnest([0, 2, 4]) AS frame_idx) f",
        "streaming_accumulate":
            "SELECT TRUE AS matches_batch, "
            "(SELECT COUNT(*) FROM documents) AS n_rows",
        "streaming_windowed":
            "WITH c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)"
            " AS w, event_type AS it, COUNT(*) AS cnt FROM events"
            " WHERE event_type IS NOT NULL GROUP BY 1, 2),"
            " r AS (SELECT w, it, cnt, ROW_NUMBER() OVER"
            " (PARTITION BY w ORDER BY cnt DESC, it ASC) AS rk FROM c),"
            " n AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)"
            " AS w, COUNT(*) AS n_rows,"
            # per-window exact discrete median: same rank convention as
            # the KLL exact path (element at first cum weight >= q*n)
            " quantile_disc(value, 0.5) AS p50 FROM events GROUP BY 1)"
            " SELECT r.w AS window_start, n.n_rows,"
            " TRUE AS within_bound, r.rk AS top_rank, r.it AS top_item,"
            " r.cnt AS top_count, n.p50 AS win_p50,"
            " TRUE AS ttl_flush_ok, TRUE AS slide_parity_ok"
            " FROM r JOIN n ON r.w = n.w WHERE r.rk <= 3",
        "streaming_dedup":
            "SELECT CAST(0 AS BIGINT) AS keys_emitted_twice, "
            "TRUE AS coverage_ok, TRUE AS true_dupes_suppressed",
        "token_budget":
            f"""WITH b AS (SELECT doc_id, text, {toks} AS tk
                           FROM documents),
            c AS (SELECT doc_id, len(tk) AS ntok,
                length(regexp_replace(text,
                    '[^!-/:-@\\[-`{{-~]', '', 'g')) AS pn,
                greatest(length(text), 1) AS pd,
                len(list_intersect(list_distinct(tk), [{_STOPWORD_LIST}]))
                    AS sn,
                greatest(coalesce(len(list_distinct(tk)), 0), 1) AS sd,
                len(list_distinct(tk)) AS nd
                FROM b),
            -- exact-integer score (matches the operator's basis-point
            -- form): a double round() boundary here could flip the
            -- quality ORDERING vs Spark and change the selected set
            q AS (SELECT doc_id, ntok,
                ((CASE WHEN ntok BETWEEN 5 AND 100000
                       THEN 4000 ELSE 0 END)
                    + (CASE WHEN pn / pd < 0.2 THEN 2000 ELSE 0 END)
                    + (CASE WHEN 1.0 - nd / greatest(ntok, 1) < 0.9
                       THEN 2000 ELSE 0 END)
                    + least(2000, (coalesce(sn, 0) * 16000 + sd)
                            // (2 * sd))) / 10000.0 AS qs FROM c),
            w AS (SELECT doc_id, SUM(ntok) OVER (
                    ORDER BY qs DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum FROM q),
            st AS (SELECT doc_id, SUM(ntok) OVER (
                    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - ntok
                    AS strt FROM c),
            tot AS (SELECT SUM(ntok) AS t FROM c)
            SELECT w.doc_id,
                   CAST(least(3, strt * 4 // t) AS BIGINT) AS shard
            FROM w JOIN st ON st.doc_id = w.doc_id, tot
            WHERE cum <= 10000""",
        "bloom_join":
            """WITH hot AS (SELECT o_orderkey FROM orders
                            WHERE o_totalprice > 400000)
            SELECT
              (SELECT COUNT(*) FROM lineitem
               WHERE l_orderkey IN (SELECT o_orderkey FROM hot)) AS n_semi,
              (SELECT CAST(COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0)
                           AS BIGINT)
               FROM lineitem
               WHERE l_orderkey IN (SELECT o_orderkey FROM hot))
                  AS semi_qty,
              (SELECT COUNT(*) FROM lineitem
               WHERE l_orderkey NOT IN (SELECT o_orderkey FROM hot))
                  AS n_anti,
              (SELECT CAST(COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0)
                           AS BIGINT)
               FROM lineitem
               WHERE l_orderkey NOT IN (SELECT o_orderkey FROM hot))
                  AS anti_qty,
              (SELECT COUNT(*) FROM orders
               WHERE o_orderkey % 19 = 0 AND o_orderkey < 1500)
                  AS n_pruned,
              (SELECT CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT)
               FROM orders
               WHERE o_orderkey % 19 = 0 AND o_orderkey < 1500)
                  AS pruned_sum,
              TRUE AS files_skipped""",
        "sampling_splits":
            # ws re-derives the A-ES draw EXACTLY: u from the first 52
            # bits of md5(doc_id '#' seed), score = -ln(u)/weight, top
            # 50 smallest — the same pure function of content the Spark
            # operator computes (operators/sampling.weighted_sample)
            "WITH ws AS (SELECT doc_id FROM ("
            "  SELECT doc_id, -ln((('0x' || substr(md5(doc_id::VARCHAR"
            "     || '#0'), 1, 13))::UBIGINT + 1) / 4503599627370496.0)"
            "   / GREATEST(length(text), 1)::DOUBLE AS score"
            "  FROM documents) ORDER BY score, doc_id LIMIT 50) "
            "SELECT (SELECT COUNT(*) FROM events) AS n_total, "
            "TRUE AS partitions_data, TRUE AS fractions_ok, "
            "CAST(0 AS BIGINT) AS keys_moved_on_relayout, "
            "TRUE AS sample_stable, TRUE AS sample_fraction_ok, "
            "(SELECT COUNT(*) FROM ws) AS weighted_k, "
            "(SELECT CAST(SUM(doc_id) AS BIGINT) FROM ws) "
            "  AS weighted_sum_ids, "
            "TRUE AS weighted_stable, TRUE AS weighted_scale_invariant",
        "stratified_take":
            "SELECT lang, CAST(LEAST(50, COUNT(*)) AS BIGINT) AS taken "
            "FROM documents GROUP BY lang ORDER BY lang",
        "prepare_corpus":
            # cc_policy_sum: the components-policy survivors are
            # recomputed independently — same exact pair set, RECURSIVE
            # reachability closure, per-component min representative;
            # quality is evaluated once over kept1 so both policies
            # filter the same scored set
            f"""WITH RECURSIVE kept1 AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text, row_number() OVER (
                        PARTITION BY text ORDER BY doc_id) AS rn
                    FROM documents) WHERE rn = 1),
            t AS (SELECT doc_id AS id, list_distinct({toks}) AS sh
                  FROM kept1),
            sizes AS (SELECT id, len(sh) AS sz FROM t),
            inv AS (SELECT id, unnest(sh) AS s FROM t),
            inter AS (SELECT a.id AS id1, b.id AS id2, COUNT(*) AS c
                      FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
                      GROUP BY a.id, b.id),
            pairs08 AS (SELECT id1, id2 FROM inter
                        JOIN sizes s1 ON id1 = s1.id
                        JOIN sizes s2 ON id2 = s2.id
                        WHERE round(c / (s1.sz + s2.sz - c), 6) >= 0.8),
            losers AS (SELECT DISTINCT id2 FROM pairs08),
            e AS (SELECT id1 AS u, id2 AS v FROM pairs08
                  UNION SELECT id2, id1 FROM pairs08),
            r AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM e)
                  UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
            compx AS (SELECT u, MIN(v) AS rep FROM r GROUP BY u),
            closers AS (SELECT u AS id2 FROM compx WHERE u <> rep),
            b2 AS (SELECT doc_id, text, {toks} AS tk FROM kept1),
            c2 AS (SELECT doc_id,
                length(regexp_replace(text,
                    '[^!-/:-@\\[-`{{-~]', '', 'g')) AS pn,
                greatest(length(text), 1) AS pd,
                len(list_intersect(list_distinct(tk), [{_STOPWORD_LIST}]))
                    AS sn,
                greatest(coalesce(len(list_distinct(tk)), 0), 1) AS sd,
                len(list_distinct(tk)) AS nd,
                len(tk) AS ntok FROM b2),
            good AS (SELECT doc_id FROM c2
                WHERE ((CASE WHEN ntok BETWEEN 5 AND 100000
                             THEN 4000 ELSE 0 END)
                    + (CASE WHEN pn / pd < 0.2 THEN 2000 ELSE 0 END)
                    + (CASE WHEN 1.0 - nd / greatest(ntok, 1) < 0.9
                       THEN 2000 ELSE 0 END)
                    + least(2000, (coalesce(sn, 0) * 16000 + sd)
                            // (2 * sd))) / 10000.0 >= 0.6)
            SELECT doc_id,
                   (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
                    FROM good WHERE doc_id NOT IN
                        (SELECT id2 FROM closers)) AS cc_policy_sum
            FROM good
            WHERE doc_id NOT IN (SELECT id2 FROM losers)""",
        "flagship_hll_bloom":
            f"SELECT COUNT(DISTINCT token) AS exact_distinct, "
            f"TRUE AS hll_within_bound, CAST(0 AS BIGINT) AS "
            f"false_negatives, TRUE AS fpr_within_bound, "
            f"TRUE AS multi_one_pass_ok FROM "
            f"(SELECT unnest({_SQL_TOKS}) AS token FROM documents)",
        "s6_seeded_users":
            "SELECT 1001 - range AS id, 'User' || CAST(1001 - range AS "
            "VARCHAR) AS name FROM range(1, 21)",
        "fixture_probes":
            "SELECT CAST(1000 AS BIGINT) AS n_lines, TRUE AS header_seen, "
            "CAST(0 AS BIGINT) AS absent_false_positives, "
            "CAST(10000 AS BIGINT) AS n_words, TRUE AS has_member, "
            "FALSE AS has_absent, "
            # header has 14 comma-separated fields; field[0] distinct =
            # 4 region values + the literal 'Region' header token
            "CAST(14 AS BIGINT) AS n_fields_header, "
            "CAST(5 AS BIGINT) AS distinct_regions",
        "string_digests":
            "SELECT doc_id, substr(text, 1, 77) || '...' AS preview, "
            "md5(text) AS md5_hex, sha256(text) AS sha256_hex, "
            # published-algorithm constants, independently recomputed:
            # SUM over 'word0'..'word99' of poly31/poly37 mod 1000003
            # and murmur3_32 (HashFunctions.cpp parity vectors)
            "CAST(80872690 AS BIGINT) AS poly31_checksum, "
            "CAST(84632070 AS BIGINT) AS poly37_checksum, "
            "CAST(207274462628 AS BIGINT) AS murmur3_checksum, "
            # H7 ascii-sum / squared-sum checksums RECOMPUTED here from
            # the same 'word0'..'word99' fixed strings (not pinned)
            "(SELECT CAST(SUM(list_sum(list_transform("
            "   string_split('word' || i, ''), c -> ascii(c))) % 1009"
            " ) AS BIGINT) FROM range(100) t(i)) AS ascii_sum_checksum, "
            "(SELECT CAST(SUM(list_sum(list_transform("
            "   string_split('word' || i, ''),"
            "   c -> ascii(c) * ascii(c))) % 1009"
            " ) AS BIGINT) FROM range(100) t(i)) AS ascii_sq_checksum, "
            # canonical-url parity: DuckDB RE-IMPLEMENTS the seven
            # canonicalization rules of operators/urls.py in SQL over
            # the same fixed adversarial list (_CANON_URLS feeds both
            # sides) and recomputes the joined md5
            f"""(WITH u AS (SELECT * FROM (VALUES {_canon_values()})
                            AS t(i, s)),
              a AS (SELECT i, regexp_replace(s, '^\\s+|\\s+$', '', 'g') AS s FROM u),
              b AS (SELECT i, regexp_replace(s, '#.*$', '') AS s FROM a),
              c AS (SELECT i,
                    lower(regexp_extract(s,
                      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
                    || substring(s, length(regexp_extract(s,
                      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) + 1)
                    AS s FROM b),
              d AS (SELECT i, regexp_replace(regexp_replace(s,
                      '^(http://[^/?#:]+):80($|[/?#])', '\\1\\2'),
                      '^(https://[^/?#:]+):443($|[/?#])', '\\1\\2')
                    AS s FROM c),
              e AS (SELECT i, s,
                    CASE WHEN strpos(s, '?') > 0
                         THEN substring(s, 1, strpos(s, '?') - 1)
                         ELSE s END AS base,
                    CASE WHEN strpos(s, '?') > 0
                         THEN substring(s, strpos(s, '?') + 1)
                         ELSE '' END AS q FROM d),
              f AS (SELECT i, s, base,
                    COALESCE(array_to_string(
                      list_filter(string_split(q, '&'),
                      p -> NOT regexp_matches(p,
                      '^(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid)(=|$)')),
                      '&'), '') AS kept FROM e),
              g AS (SELECT i, CASE WHEN strpos(s, '?') = 0 OR kept = ''
                              THEN base ELSE base || '?' || kept END
                    AS s FROM f),
              h AS (SELECT i, regexp_replace(s,
                      '^([a-z][a-z0-9+.-]*://[^/?#]+)/$', '\\1')
                    AS s FROM g)
              SELECT md5(string_agg(s, '|' ORDER BY i)) FROM h)
              AS canon_urls_md5, """
            # registrable-domain twin: lowercase, split on '.', keep
            # last 2 labels (3 when the last 2 form a known
            # multi-part suffix); IPv4 and <=2-label hosts unchanged
            f"""(SELECT md5(string_agg(rd, '|' ORDER BY i)) FROM (
                SELECT i, CASE
                  WHEN regexp_matches(h,
                       '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
                       OR len(parts) <= 2 THEN h
                  WHEN (parts[-2] || '.' || parts[-1])
                       IN ({_suffix_list()}) AND len(parts) >= 3
                       THEN parts[-3] || '.' || parts[-2] || '.'
                            || parts[-1]
                  ELSE parts[-2] || '.' || parts[-1] END AS rd
                FROM (SELECT i, h, string_split(h, '.') AS parts
                      FROM (SELECT i, regexp_replace(lower(s),
                                '\\.$', '') AS h
                            FROM (VALUES {_domain_values()})
                            t(i, s)))))
              AS domain_checksum, """
            # PII-scrub twin: the chain below is GENERATED from
            # operators/scrub.PII_RULES (single source), applied in
            # the same order with 'g'; hits via regexp_extract_all
            f"""(WITH p AS (SELECT * FROM (VALUES {_pii_values()})
                            AS t(i, s))
              SELECT md5(string_agg({_pii_scrub_sql('s')},
                         '|' ORDER BY i)) FROM p) AS pii_checksum,
              (SELECT CAST(SUM({_pii_count_sql('s')}) AS BIGINT)
               FROM (VALUES {_pii_values()}) t(i, s)) AS pii_hits """
            "FROM documents",
        "d1_collision_sweep":
            "SELECT CAST(5 AS BIGINT) AS n_points, TRUE AS monotonic, "
            "CAST(3 AS BIGINT) AS m_sweep_points, TRUE AS m_monotonic",
    }
