"""North-star end-to-end queries (SURVEY.md §3, BASELINE.json north_star).

Each is a named pipeline over a pages-shaped or documents-shaped table:
  - distinct_urls / distinct_hosts  (HLL cardinality)
  - seen_before                     (Bloom membership probe)
  - heavy_hitter_tokens             (count-min + exact candidate top-k)
  - text_length_quantiles           (KLL)
  - flagship_hll_bloom              (EP3: HLL → sized DynBloom → probes)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..kernels import (BloomSketch, CountMinSketch, HLLSketch, KLLSketch,
                       MultiSketch)
from ..operators.agg import build_sketch, cms_lookup, probe_membership
from ..operators.partitioning import range_prefix_sums
from ..operators.relational import top_k_by_count
from ..operators.textstats import tokenize

HOST_RE = r"^[a-z]+://([^/]+)"


def host_col(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), HOST_RE, 1)


def distinct_urls(df: DataFrame, p: int = 12) -> dict:
    sk, n = build_sketch(df, "url", lambda: HLLSketch(p))
    return {"estimate": sk.estimate(), "n_rows": n,
            "rel_error_bound": sk.relative_error, "sketch": sk}


def distinct_hosts(df: DataFrame, p: int = 12, url_col: str = "url") -> dict:
    hosts = df.select(host_col(url_col).alias("host"))
    sk, n = build_sketch(hosts, "host", lambda: HLLSketch(p))
    return {"estimate": sk.estimate(), "n_rows": n,
            "rel_error_bound": sk.relative_error, "sketch": sk}


def seen_before(history: DataFrame, incoming: DataFrame, col: str = "url",
                p: float = 0.01, capacity: int | None = None) -> DataFrame:
    """Mark incoming rows whose key was (probably) seen in history.
    False ⇒ definitely new (no false negatives) — the dedup guard."""
    if capacity is None:
        # size from an HLL estimate (one cheap extra pass on history)
        est, _ = build_sketch(history, col, lambda: HLLSketch(12))
        capacity = max(1024, int(est.estimate() * 1.2))
    bf, _ = build_sketch(history, col,
                         lambda: BloomSketch.from_capacity(capacity, p))
    return probe_membership(incoming, col, bf, out_col="seen_before")


def seen_before_onepass(history: DataFrame, incoming: DataFrame,
                        col: str = "url", p: float = 0.01,
                        hll_p: int = 13) -> dict:
    """ONE-scan seen-before: HLL + Bloom built together (MultiSketch).

    ``seen_before`` spends a scan on HLL sizing before the Bloom scan;
    here the Bloom capacity comes from the table ROW COUNT — an upper
    bound on NDV that columnar sources (parquet/Iceberg) answer from
    footer metadata without scanning data — so the whole build is one
    pass, and the HLL rides along in the same pass for reporting and
    post-hoc sizing validation. Cost of the bound: the bit array is
    oversized by the duplicate ratio (rows/NDV); at scale that trade
    (memory for a full scan) is nearly always right.
    → dict(seen DataFrame, hll, bloom, n_rows)."""
    n_upper = max(1024, history.count())
    multi, n = build_sketch(
        history, col,
        lambda: MultiSketch([HLLSketch(hll_p),
                             BloomSketch.from_capacity(n_upper, p)]))
    probed = probe_membership(incoming, col, multi[1],
                              out_col="seen_before")
    return {"seen": probed, "hll": multi[0], "bloom": multi[1],
            "n_rows": n}


def heavy_hitter_tokens(df: DataFrame, text_col: str = "text", k: int = 20,
                        depth: int = 5, width: int = 1 << 14) -> DataFrame:
    """Top-k tokens: exact groupBy candidates (cheap at any scale thanks
    to partial aggregation) + CMS estimates beside the exact counts —
    the sketch answers point lookups at 100 TB without the groupBy."""
    toks = tokenize(df.select(text_col), text_col)
    cms, total = build_sketch(toks, "token",
                              lambda: CountMinSketch(depth, width))
    top = top_k_by_count(toks, "token", k)
    return (cms_lookup(top, "token", cms, out_col="cms_estimate")
            .withColumn("cms_total", F.lit(total)))


def text_length_quantiles(df: DataFrame, text_col: str = "text",
                          qs=(0.25, 0.5, 0.75, 0.95, 0.99),
                          kll_k: int = 200) -> dict:
    lens = df.select(F.length(F.col(text_col)).alias("len"))
    sk, n = build_sketch(lens, "len", lambda: KLLSketch(kll_k),
                         value_based=True)
    return {"quantiles": {q: sk.quantile(q) for q in qs}, "n_rows": n,
            "sketch": sk}


def prepare_corpus(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", *,
                   jaccard_threshold: float = 0.8,
                   min_quality: float = 0.6,
                   num_perm: int = 128, bands: int = 32,
                   bucket_cap: int | None = None,
                   shingle: int = 1,
                   near_dedup_policy: str = "greedy",
                   max_dup_line_frac: float | None = None,
                   max_top_2gram_char_frac: float | None = None,
                   pii_scrub: bool = False) -> DataFrame:
    """End-to-end training-corpus preparation — the composition a data
    pipeline actually runs, built from the library's own operators:

      1. EXACT dedup, keep-first (smallest id per distinct text);
      2. NEAR-DUP dedup: MinHash-LSH candidates, exact-jaccard
         verified; ``near_dedup_policy`` picks the keep rule —
         ``"greedy"`` (default) drops any doc with a verified
         near-dup of smaller id (deterministic, one anti-join, zero
         extra rounds), ``"components"`` keeps exactly ONE doc per
         connected component of the pair graph
         (``dedup_by_components`` — the Lee et al. 2021
         cluster-level policy; O(log n) label-propagation rounds,
         strictly stronger: greedy can keep 2+ docs of one cluster
         when a member's neighbours are all larger);
      3. QUALITY filter: keep docs with quality_score >= min_quality;
      4. (opt-in) GOPHER repetition gates: ``max_dup_line_frac`` /
         ``max_top_2gram_char_frac`` drop docs above the threshold
         (``repetition_stats``, run on the exact-dedup survivors);
      5. (opt-in) ``pii_scrub=True`` replaces ``text_col`` with the
         scrubbed form (``scrub_pii_col``) in the OUTPUT — scrubbing
         runs last so dedup keys and quality scores see the original
         bytes.

    Returns the surviving rows of ``df``. Every stage is the scale
    path (hash-keyed shuffle, zero-shuffle signatures + one capped
    grouped bucket pass, pure-JVM scoring); the default greedy chain
    is one query in which each subplan is evaluated once. Defaults
    leave stages 4-5 off — the prepare_corpus oracle row pins the
    default chain byte-stable."""
    from ..operators import dedup as dd
    from ..operators.textstats import with_quality_score

    if near_dedup_policy not in ("greedy", "components"):
        raise ValueError(f"unknown near_dedup_policy {near_dedup_policy!r}"
                         " (greedy | components)")

    # The exact-dedup result feeds ~5 consumers (signature build, the
    # verify token table, the loser anti-join, quality scoring). On the
    # greedy path the whole chain is ONE query, so AQE reuses the
    # exact-dedup shuffle for all of them (ReusedExchange). Persisting
    # here would turn every reference into its own cache query stage
    # (one job each) and block exchange reuse beneath the cache.
    kept = dd.dedup_exact(df, text_col, id_col)
    if near_dedup_policy == "components":
        # label propagation runs separate actions that cannot share
        # one plan's shuffle: materialize the exact-dedup result once.
        # A local checkpoint, not a persist: its blocks are released
        # once the frame is unreferenced, so nothing outlives the call.
        kept = kept.localCheckpoint()
    pairs = dd.neardup_minhash(kept, id_col, text_col,
                               threshold=jaccard_threshold,
                               num_perm=num_perm, bands=bands,
                               shingle=shingle, bucket_cap=bucket_cap)
    if near_dedup_policy == "components":
        kept = dd.dedup_by_components(kept, pairs, id_col)
    else:
        losers = pairs.select(F.col("id2").alias(id_col)).distinct()
        kept = kept.join(losers, id_col, "left_anti")
    scored = with_quality_score(kept)
    out = (scored.where(F.col("quality_score") >= min_quality)
           .select(*df.columns))
    if max_dup_line_frac is not None or max_top_2gram_char_frac is not None:
        from ..operators.textstats import repetition_stats
        # materialize the survivors once: repetition_stats re-scans its
        # input per family and the semi join would otherwise re-execute
        # the whole LSH/verify/anti-join pipeline on BOTH join sides
        out = out.localCheckpoint(eager=True)
        # only the gated families are computed — the gram battery (the
        # expensive shuffle family) is skipped for a line-only gate
        fams = tuple([f for f, on in (
            ("lines", max_dup_line_frac is not None),
            ("grams", max_top_2gram_char_frac is not None)) if on])
        rep = repetition_stats(out.select(id_col, text_col),
                               id_col, text_col, families=fams)
        cond = F.lit(True)
        if max_dup_line_frac is not None:
            cond = cond & (F.col("dup_line_frac") <= max_dup_line_frac)
        if max_top_2gram_char_frac is not None:
            cond = cond & (F.col("top_2gram_char_frac")
                           <= max_top_2gram_char_frac)
        out = out.join(rep.where(cond).select(id_col), id_col, "semi")
    if pii_scrub:
        from ..operators.scrub import scrub_pii_col
        out = out.withColumn(text_col, scrub_pii_col(text_col))
    return out


def select_token_budget(df: DataFrame, budget_tokens: int, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        partitions: int = 32) -> DataFrame:
    """Fill a token budget with the best documents: rank by
    quality_score (desc, id tiebreak) and keep rows while the running
    token total stays within ``budget_tokens`` — "take the best N
    tokens", the selection step after corpus prep.

    A row is kept when its own tokens plus those of every row ranked
    before it fit the budget: a row-prefix sum, with rows tied on
    (score, id) ordered by a hash of the whole row, never summed as
    peers. NULL text counts 0 tokens, as a SQL ``SUM`` skips NULLs.

    The running total is ``range_prefix_sums``' DISTRIBUTED cumulative
    sum, not a global single-partition window: a range repartition on
    the rank order, a per-partition totals aggregate folded on the
    driver into literal offsets, and a per-partition window that runs
    in the caller's action. No node ever sorts more than its range
    slice."""
    from ..operators.textstats import tokens_col, with_quality_score

    # checkpoint (and hash into ``__tie``) only the columns read or returned
    scored = with_quality_score(df).select(
        *[c for c in df.columns if c != "quality_score"], "quality_score")
    ranked, _ = range_prefix_sums(
        scored, F.size(tokens_col(text_col)),
        [F.desc("quality_score"), F.asc(id_col)], partitions)
    return (ranked.where(F.col("__start") + F.col("__w") <= budget_tokens)
            .select(*df.columns))


def round_leading_order(x: float) -> int:
    """P6: round an estimate to its leading-digit order of magnitude
    (Bloom_project/src/core/Bloom_project.cpp:4792-4800)."""
    if x <= 0:
        return 0
    mag = 10 ** math.floor(math.log10(x))
    return int(round(x / mag) * mag)


def flagship_hll_bloom(df: DataFrame, col: str, *, p_hll: int = 13,
                       p_fpr: float = 0.1, probes: DataFrame | None = None,
                       probe_col: str | None = None) -> dict:
    """EP3, the reference's showcase composition
    (Bloom_project/src/core/Bloom_project.cpp:4744-4834):

    job1: HLL(p=13) over the column → n̂;
    driver: round n̂ to leading order (P6), size DynBloom(m*, k*) from
            (n̂, p) — the clean K19 formulas;
    job2: Bloom build over the same column;
    job3: broadcast-probe a probe set; report membership + stats.
    """
    hll, n_rows = build_sketch(df, col, lambda: HLLSketch(p_hll))
    est = hll.estimate()
    rounded = max(10, round_leading_order(est))
    bf, _ = build_sketch(df, col,
                         lambda: BloomSketch.from_capacity(rounded, p_fpr))
    out = {
        "hll_estimate": est,
        "rounded_capacity": rounded,
        "bloom_m": bf.m, "bloom_k": bf.k,
        "bloom_size_bytes": bf.size_bytes,
        "theoretical_fpr": bf.theoretical_fpr(),
        "n_rows": n_rows,
        "sketch": bf, "hll": hll,
    }
    if probes is not None:
        probed = probe_membership(probes, probe_col or col, bf)
        out["probe_results"] = probed
    return out


def corpus_report(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  lang_col: str | None = "lang", *,
                  hll_p: int = 13, kll_k: int = 200) -> dict:
    """One-call dataset-card summary — the numbers a corpus release
    writes down, each from the library's own scale path:

    exact (one aggregation pass + one distinct pass):
      ``n_docs``, ``n_text_docs`` (non-NULL text), ``total_tokens``
      (whitespace), ``total_bpe_tokens`` (BPE-ish pre-tokens),
      ``n_distinct_texts`` (by the 128-bit dedup fingerprint — equal
      to COUNT(DISTINCT text) short of a 2^-64 collision),
      ``n_distinct_langs``, ``n_distinct_tokens`` (exact);
    sketch-backed (mergeable partials, the 100 TB path):
      ``hll_tokens_est`` (HLL(p) distinct tokens) with
      ``hll_within_bound`` (|est − exact| ≤ 3·1.04/√m · exact),
      ``kll_p50_tokens`` / ``kll_p90_tokens`` (per-doc whitespace
      token-count quantiles) with ``kll_rank_ok`` (each estimate's
      EXACT rank within ±(ε + 1/n), ε = 0.04 for KLL(200) — the same
      tolerance the quantile_bounds oracle row uses).

    Returns a plain dict (driver-side scalars; the heavy work ran as
    DataFrame jobs). Sketch estimates are deterministic — content-
    addressed hashing, no RNG."""
    from ..kernels import HLLSketch, KLLSketch
    from ..operators.agg import build_sketch
    from ..operators.dedup import _text_fingerprint
    from ..operators.textstats import (bpe_token_count_col, tokenize,
                                       tokens_col)

    h1, h2 = _text_fingerprint(text_col)
    aggs = [
        F.count("*").alias("n_docs"),
        F.count(text_col).alias("n_text_docs"),
        F.sum(F.coalesce(F.size(tokens_col(text_col)), F.lit(0)))
         .alias("total_tokens"),
        F.sum(bpe_token_count_col(text_col)).alias("total_bpe_tokens"),
        # NULL-gate the fingerprint halves: Spark's xxhash64 SKIPS null
        # fields (it returns a seed-derived constant, never NULL), so
        # an ungated countDistinct would count the NULL-text group as
        # one distinct "text" while SQL COUNT(DISTINCT text) excludes
        # NULLs — the corpus_report unit test caught the mismatch
        F.countDistinct(
            F.when(F.col(text_col).isNotNull(), h1),
            F.when(F.col(text_col).isNotNull(), h2))
         .alias("n_distinct_texts"),
    ]
    if lang_col is not None:
        aggs.append(F.countDistinct(lang_col).alias("n_distinct_langs"))
    row = df.agg(*aggs).first().asDict()
    if lang_col is None:
        row["n_distinct_langs"] = None
    if row["n_docs"] == 0:
        # degenerate report: SUM over zero rows is NULL and the KLL
        # quantile of nothing is NaN — return explicit zeros instead
        # of crashing the caller's int()/float() coercions
        row.update({"total_tokens": 0, "total_bpe_tokens": 0,
                    "n_distinct_tokens": 0, "hll_tokens_est": 0.0,
                    "hll_within_bound": True, "kll_p50_tokens": 0.0,
                    "kll_p90_tokens": 0.0, "kll_rank_ok": True})
        if lang_col is not None:
            row["n_distinct_langs"] = 0
        return row

    toks = tokenize(df.select(text_col), text_col).select("token")
    row["n_distinct_tokens"] = toks.distinct().count()
    hll, _ = build_sketch(toks, "token", lambda: HLLSketch(hll_p))
    est = float(hll.estimate())
    row["hll_tokens_est"] = est
    exact = row["n_distinct_tokens"]
    row["hll_within_bound"] = bool(
        abs(est - exact) <= 3 * 1.04 / (2 ** hll_p) ** 0.5 * max(exact, 1))

    lens = df.select(F.coalesce(F.size(tokens_col(text_col)), F.lit(0))
                     .alias("__n"))
    kll, n = build_sketch(lens, "__n", lambda: KLLSketch(kll_k),
                          value_based=True)
    p50, p90 = float(kll.quantile(0.5)), float(kll.quantile(0.9))
    row["kll_p50_tokens"], row["kll_p90_tokens"] = p50, p90
    # The KLL guarantee is on the RANK INTERVAL of the returned value:
    # rank(< v) - eps*n <= q*n <= rank(<= v) + eps*n. A two-sided
    # bound on rank(<= v) alone is WRONG under ties: with a heavy
    # atom at the quantile (e.g. 60% of docs at token count 0, so
    # p50 = 0 and rank(<= 0) = 0.6), a perfectly correct sketch would
    # read as out-of-bound.
    ranks = lens.agg(
        (F.sum(F.when(F.col("__n") <= p50, 1).otherwise(0)) / n)
        .alias("le50"),
        (F.sum(F.when(F.col("__n") < p50, 1).otherwise(0)) / n)
        .alias("lt50"),
        (F.sum(F.when(F.col("__n") <= p90, 1).otherwise(0)) / n)
        .alias("le90"),
        (F.sum(F.when(F.col("__n") < p90, 1).otherwise(0)) / n)
        .alias("lt90")).first()
    tol = 0.04 + 1.0 / max(n, 1)
    row["kll_rank_ok"] = bool(
        float(ranks["le50"]) >= 0.5 - tol
        and float(ranks["lt50"]) <= 0.5 + tol
        and float(ranks["le90"]) >= 0.9 - tol
        and float(ranks["lt90"]) <= 0.9 + tol)
    return row
