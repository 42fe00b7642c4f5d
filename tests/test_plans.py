"""North-star query pipelines over the synthetic pages table."""

import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.operators import assign_token_shards
from bloom_filters_spark.plans import (
    distinct_hosts, distinct_urls, flagship_hll_bloom, heavy_hitter_tokens,
    round_leading_order, seen_before, select_token_budget,
    text_length_quantiles)
from bloom_filters_spark.sources import generate_pages, words_df
from bloom_filters_spark.sources.fixtures import KNOWN_ABSENT, KNOWN_MEMBER


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 5000, partitions=8).cache()


def test_distinct_urls_and_hosts(spark, pages):
    r = distinct_urls(pages)
    exact = pages.select("url").distinct().count()
    assert abs(r["estimate"] - exact) / exact <= 4 * r["rel_error_bound"]
    rh = distinct_hosts(pages)
    exact_h = pages.select(
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)).distinct().count()
    assert abs(rh["estimate"] - exact_h) / exact_h <= 0.1


def test_seen_before(spark, pages):
    history = pages.where(F.col("warc_ts") < "2026-01-15")
    incoming = pages.where(F.col("warc_ts") >= "2026-01-15")
    marked = seen_before(history, incoming, "url", p=0.01)
    # every actually-seen url must be flagged (no false negatives)
    truly_seen = incoming.join(history.select("url").distinct(), "url",
                               "left_semi")
    flagged = marked.where("seen_before").select("url").distinct()
    missed = truly_seen.select("url").distinct().join(
        flagged, "url", "left_anti").count()
    assert missed == 0


def test_heavy_hitter_tokens(spark, pages):
    hh = heavy_hitter_tokens(pages, "text", k=10)
    rows = hh.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["cms_estimate"] >= r["cnt"]          # CMS never under
        assert r["cms_estimate"] <= r["cnt"] + 0.01 * r["cms_total"]


def test_text_length_quantiles(spark, pages):
    r = text_length_quantiles(pages)
    qs = r["quantiles"]
    assert qs[0.25] <= qs[0.5] <= qs[0.75] <= qs[0.99]
    import numpy as np
    lens = np.sort(np.array(
        [x[0] for x in pages.select(F.length("text")).collect()]))
    for q in (0.5, 0.95):
        rank = np.searchsorted(lens, qs[q]) / lens.size
        assert abs(rank - q) < 0.05


def test_round_leading_order():
    # P6 examples (Bloom_project/src/core/Bloom_project.cpp:4792-4800)
    assert round_leading_order(9537.0) == 10000
    assert round_leading_order(1234.0) == 1000
    assert round_leading_order(94.0) == 90


def test_flagship_hll_bloom(spark):
    words = words_df(spark, 10_000).cache()
    probes = spark.createDataFrame(
        [(KNOWN_MEMBER,), (KNOWN_ABSENT,)], "value string")
    r = flagship_hll_bloom(words, "value", p_hll=13, p_fpr=0.1,
                           probes=probes)
    exact = words.select("value").distinct().count()
    assert abs(r["hll_estimate"] - exact) / exact < 0.05
    got = {x["value"]: x["seen"] for x in r["probe_results"].collect()}
    assert got[KNOWN_MEMBER] is True      # present word found (:4829)
    assert got[KNOWN_ABSENT] is False     # absent word rejected (:4828)
    assert r["bloom_k"] >= 1 and r["bloom_m"] > 0
    words.unpersist()


def test_select_token_budget_distributed_cumsum(spark, sf_dir):
    """The range-partitioned cumulative sum must equal the global
    single-window cumsum exactly (any partition count), and the kept
    set must respect the budget."""
    from pyspark.sql import Window, functions as F
    from bloom_filters_spark.operators.textstats import (
        tokens_col, with_quality_score)
    from bloom_filters_spark.plans.queries import select_token_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    budget = 3000
    got = {r["doc_id"] for r in
           select_token_budget(docs, budget, partitions=5).collect()}
    got2 = {r["doc_id"] for r in
            select_token_budget(docs, budget, partitions=17).collect()}
    assert got == got2                      # partition-count independent

    scored = (with_quality_score(docs)
              .withColumn("ntok", F.size(tokens_col("text"))))
    w = Window.orderBy(F.desc("quality_score"), F.asc("doc_id")) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = scored.withColumn("cum", F.sum("ntok").over(w)) \
        .where(F.col("cum") <= budget)
    assert got == {r["doc_id"] for r in ref.collect()}
    total = (scored.where(F.col("doc_id").isin(list(got)))
             .agg(F.sum("ntok")).first()[0])
    assert total <= budget


def test_select_token_budget_null_text_partitions(spark):
    """A range partition holding ONLY NULL-text rows (the quality-0
    tail of a crawl table) used to sum to a NULL partial total and
    crash the driver-side offset fold (int(None)). NULL text counts
    as 0 tokens; the real docs' selection is unaffected."""
    from bloom_filters_spark.plans.queries import select_token_budget

    rows = [(i, f"solid text with tokens number {i} inside it ok")
            for i in range(40)]
    rows += [(1000 + j, None) for j in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(r["doc_id"] for r in
                 select_token_budget(df, 250, partitions=8).collect())
    assert got                                # selected something
    assert all(i < 1000 for i in got)         # budget bound real docs


@pytest.mark.parametrize("partitions", [1, 3])
def test_select_token_budget_tied_rows(spark, partitions):
    """Rows tied on (quality_score, doc_id) are counted one at a time
    (the row-prefix sum), not summed as window peers: two exact
    10-token copies of doc 1 each used to see a running total of 20,
    so a budget of 10 or 15 kept nothing."""
    ten = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, ten), (1, ten), (2, " ".join(f"w{i}" for i in range(5)))],
        "doc_id long, text string")
    for budget, want in ((10, [1]), (15, [1]), (25, [1, 1, 2])):
        got = sorted(r["doc_id"] for r in select_token_budget(
            df, budget, partitions=partitions).collect())
        assert got == want, (budget, got)


def test_select_token_budget_checkpoints_read_columns(spark, final_plan):
    """The prefix-sum checkpoint holds the caller's columns plus the
    score, not the quality battery's unread ratio columns."""
    df = spark.createDataFrame([(1, "one two three four five"),
                                (2, "six seven")], "doc_id long, text string")
    out = select_token_budget(df, 100, partitions=2)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    plan = final_plan(out)
    assert "Scan ExistingRDD[doc_id" in plan, plan
    assert "punct_ratio" not in plan, plan


@pytest.mark.parametrize("call, arg, budget", [
    (select_token_budget, 3000, 8),
    (assign_token_shards, 4, 7),
], ids=["select_token_budget", "assign_token_shards"])
def test_token_prefix_sum_job_budget(spark, sf_dir, job_count, call, arg,
                                     budget):
    """One range cut, materialized once, serves the totals job and the
    caller's action: the call plus a count stays within its job budget."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    with job_count(f"bfs-{call.__name__}") as jobs:
        call(docs, arg, partitions=5).count()
    assert jobs[0] <= budget, jobs


def test_prepare_corpus_components_policy(spark):
    """near_dedup_policy='components' keeps exactly one doc per
    near-dup cluster where greedy can keep two: docs 1/3/5 are one
    cluster whose pair graph is the star 5-1, 5-3 (1 and 3 are near
    5 but not quite each other), so greedy keeps 1 AND 3 while
    components keeps only 1. Quality filter disabled to isolate the
    policy."""
    from bloom_filters_spark.plans.queries import prepare_corpus

    base = "the quick brown fox jumps over the lazy dog tonight ok"
    docs = spark.createDataFrame(
        [(1, base + " alpha beta"),
         (3, base + " gamma delta"),
         (5, base + " alpha gamma"),
         (9, "completely different words about spark sketches here now")],
        "doc_id long, text string")
    kw = dict(jaccard_threshold=0.75, min_quality=0.0, num_perm=64,
              bands=16)
    greedy = sorted(r["doc_id"] for r in
                    prepare_corpus(docs, **kw).collect())
    comp = sorted(r["doc_id"] for r in
                  prepare_corpus(docs, near_dedup_policy="components",
                                 **kw).collect())
    assert greedy == [1, 3, 9]
    assert comp == [1, 9]
    # the components path materializes its exact-dedup result without
    # leaving it in the session cache once the call returns
    from bloom_filters_spark.operators.dedup import dedup_exact
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.lookupCachedData(
        dedup_exact(docs, "text", "doc_id")._jdf).isDefined()
    import pytest as _pytest
    with _pytest.raises(ValueError):
        prepare_corpus(docs, near_dedup_policy="nope")


def test_prepare_corpus_one_query_and_job_budget(spark, tmp_path,
                                                 final_plan, job_count):
    """The default (greedy) chain is one query: nothing is cached
    (each reference to a cached frame is its own job and blocks
    exchange reuse), so AQE reuses the exact-dedup shuffle for every
    consumer, and the MinHash kernel runs once (one MapInPandas).
    Writing the result stays within its Spark job budget."""
    import numpy as np
    from bloom_filters_spark.plans.queries import prepare_corpus

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(400)]
    texts = []
    for i in range(120):
        if i % 10 == 1:
            texts.append(texts[i - 1] + " extra")      # near-dup of i-1
        elif i % 10 == 2:
            texts.append(texts[i - 2])                 # exact dup of i-2
        else:
            texts.append(" ".join(rng.choice(vocab, rng.integers(15, 30))))
    src = str(tmp_path / "docs")
    (spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
     .repartition(4).write.parquet(src))
    docs = spark.read.schema("doc_id long, text string").parquet(src)
    kw = dict(shingle=3, bucket_cap=2048, jaccard_threshold=0.8,
              min_quality=0.0)

    out = prepare_corpus(docs, **kw)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [i for i in range(120) if i % 10 not in (1, 2)]
    plan = final_plan(out)
    assert plan.count("MapInPandas") == 1
    assert "TableCacheQueryStage" not in plan

    with job_count("bfs-prepare-corpus") as jobs:
        prepare_corpus(docs, **kw).write.parquet(str(tmp_path / "kept"))
    assert jobs[0] <= 10, jobs


def test_prepare_corpus_optional_stages(spark):
    from bloom_filters_spark.plans.queries import prepare_corpus
    import pyspark.sql.functions as F
    base = ("the quick brown fox jumps over the lazy dog and then "
            "it is a fine day for all of us to see that")
    docs = spark.createDataFrame(
        [(1, base),
         # heavy duplicate lines, token set disjoint enough from base
         # that the near-dup stage (jaccard 0.9) keeps it
         (2, "spam ham\n" * 30 + "totally different words appear now"),
         (3, "mail me at a@b.co " + base)],
        "doc_id long, text string")
    # defaults: stages 4-5 off -> all three survive (distinct, quality ok)
    kept = prepare_corpus(docs, min_quality=0.3, jaccard_threshold=0.9)
    assert {r["doc_id"] for r in kept.collect()} == {1, 2, 3}
    # repetition gate drops the duplicate-line doc only
    gated = prepare_corpus(docs, min_quality=0.3, jaccard_threshold=0.9,
                           max_dup_line_frac=0.5)
    assert {r["doc_id"] for r in gated.collect()} == {1, 3}
    # pii scrub rewrites the output text, after dedup/scoring
    scrubbed = prepare_corpus(docs, min_quality=0.3,
                              jaccard_threshold=0.9, pii_scrub=True)
    t3 = {r["doc_id"]: r["text"] for r in scrubbed.collect()}[3]
    assert t3.startswith("mail me at <EMAIL> ")


def test_corpus_report(spark):
    from bloom_filters_spark.plans.queries import corpus_report
    docs = spark.createDataFrame(
        [(1, "a b c d e", "en"),
         (2, "a b c d e", "en"),        # exact dup
         (3, "x y", "de"),
         (4, None, None),
         (5, "", "fr")],
        "doc_id long, text string, lang string")
    rep = corpus_report(docs)
    assert rep["n_docs"] == 5 and rep["n_text_docs"] == 4
    assert rep["total_tokens"] == 12           # 5 + 5 + 2 + 0 + 0
    assert rep["n_distinct_texts"] == 3        # dup collapses; '' counts
    assert rep["n_distinct_langs"] == 3
    assert rep["n_distinct_tokens"] == 7       # a b c d e x y
    assert rep["hll_within_bound"] and rep["kll_rank_ok"]
    assert rep["total_bpe_tokens"] > 0
    # lang_col=None path
    rep2 = corpus_report(docs.select("doc_id", "text"), lang_col=None)
    assert rep2["n_distinct_langs"] is None
    assert rep2["n_docs"] == 5


def test_corpus_report_empty_and_tied_median(spark):
    from bloom_filters_spark.plans.queries import corpus_report
    # empty corpus: explicit zeros, no crash on NULL sums / NaN quantile
    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    rep = corpus_report(empty)
    assert rep["n_docs"] == 0 and rep["total_tokens"] == 0
    assert rep["kll_rank_ok"] and rep["hll_within_bound"]
    # heavy atom AT the median (60% empty text -> p50 token count = 0,
    # rank(<=0)=0.6): the rank-INTERVAL bound must accept a correct
    # sketch (the two-sided rank(<=v) bound wrongly rejected this)
    rows = [(i, "", "en") for i in range(60)]
    rows += [(100 + i, f"w{i} x y z q", "en") for i in range(40)]
    tied = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    rep2 = corpus_report(tied)
    assert rep2["kll_p50_tokens"] == 0.0
    assert rep2["kll_rank_ok"]


def test_select_token_budget_empty_input(spark):
    """No rows → no partition totals → no offsets: empty out, no error."""
    from bloom_filters_spark.plans.queries import select_token_budget

    df = spark.createDataFrame([], "doc_id long, text string")
    out = select_token_budget(df, 100, partitions=4)
    assert out.columns == ["doc_id", "text"]
    assert out.collect() == []
