"""Pages fixture determinism + the per-url text extraction invariant."""

import numpy as np
from pyspark.sql import functions as F

from bloom_filters_spark.functions.textnorm import (
    extract_text_scalar, with_extracted_text)
from bloom_filters_spark.sources import generate_pages, users_df, words_df
from bloom_filters_spark.sources.fixtures import KNOWN_ABSENT, KNOWN_MEMBER


def test_pages_schema_and_determinism(spark):
    df = generate_pages(spark, 2000, partitions=4)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    # partitioning must not change content (content-addressed generation)
    a = sorted(generate_pages(spark, 500, partitions=2)
               .select("url", "text").collect())
    b = sorted(generate_pages(spark, 500, partitions=7)
               .select("url", "text").collect())
    assert a == b


def test_pages_have_host_skew_and_dups(spark):
    df = generate_pages(spark, 5000, partitions=8).cache()
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    top = (df.groupBy(host.alias("host")).count()
           .orderBy(F.desc("count")).first())
    n_hosts = df.select(host.alias("h")).distinct().count()
    assert top["count"] > 5000 / n_hosts * 5      # zipf head is heavy
    n, nd = df.count(), df.select("url").distinct().count()
    assert nd < n                                  # duplicates exist
    # duplicate urls carry identical text (per-url invariant precondition)
    bad = (df.groupBy("url").agg(F.countDistinct("text").alias("nt"))
           .where("nt > 1").count())
    assert bad == 0
    df.unpersist()


def test_extract_text_invariant_byte_identical(spark):
    """north_rule: extracted text byte-identical per url, pipeline vs
    scalar reference implementation."""
    df = generate_pages(spark, 1000, partitions=4)
    ex = with_extracted_text(df)
    assert ex.where(F.col("extracted_text") != F.col("text")).count() == 0
    # cross-check the scalar reference on a sample
    for row in df.limit(50).collect():
        assert extract_text_scalar(bytes(row["html"])) == row["text"]


def test_pages_checksum_pinned_and_high_ids_keep_duplicate_rate(spark):
    """Page content for low ids is pinned (xxhash64 XOR over every
    column), and ids near 10^12 keep the low range's distinct-text
    ratio: word seeds stay exact integers instead of float64-rounded
    ones that repeat words and duplicate whole texts."""
    from bloom_filters_spark.sources import pages as pg

    cols = ["url", "warc_ts", "html", "text", "lang"]
    got = (generate_pages(spark, 3000, partitions=3)
           .select(F.bit_xor(F.xxhash64(*cols))).first()[0])
    assert got == -5517801346270384988

    def distinct_text_ratio(base):
        texts = pg.generate_pdf(base + np.arange(3000, dtype=np.int64))["text"]
        return texts.nunique() / len(texts)

    assert abs(distinct_text_ratio(10**12) - distinct_text_ratio(0)) < 0.03


def test_generate_pdf_vectorized_matches_scalar():
    """The Arrow-vectorized generate_pdf must stay BYTE-identical to
    the scalar per-row reference assembly (same words, joins, html
    template, timestamps) — the fixture law is part of every
    determinism/throughput claim downstream."""
    import datetime as dt

    from bloom_filters_spark.sources import pages as pg

    ids = np.concatenate([np.arange(0, 700, dtype=np.int64),
                          np.array([10_000, 123_456, 2**31], dtype=np.int64)])
    got = pg.generate_pdf(ids)

    is_dup = (pg._u01(ids, 1) < pg.DUP_FRAC) & (ids > 0)
    back = (pg._stream(ids, 2) % pg._U64(1000)).astype(np.int64) + 1
    cid = np.where(is_dup, np.maximum(0, ids - back), ids)
    host_rank = np.searchsorted(pg._HOST_CDF, pg._u01(cid, 3))
    k = np.clip(np.exp(3.0 + 1.0 * (pg._u01(cid, 5) * 2 - 1)),
                5, 500).astype(int)
    offsets = np.concatenate([[0], np.cumsum(k)])
    flat_seed = (np.repeat(cid, k) * pg._U64(1_000_003)
                 + np.concatenate([np.arange(n, dtype=np.int64)
                                   for n in k]).astype(pg._U64))
    word_idx = np.searchsorted(
        pg._VOCAB_CDF, pg._u01(flat_seed.astype(np.int64), 6))
    flat_words = np.char.mod("w%d", word_idx)
    for i, rid in enumerate(ids):
        url = f"https://host{host_rank[i]:05d}.example/p{cid[i]}"
        text = " ".join(flat_words[offsets[i]:offsets[i + 1]])
        html = (b"<html><head><title>" + url.encode()
                + b"</title></head><body><p>" + text.encode()
                + b"</p></body></html>")
        ts = (pg._EPOCH + dt.timedelta(seconds=int(rid % (30 * 86400)))
              ).replace(tzinfo=None)
        assert got["url"].iloc[i] == url
        assert got["text"].iloc[i] == text
        assert bytes(got["html"].iloc[i]) == html
        assert got["warc_ts"].iloc[i].to_pydatetime() == ts


def test_words_fixture(spark):
    w = words_df(spark, 1000)
    vals = {r[0] for r in w.collect()}
    assert KNOWN_MEMBER in vals
    assert KNOWN_ABSENT not in vals
    assert all(len(v) == 10 for v in vals)


def test_users_fixture(spark):
    u = users_df(spark, 100)
    assert u.count() == 100
    row = u.where("id = 29").first()
    assert row["name"] == "User29"     # the reference's probe key (:3871)
    assert row["phone"] == "+12345678929"


def test_documents_pdf_vectorized_matches_scalar():
    """synth.documents_pdf's flat-scatter near-dup rewrite + Arrow join
    must stay BYTE-identical to the scalar per-row reference — the
    staged sf1 tiers (and BENCH/sf1.json) depend on the generation law
    not moving."""
    from bloom_filters_spark.sources import synth as sy

    ids = np.arange(0, 3000, dtype=np.int64)
    got = sy.documents_pdf(ids)

    u = sy._u01(ids, 1)
    is_dup = (u < sy.DUP_FRAC) & (ids > 0)
    is_near = ((u >= sy.DUP_FRAC) & (u < sy.DUP_FRAC + sy.NEAR_FRAC)
               & (ids > 0))
    back = (sy._stream(ids, 2) % sy._U64(500)).astype(np.int64) + 1
    cid = np.where(is_dup | is_near, np.maximum(0, ids - back), ids)
    derived = is_dup | is_near
    while True:
        unresolved = (derived & (cid > 0)
                      & (sy._u01(cid, 1) < sy.DUP_FRAC + sy.NEAR_FRAC))
        if not unresolved.any():
            break
        hop = (sy._stream(cid, 2) % sy._U64(500)).astype(np.int64) + 1
        cid = np.where(unresolved, np.maximum(0, cid - hop), cid)
    word_idx, k = sy._doc_words(cid)
    offsets = np.concatenate([[0], np.cumsum(k)])
    flat_words = np.char.mod("t%d", word_idx)
    n_near_checked = 0
    for i in range(ids.size):
        words = flat_words[offsets[i]:offsets[i + 1]]
        if is_near[i]:
            tail = max(1, len(words) // 10)
            seeds = (np.full(tail, ids[i], dtype=np.int64) * 31
                     + np.arange(tail))
            repl = np.searchsorted(sy._VOCAB_CDF, sy._u01(seeds, 13))
            words = words.copy()
            words[-tail:] = np.char.mod("t%d", repl)
            n_near_checked += 1
        text = " ".join(words)
        assert got["text"].iloc[i] == text, i
        assert got["n_chars"].iloc[i] == len(text), i
    assert n_near_checked > 50      # the near branch was exercised


def test_synth_tier_determinism_and_structure(spark):
    """sources/synth.py: every tier table is a pure function of row ids
    (partitioning-independent), documents carry exact + near dups, and
    embeddings are unit-norm with cluster structure."""
    from bloom_filters_spark.sources import synth

    a = (synth.generate_documents(spark, 400, partitions=1)
         .orderBy("doc_id").collect())
    b = (synth.generate_documents(spark, 400, partitions=7)
         .orderBy("doc_id").collect())
    assert a == b
    li = (synth.generate_lineitem(spark, 1000, partitions=3)
          .orderBy("l_orderkey", "l_linenumber").collect())
    li2 = (synth.generate_lineitem(spark, 1000, partitions=5)
           .orderBy("l_orderkey", "l_linenumber").collect())
    assert li == li2
    assert len({r["l_orderkey"] for r in li}) == 250   # 4 lines/order

    docs = synth.generate_documents(spark, 4000).cache()
    n, nd = docs.count(), docs.select("text").distinct().count()
    assert nd < n                                      # exact dups exist
    # EVERY doc drawn as an exact dup must copy text that is actually
    # stored at a smaller doc_id (ancestor-chain resolution: a dup of a
    # dup/near-dup would otherwise match nothing in the corpus)
    text_by_id = {r["doc_id"]: r["text"] for r in docs.collect()}
    first_seen = {}
    for i in range(n):
        first_seen.setdefault(text_by_id[i], i)
    u = synth._u01(np.arange(n, dtype=np.int64), 1)
    dup_ids = np.where((u < synth.DUP_FRAC) & (np.arange(n) > 0))[0]
    assert len(dup_ids) > 300                          # ~10% of 4000
    for d in dup_ids.tolist():
        assert first_seen[text_by_id[d]] < d
    docs.unpersist()

    emb = synth.generate_embeddings(spark, 200).collect()
    for r in emb[:20]:
        v = np.asarray(r["embedding"], dtype=np.float64)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5
        assert 0 <= r["label"] < synth.N_CLUSTERS
