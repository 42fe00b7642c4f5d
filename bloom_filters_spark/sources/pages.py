"""Deterministic synthetic Common-Crawl-style pages table.

Schema per BASELINE.json input_hint:
  (url string, warc_ts timestamp, html binary, text string, lang string)

Generation per FIXTURES.md §1, fully content-addressed: every field is a
pure function of a 64-bit row id through SplitMix64 streams — NO RNG
state — so the table is identical for any partitioning, any executor
count, and any generation order (the reproducibility rule the reference
violates with rand(), Bloom_project/src/core/Utils.cpp:15-19).

- hosts: Zipf(s≈1.2) over H synthetic hosts → the host-level skew the
  north_rule's salting exists to defeat;
- ~10% duplicate rows: a duplicate's content id points at an earlier
  row, so duplicate urls carry byte-identical text (seen-before ground
  truth + per-url text invariant);
- html is built FROM text with the fixed template that
  functions/textnorm.extract_text inverts exactly;
- generated THROUGH Spark (spark.range → mapInPandas), so fixture scale
  is bounded by the cluster, not the driver.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels.hashing import splitmix64

_U64 = np.uint64
N_HOSTS = 1000
ZIPF_S = 1.2
VOCAB = 10_000
DUP_FRAC = 0.10
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
_LANGS = np.array(["en", "ru", "de", "fr", "es"])
_LANG_CDF = np.cumsum([0.5, 0.2, 0.12, 0.1, 0.08])


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())

_HOST_CDF = _zipf_cdf(N_HOSTS, ZIPF_S)
_VOCAB_CDF = _zipf_cdf(VOCAB, 1.1)
_VOCAB_PA = None


def _vocab_pa():
    """Arrow string array of the VOCAB word table ("w0".."w9999"),
    built once per process (per-word np.char.mod was the generator's
    dominant cost)."""
    global _VOCAB_PA
    if _VOCAB_PA is None:
        import pyarrow as pa
        _VOCAB_PA = pa.array(np.char.mod("w%d", np.arange(VOCAB)))
    return _VOCAB_PA


def _stream(ids: np.ndarray, tag: int) -> np.ndarray:
    """Independent uint64 stream per (row id, tag)."""
    return splitmix64(ids.astype(_U64) ^ splitmix64(
        np.full(ids.shape, _U64(tag))))


def _u01(ids: np.ndarray, tag: int) -> np.ndarray:
    return _stream(ids, tag).astype(np.float64) / 2.0 ** 64


def generate_urls_pdf(ids: np.ndarray) -> pd.DataFrame:
    """Vectorized url-only batch (same urls as generate_pdf, none of
    the text/html cost) — for url-sketch benchmarks at large n."""
    ids = ids.astype(np.int64)
    is_dup = (_u01(ids, 1) < DUP_FRAC) & (ids > 0)
    back = (_stream(ids, 2) % _U64(1000)).astype(np.int64) + 1
    cid = np.where(is_dup, np.maximum(0, ids - back), ids)
    host_rank = np.searchsorted(_HOST_CDF, _u01(cid, 3))
    host_str = np.char.mod("https://host%05d.example/p", host_rank)
    urls = np.char.add(host_str, cid.astype("U"))
    return pd.DataFrame({"url": urls})


def generate_pdf(ids: np.ndarray) -> pd.DataFrame:
    """Vectorized page batch for an int64 id array — zero per-row
    Python: word strings from one C-level np.char.mod, per-row text
    joins and the html template via Arrow's C++ binary_join kernels
    (byte-identical to the former per-row ''.join/encode loop, pinned
    by test_generate_pdf_vectorized_matches_scalar)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = ids.astype(np.int64)
    # duplicates: content id points at an earlier row
    is_dup = (_u01(ids, 1) < DUP_FRAC) & (ids > 0)
    back = (_stream(ids, 2) % _U64(1000)).astype(np.int64) + 1
    cid = np.where(is_dup, np.maximum(0, ids - back), ids)

    host_rank = np.searchsorted(_HOST_CDF, _u01(cid, 3))
    # path = content id → url↔content bijection: the same url can never
    # carry two different texts (the per-url invariant's precondition)
    path = cid.astype(np.int64)
    # text: k words, k ~ seeded lognormal clipped to [5, 500]
    k = np.clip(np.exp(3.0 + 1.0 * (_u01(cid, 5) * 2 - 1)), 5, 500).astype(int)
    offsets = np.concatenate([[0], np.cumsum(k)])
    total = int(offsets[-1])
    word_pos = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], k)
    # per-word seeds in wrapping uint64: int64 × uint64 would promote to
    # float64, whose rounding above ~9e9 ids collapses neighbouring word
    # seeds into one (texts of repeated words, many exact duplicates)
    flat_seed = (np.repeat(cid, k).astype(_U64) * _U64(1_000_003)
                 + word_pos.astype(_U64))
    word_idx = np.searchsorted(_VOCAB_CDF, _u01(flat_seed, 6))

    # words come from a 10k-entry precomputed vocab table decoded
    # through an Arrow dictionary array (40x np.char.mod per-word cost)
    flat_words = pa.DictionaryArray.from_arrays(
        pa.array(word_idx, type=pa.int32()), _vocab_pa()).dictionary_decode()
    host_str = np.char.mod("https://host%05d.example/p", host_rank)
    urls_arr = np.char.add(host_str, path.astype("U"))
    urls_pa = pa.array(urls_arr)
    texts_pa = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets, type=pa.int64()),
                                 flat_words),
        " ")
    htmls_pa = pc.binary_join_element_wise(
        pa.scalar("<html><head><title>"), urls_pa,
        pa.scalar("</title></head><body><p>"), texts_pa,
        pa.scalar("</p></body></html>"), pa.scalar("")).cast(pa.binary())
    lang_pick = np.searchsorted(_LANG_CDF, _u01(cid, 7))
    langs = _LANGS[np.clip(lang_pick, 0, len(_LANGS) - 1)]
    ts = (np.datetime64(_EPOCH.replace(tzinfo=None))
          + (ids % (30 * 86400)).astype("timedelta64[s]"))
    return pd.DataFrame({"url": urls_arr, "warc_ts": pd.Series(ts),
                         "html": htmls_pa.to_pylist(),
                         "text": texts_pa.to_pylist(), "lang": langs})


def generate_pages(spark: SparkSession, n: int,
                   partitions: int | None = None) -> DataFrame:
    rng = spark.range(0, n, numPartitions=partitions)

    def gen(batches):
        for pdf in batches:
            yield generate_pdf(pdf["id"].to_numpy())

    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)


def generate_urls(spark: SparkSession, n: int,
                  partitions: int | None = None) -> DataFrame:
    """url column only — identical url stream to generate_pages."""
    rng = spark.range(0, n, numPartitions=partitions)

    def gen(batches):
        for pdf in batches:
            yield generate_urls_pdf(pdf["id"].to_numpy())

    return rng.mapInPandas(gen, schema="url string")
