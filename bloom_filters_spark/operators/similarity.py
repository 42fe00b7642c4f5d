"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. Queries are broadcast; the
  dot product stays JVM-side (zip_with + aggregate); ranking is a
  window over (query, -cosine, id) — deterministic tie-break.
- LSH (random hyperplane) buckets: the scale path. Signatures come from
  a seeded numpy projection matrix inside one mapInPandas; candidate
  generation joins on (table, bucket) and only candidates get exact
  re-ranking. At 100 TB the bucket join replaces the O(n·q) cross
  product with |bucket|-bounded work per query.

Every cosine in the package, ``dedup.cosine_pairs`` / ``cosine_pairs_lsh``
included, is scored by ``_with_norm`` and ``_cosine``: a NULL, empty,
ragged, zero-norm, NaN- or Inf-component vector never scores.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F


def _with_norm(df: DataFrame, v: str, n: str) -> DataFrame:
    """``df`` plus ``n``, the norm of vector column ``v``, once per row."""
    return df.withColumn(n, F.sqrt(F.aggregate(
        F.col(v), F.lit(0.0), lambda a, x: a + x.cast("double") * x)))


def _cosine(v1: Column, n1: Column, v2: Column, n2: Column) -> Column:
    """``round(dot / (n1·n2), 6)`` of two normed vectors; NULL for a
    ragged pair, and unless both may score: finite norm > 0 (Spark orders
    NaN above every number, so ``n < +inf`` rejects NaN). A CASE, not a
    filter, which Spark would push below the joins and norm again."""
    dot = F.aggregate(F.zip_with(v1, v2, lambda x, y: x.cast("double")
                                 * y.cast("double")),
                      F.lit(0.0), lambda a, x: a + x)
    ok = [(n > 0) & (n < float("inf")) for n in (n1, n2)]
    # try_divide: NULL, not ANSI DIVIDE_BY_ZERO, if n1·n2 underflows to 0
    return F.when(ok[0] & ok[1], F.round(F.try_divide(dot, n1 * n2), 6))


def _rank_exact(corpus: DataFrame, queries: DataFrame, k: int, id_col: str,
                vec_col: str, qid_col: str,
                cands: DataFrame | None = None) -> DataFrame:
    """Exact top-k over the (query_id, neighbor_id) ``cands``, or every
    pair when None: the one ranking path of the three ANN operators. A
    re-rank norms corpus vectors after the candidate join (|cands| ≪ n)."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"))
    q = F.broadcast(_with_norm(queries.select(
        F.col(qid_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv", "qn"))
    pairs = (_with_norm(c, "cv", "cn").crossJoin(q) if cands is None else
             _with_norm(cands.join(c, "neighbor_id"), "cv", "cn")
             .join(q, "query_id"))
    scored = pairs.select("query_id", "neighbor_id",
                          _cosine(F.col("cv"), F.col("cn"), F.col("qv"),
                                  F.col("qn")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where((F.col("rank") <= k) & F.col("cosine").isNotNull())
            .select("query_id", "neighbor_id", "rank", "cosine"))


def _rerank_candidates(ckeys: DataFrame, qkeys: DataFrame, on: list[str],
                       corpus: DataFrame, queries: DataFrame, k: int,
                       id_col: str, vec_col: str, qid_col: str) -> DataFrame:
    """The approximate operators' shared tail: (id, *on) key rows →
    distinct candidate pairs sharing a key → ``_rank_exact``."""
    cands = (ckeys.withColumnRenamed("id", "neighbor_id")
             .join(qkeys.withColumnRenamed("id", "query_id"), on)
             .select("query_id", "neighbor_id").distinct())
    return _rank_exact(corpus, queries, k, id_col, vec_col, qid_col, cands)


def ann_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        qid_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbors per query. → (query_id, neighbor_id, rank,
    cosine). Queries broadcast → no shuffle of the corpus. A NULL,
    empty, ragged, zero-norm, NaN- or Inf-component vector (corpus or
    query) never scores."""
    return _rank_exact(corpus, queries, k, id_col, vec_col, qid_col)


def _vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Rows whose vector has exactly ``dim`` components, filtered
    JVM-side: a NULL, empty or ragged vector has no signature or cell
    (it would crash the numpy ``np.stack`` of its batch) and is never
    a candidate."""
    return df.where(F.size(F.col(vec_col)) == dim)


def _matrix(vectors: pd.Series) -> np.ndarray:
    """A batch's equal-length vectors → one (n, dim) float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vectors])


def hyperplane_signatures(df: DataFrame, dim: int, *, id_col: str = "vec_id",
                          vec_col: str = "embedding", n_planes: int = 16,
                          n_tables: int = 4, seed: int = 0) -> DataFrame:
    """→ (id, table, bucket): sign-pattern buckets from seeded random
    hyperplanes; ``n_tables`` independent tables trade memory for recall."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vecs, n = _matrix(pdf["__v"]), len(pdf)
            buckets = np.zeros((n_tables, n), dtype=np.uint64)
            for t in range(n_tables):
                bits = (vecs @ planes[t].T > 0).astype(np.uint64)
                for p in range(n_planes):
                    buckets[t] = (buckets[t] << np.uint64(1)) | bits[:, p]
            yield pd.DataFrame({
                "id": np.tile(pdf["__id"].to_numpy(), n_tables),
                "table": np.repeat(np.arange(n_tables, dtype=np.int32), n),
                "bucket": buckets.reshape(-1).view(np.int64)})

    base = _vectors(df, vec_col, dim).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    return base.mapInPandas(sig, schema="id long, table int, bucket long")


def kmeans_centroids(df: DataFrame, dim: int, n_centroids: int, *,
                     vec_col: str = "embedding", sample_rows: int = 20_000,
                     iters: int = 10, seed: int = 0) -> np.ndarray:
    """Spherical k-means on a driver-side sample → (n_centroids, dim)
    unit centroids (the IVF coarse quantizer).

    At 100 TB the coarse quantizer is always trained on a sample — a
    few-thousand-row sample bounds driver memory regardless of corpus
    size, and assignment (the expensive part) stays distributed.

    The sample is drawn by HASH RANK (`orderBy(xxhash64(vec)).limit`),
    not `limit(n)`: a bare limit takes the first partitions in layout
    order, so on a corpus sorted/partitioned by topic the quantizer
    would train on one slice of the distribution and recall collapses.
    Hash order is pseudorandom, deterministic, and layout-independent,
    and Catalyst compiles orderBy+limit to TakeOrderedAndProject
    (per-partition top-K + driver merge of K rows — no full sort
    shuffle, driver memory bounded by sample_rows)."""
    pdf = (_vectors(df, vec_col, dim).select(vec_col)
           .orderBy(F.xxhash64(F.col(vec_col)))
           .limit(sample_rows).toPandas())
    X = _matrix(pdf[vec_col]) if len(pdf) else np.zeros((0, dim))
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    # only rows _cosine may score train: one NaN row would make a NaN
    # centroid that argmax hands every row to
    ok = (norms[:, 0] > 0) & (norms[:, 0] < np.inf)
    if not ok.any():
        raise ValueError(
            f"kmeans_centroids: no {dim}-dim vectors with a finite nonzero "
            "norm to train the coarse quantizer on")
    X = X[ok] / np.maximum(norms[ok], 1e-12)
    # a corpus smaller than the requested cell count still quantizes:
    # one cell per sampled vector (IVF degrades toward brute force)
    n_centroids = min(n_centroids, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=n_centroids, replace=False)]
    for _ in range(iters):
        sims = X @ C.T                              # (n, k) cosine
        assign = sims.argmax(axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if members.size:
                c = members.sum(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def _cell_assignments(df: DataFrame, centroids: np.ndarray, *,
                      id_col: str, vec_col: str,
                      n_probe: int = 1) -> DataFrame:
    """→ (id, cell): each vector's ``n_probe`` nearest centroid cells
    (n_probe=1 for the corpus; >1 for queries = the IVF recall knob)."""
    C = centroids

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = _matrix(pdf["__v"])
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                               1e-12)
            sims = X @ C.T                          # (n, n_centroids)
            # n_probe may exceed the centroid count when a tiny corpus
            # clamped the quantizer — probe every cell in that case
            width = min(n_probe, C.shape[0])
            top = np.argsort(-sims, axis=1)[:, :width]
            yield pd.DataFrame({
                "id": np.repeat(pdf["__id"].to_numpy(), width),
                "cell": top.reshape(-1).astype(np.int32)})

    base = _vectors(df, vec_col, C.shape[1]).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    return base.mapInPandas(assign, schema="id long, cell int")


def ivf_params(corpus_rows: int, *, n_centroids: int | None = None,
               n_probe: int | None = None,
               sample_rows: int | None = None) -> tuple[int, int, int]:
    """Resolve scale-safe IVF settings for a corpus of ``corpus_rows``.

    Published IVF practice (FAISS guidelines; Jégou et al. 2011) sizes
    the cell count with the corpus — ``n_centroids ≈ √n`` — and keeps
    ``n_probe`` a small constant-ish knob, so per-query candidate work
    is ~``n_probe·√n`` (sublinear), not ``n/const``: a FIXED cell
    count makes every cell's population grow linearly with the corpus
    and IVF silently degrades to brute-force-divided-by-a-constant.
    ``sample_rows`` grows with the cell count (≥ 40 training vectors
    per centroid) so cells never train under-determined."""
    nc = n_centroids if n_centroids is not None else max(
        16, int(np.ceil(np.sqrt(max(corpus_rows, 1)))))
    npr = n_probe if n_probe is not None else min(8, nc)
    sr = sample_rows if sample_rows is not None else max(20_000, 40 * nc)
    return nc, npr, sr


def ann_topk_ivf(corpus: DataFrame, queries: DataFrame, dim: int,
                 k: int = 10, *, id_col: str = "vec_id",
                 vec_col: str = "embedding", qid_col: str = "query_id",
                 n_centroids: int | None = None, n_probe: int | None = None,
                 sample_rows: int | None = None,
                 corpus_rows: int | None = None, seed: int = 0) -> DataFrame:
    """IVF approximate top-k: coarse-quantizer cells → candidate join →
    exact cosine re-rank.

    The inverted-file structure: every corpus vector lives in exactly
    one centroid cell; a query scans only its ``n_probe`` nearest
    cells, so the exact re-rank touches ~n_probe·(n/n_centroids)
    corpus rows instead of all of them. Defaults are SCALE-SAFE via
    ``ivf_params``: ``n_centroids ≈ √n`` (one cheap ``count()`` unless
    the caller passes ``corpus_rows``), ``n_probe`` a small constant,
    ``sample_rows ≥ 40·n_centroids`` — per-query candidate work is
    then ~n_probe·√n, sublinear in the corpus. ``n_probe ==
    n_centroids`` degrades to exact brute force (recall 1.0 — the
    oracle configuration); returned rank/cosine are always EXACT
    (re-rank verifies), only coverage is approximate. A NULL, empty,
    ragged, zero-norm, NaN- or Inf-component vector never scores."""
    if n_centroids is None and corpus_rows is None:
        corpus_rows = corpus.count()
    n_centroids, n_probe, sample_rows = ivf_params(
        corpus_rows if corpus_rows is not None else 0,
        n_centroids=n_centroids, n_probe=n_probe, sample_rows=sample_rows)
    C = kmeans_centroids(corpus, dim, n_centroids, vec_col=vec_col,
                         sample_rows=sample_rows, seed=seed)
    ccells = _cell_assignments(corpus, C, id_col=id_col, vec_col=vec_col,
                               n_probe=1)
    qcells = _cell_assignments(queries, C, id_col=qid_col, vec_col=vec_col,
                               n_probe=n_probe)
    return _rerank_candidates(ccells, qcells, ["cell"], corpus, queries, k,
                              id_col, vec_col, qid_col)


def ann_topk_lsh(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
                 *, id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id", n_planes: int = 12,
                 n_tables: int = 6, seed: int = 0) -> DataFrame:
    """Approximate top-k: hyperplane-bucket candidates → exact re-rank.
    Recall is tunable via (n_planes, n_tables); rank/cosine of returned
    rows are EXACT (verification is exact), only coverage is approximate.
    A NULL, empty, ragged, zero-norm, NaN- or Inf-component vector never
    scores."""
    sigs = [hyperplane_signatures(df, dim, id_col=i, vec_col=vec_col,
                                  n_planes=n_planes, n_tables=n_tables,
                                  seed=seed)
            for df, i in ((corpus, id_col), (queries, qid_col))]
    return _rerank_candidates(*sigs, ["table", "bucket"], corpus, queries,
                              k, id_col, vec_col, qid_col)
