"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash (pigeonhole-complete
banding), exact n-gram Jaccard (inverted-index join), and
embedding-cosine near-dup. Scale notes per operator:

- exact: groupBy(text-hash) — one shuffle on a 64-bit key, never on the
  text payload; window keep-first avoids a second scan.
- minhash-lsh: signatures are ZERO-SHUFFLE per-row stages: tokenize +
  per-token xxhash64 in JVM codegen, then an Arrow-batched numpy
  ``mapInPandas`` kernel (bit-identical to a JVM higher-order
  reference). Candidates come from ONE grouped pass over the
  (band, bucket) buckets with an optional hot-bucket cap — no
  self-join, so the signatures are evaluated once per plan.
  Candidate verification joins token SETS (array_intersect) — exact
  jaccard, so the pipeline has no false positives; recall is the
  standard LSH s-curve (minus capped buckets, which lsh_bucket_stats
  accounts).
- simhash: 64-bit signature, the same zero-shuffle numpy stage;
  banding into c chunks guarantees (by pigeonhole) recall 1.0 for
  pairs within hamming distance < c (unless bucket_cap drops a hot
  bucket — accounted); candidates use the same grouped pass.
- ngram-jaccard: exact all-pairs via inverted index (explode distinct
  shingles → self-join on shingle → per-pair intersection counts);
  the join key is the shingle hash, cardinality-bounded by document
  frequency; a df_cut drops ubiquitous shingles (the classic scale
  guard — benched as ngram_jaccard_guarded).
- embedding: exact cosine below max_exact_rows; hyperplane-LSH bucket
  candidates + exact verification above it (cosine_pairs_lsh); both
  score through similarity.py's one cosine path, as the ANN top-k do.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..kernels.hashing import xxh64_int, xxh64_long
from .similarity import _cosine, _with_norm, hyperplane_signatures
from .textstats import tokens_col


def _once(col, fn):
    """Bind ``col``'s value once per row and feed it to ``fn`` — a CSE
    barrier built from a single-element-array ``transform``: lambda
    variables are evaluated once, while plain column expressions are
    re-inlined by Catalyst into EVERY reference (measured 5-15x
    recompute blowups for the HOF signature expressions below)."""
    return F.get(F.transform(F.array(col), fn), 0)


def shingles_col(text_col: str, n: int = 1):
    """array<string> of distinct word n-gram shingles (n=1 → tokens).

    Shingling is what makes near-dup detection non-degenerate on
    natural text: token SETS from a small vocabulary make most document
    pairs similar (candidate generation goes quadratic), while n-gram
    shingles are order-sensitive and sparse, so only true near-dups
    collide.

    The token array is bound ONCE through a single-element-array
    ``transform`` lambda: the n>1 expression references it ~5 times,
    and without the binding Catalyst inlines the full
    ``filter(split(trim(lower(text))))`` tokenization into every
    reference inside the Generate node (measured ~2x the whole
    signature-stage cost at sf0.1)."""
    raw = tokens_col(text_col)
    if n <= 1:
        return F.array_distinct(raw)

    def mk(t):
        idx = F.sequence(F.lit(0), F.size(t) - n)
        # Empty docs yield an EMPTY shingle array (consistent with the
        # n=1 path, which drops them): otherwise two empty docs would
        # share the '' whole-text shingle and compare as jaccard-1.0
        # near-dups. Short-but-nonempty docs keep the whole-text shingle.
        return (F.when(F.size(t) >= n,
                       F.array_distinct(F.transform(
                           idx, lambda i: F.array_join(
                               F.slice(t, i + 1, n), " "))))
                .when(F.size(t) > 0, F.array(F.array_join(t, " ")))
                .otherwise(F.array().cast("array<string>")))

    return _once(raw, mk)


# ----------------------------------------------------------------- exact
def _text_fingerprint(text_col: str):
    """Two independently seeded xxhash64 halves = a 128-bit text
    fingerprint. A single 64-bit hash is NOT collision-safe at this
    module's design point (E[collisions] ≈ n²/2⁶⁵ passes 1 around
    7×10⁹ docs, and a collision here silently deletes a distinct
    document); 128 bits pushes that past 10¹⁸ docs. Still only 16
    bytes on the shuffle — the payload never moves."""
    return (F.xxhash64(F.col(text_col)),
            F.xxhash64(F.lit(0x9E3779B9), F.col(text_col)))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep-first exact dedup: one row per distinct text, smallest id
    wins. The shuffle key is a 128-bit text fingerprint (two seeded
    xxhash64 halves), not the text itself.

    NULL counts as ONE distinct text (SQL GROUP-BY semantics, and what
    the DuckDB oracle computes): ALL NULL-text rows collapse to the
    smallest-id one. In a crawl table where NULL text means
    "not fetched yet" — millions of rows — that deletes all but one of
    them; filter ``text IS NOT NULL`` first if absent-text rows must
    survive dedup."""
    h1, h2 = _text_fingerprint(text_col)
    w = Window.partitionBy(h1, h2).orderBy(F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1").drop("__rn"))


def dedup_paragraphs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     out_col: str = "text_dedup",
                     split_regex: str = r"\n{2,}",
                     join_sep: str = "\n\n") -> DataFrame:
    """Global paragraph-level dedup (the C4 move: Raffel et al. 2020
    drop any three-sentence span seen before; here the unit is the
    PARAGRAPH — the same granularity most curation stacks use for
    boilerplate like cookie banners and share-bars that exact
    doc-level dedup never catches).

    Semantics: paragraphs split on ``\\n{2,}``, kept when they hold a
    ``\\S`` char (identity = the RAW paragraph string); the FIRST
    corpus-wide occurrence under ``(id, position)`` order survives,
    every later occurrence — including repeats inside the same doc —
    is dropped. Survivors reassemble in original order joined by
    ``'\\n\\n'``. Output: one row per input id with ``out_col`` (NULL
    text stays NULL; a doc whose every paragraph was seen before
    becomes ``''``), ``n_paras`` and ``n_paras_kept``.

    Scale shape: posexplode → winner = ``groupBy(128-bit paragraph
    fingerprint).agg(min(struct(id, pos)))`` → join back → regroup by
    id. The winner pick is an AGGREGATION (map-side partial combine),
    not a window: a boilerplate paragraph repeated 10⁹ times is
    combined per-partition instead of sorting 10⁹ rows in one window
    partition. The join back on the fingerprint is the one hot-key
    spot — it is splittable by AQE skew-join (windows are not), which
    is why the aggregation+join form is the 100 TB plan. Fingerprints
    are the same two seeded xxhash64 halves as ``dedup_exact`` (64-bit
    alone collides at ~10⁹ distinct paragraphs and a collision here
    silently deletes content).

    ``split_regex``/``join_sep`` select the unit: the defaults dedup
    paragraphs; ``split_regex=r"\\n", join_sep="\\n"`` removes
    repeated LINES corpus-wide (cookie banners, nav bars, share-bar
    fragments — the common boilerplate grain when pages don't carry
    paragraph structure)."""
    paras = F.filter(F.split(F.col(text_col), split_regex),
                     lambda x: x.rlike(r"\S"))
    exploded = (df.select(id_col, F.posexplode(paras)
                          .alias("__pos", "__para"))
                .withColumn("__h1", F.xxhash64(F.col("__para")))
                .withColumn("__h2", F.xxhash64(F.lit(0x9E3779B9),
                                               F.col("__para"))))
    winners = (exploded.groupBy("__h1", "__h2")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("__pos").alias("p")))
                    .alias("__w")))
    kept = (exploded.join(winners, ["__h1", "__h2"])
            .where((F.col("__w.i") == F.col(id_col))
                   & (F.col("__w.p") == F.col("__pos"))))
    rebuilt = (kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__pos").alias("p"),
                             F.col("__para").alias("t")))),
                lambda s: s["t"]),
            join_sep).alias("__joined"),
        F.count("*").alias("__kept")))
    n_paras = F.size(paras)
    return (df.select(id_col, text_col)
            .join(rebuilt, id_col, "left")
            .select(
                id_col,
                F.when(F.col(text_col).isNull(), F.lit(None))
                 .otherwise(F.coalesce("__joined", F.lit("")))
                 .alias(out_col),
                F.coalesce(n_paras, F.lit(0)).cast("long")
                 .alias("n_paras"),
                F.coalesce("__kept", F.lit(0)).cast("long")
                 .alias("n_paras_kept")))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(text-hash group, n_dups, min_id) for groups with >1 member.
    Groups by the same 128-bit fingerprint as ``dedup_exact`` and
    exposes BOTH halves (``text_hash``, ``text_hash2``): at the design
    scale where the 128-bit key exists (~10⁹⁺ docs, where 64-bit
    collisions are expected), one half alone would conflate two
    distinct groups for any consumer joining back on it."""
    h1, h2 = _text_fingerprint(text_col)
    return (df.groupBy(h1.alias("text_hash"), h2.alias("text_hash2"))
            .agg(F.count("*").alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            .where("n_dups > 1"))


# ------------------------------------------------------------ minhash lsh
def _minhash_signatures_hof(df: DataFrame, id_col: str, text_col: str,
                            num_perm: int, bands: int, seed: int,
                            shingle: int) -> DataFrame:
    """Reference definition of ``minhash_signatures`` as JVM
    higher-order expressions: one ``aggregate`` pass per row carries a
    num_perm-slot running-min accumulator, and each band is
    ``xxhash64`` over its slice of the min array. Zero Python, but
    interpreted (no codegen for HOF lambdas): the round-3 A/B at sf0.1
    (BENCH/sig_ab.json) measured the numpy kernel 2.24x faster end to
    end. The numpy kernel must match it bit for bit (tested)."""
    rows = num_perm // bands

    def mins_of(h_arr):
        # num_perm-slot running-min accumulator, one pass over the array
        return F.aggregate(
            h_arr,
            F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_perm),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(F.sequence(F.lit(0), F.lit(num_perm - 1)),
                            lambda j: F.xxhash64(h, j)),
                lambda x, y: F.least(x, y)))

    def bands_of(m):
        return F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(F.slice(m, b * rows + 1, rows))
                     .alias("bucket"))
            for b in range(bands)])

    hs = F.transform(shingles_col(text_col, shingle),
                     lambda t: F.xxhash64(t, F.lit(seed)))
    # nested _once: hashes evaluated once, min-array evaluated once;
    # empty docs → null band array → explode drops them (no signature)
    bb = _once(hs, lambda h: F.when(
        F.size(h) > 0, _once(mins_of(h), bands_of)))
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(bb).alias("__bb"))
            .select("id", F.col("__bb.band").alias("band"),
                    F.col("__bb.bucket").alias("bucket")))


def _hash_arrays_col(df: DataFrame, id_col: str, arr_expr):
    """(id, __hs array<long>) with empty-array rows dropped — the JVM
    side of the numpy signature kernels: tokenize + per-token xxhash64
    stay codegen'd; only 8-byte hash arrays cross the Arrow boundary."""
    return (df.select(F.col(id_col).alias("id"), arr_expr.alias("__hs"))
            .where(F.size("__hs") > 0))


def _segments(pdf: pd.DataFrame):
    """Flatten a batch's hash arrays → (flat int64, segment starts)."""
    lengths = np.fromiter((len(a) for a in pdf["__hs"]), dtype=np.int64,
                          count=len(pdf))
    flat = np.concatenate([np.asarray(a, dtype=np.int64)
                           for a in pdf["__hs"]])
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    return flat, starts, lengths


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 64, bands: int = 16,
                       seed: int = 0, shingle: int = 1) -> DataFrame:
    """→ (id, band, bucket): LSH band buckets from k-hash MinHash.

    Zero-shuffle: the textbook k-independent-hash MinHash ("permutation"
    j of a token is ``xxhash64(base_hash, j)``) per row of the shingle
    array; the band fold is ``xxhash64`` over the band's slice of the
    min array. Empty docs are dropped (no shingles → no signature).
    Tokenize + per-token xxhash64 stay JVM codegen; an Arrow-batched
    numpy kernel does the rest, BIT-IDENTICAL to the HOF reference
    ``_minhash_signatures_hof`` (tested): permutation j of a
    token hash h is JVM ``xxhash64(h, j)`` = XXH64 hashInt(j,
    hashLong(h, 42)); hashLong(h, 42) is j-independent, so it is
    computed once per token and each permutation is one vectorized
    hashInt + one ``minimum.reduceat`` over the batch's flattened
    token-hash array. The band fold is the XXH64 array fold
    (hashLong-chained, seed 42), matching ``F.xxhash64(slice(...))``.
    Raises ``ValueError`` unless ``bands`` divides ``num_perm``."""
    if bands <= 0 or num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    rows = num_perm // bands
    hs = F.transform(shingles_col(text_col, shingle),
                     lambda t: F.xxhash64(t, F.lit(seed)))
    base = _hash_arrays_col(df, id_col, hs)

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            flat, starts, _ = _segments(pdf)
            hl = xxh64_long(flat, np.uint64(42))        # j-independent
            n = len(pdf)
            mins = np.empty((num_perm, n), dtype=np.int64)
            for j in range(num_perm):
                ph = xxh64_int(np.int64(j), hl).view(np.int64)
                mins[j] = np.minimum.reduceat(ph, starts)
            buckets = np.empty((bands, n), dtype=np.int64)
            for b in range(bands):
                acc = np.full(n, 42, dtype=np.uint64)
                for r in range(rows):
                    acc = xxh64_long(mins[b * rows + r], acc)
                buckets[b] = acc.view(np.int64)
            ids = np.repeat(pdf["id"].to_numpy(), bands)
            yield pd.DataFrame({
                "id": ids,
                "band": np.tile(np.arange(bands, dtype=np.int32), n),
                "bucket": buckets.T.reshape(-1)})

    return base.mapInPandas(sig, schema="id long, band int, bucket long")


def _bucket_pairs(df: DataFrame, keys: list[str], cap: int | None,
                  carry: tuple = ()) -> DataFrame:
    """Every pair of rows sharing a bucket (equal, non-NULL ``keys``)
    with ``a.id < b.id`` → columns ``a``, ``b``: structs of
    ``(id, *carry)``, one row per row pair (callers select and dedup).

    One grouped pass instead of a self-join, so the signature frame is
    evaluated and shuffled once. Each bucket's ``struct(id, *carry)``
    list is sorted, so a row pairs only with rows after it:
    ``posexplode`` the list, then ``explode`` the ``slice`` after each
    element (no row holds an m² array). A NULL id is never paired.

    ``cap`` is the hot-bucket guard shared by every LSH candidate
    stage: a bucket holding more than ``cap`` rows (``count(*)``, so
    NULL-id rows count) is dropped BEFORE its members are collected.
    The count is a window over the grouping's own partitioning (no
    extra shuffle); use ``lsh_bucket_stats`` to account for what a cap
    drops."""
    df = df.dropna(subset=keys)
    if cap is not None:
        df = (df.withColumn("__n", F.count(F.lit(1))
                            .over(Window.partitionBy(*keys)))
              .where(F.col("__n") <= cap))
    members = (df.groupBy(*keys)
               .agg(F.sort_array(F.collect_list(F.struct("id", *carry)))
                    .alias("__m"))
               .select("__m", F.posexplode("__m").alias("__i", "a")))
    tail = F.slice("__m", F.col("__i") + 2, F.size("__m") - F.col("__i") - 1)
    return (members.select("a", F.explode(tail).alias("b"))
            .where(F.col("a.id") < F.col("b.id")))


def lsh_candidate_pairs(sig_df: DataFrame,
                        bucket_cap: int | None = None) -> DataFrame:
    """Distinct candidate pairs (id1 < id2) sharing any band bucket.

    ``bucket_cap`` drops buckets holding more than that many docs
    before pairing — the 100 TB guard: one degenerate hot bucket
    (boilerplate pages, identical docs) otherwise makes candidate
    generation quadratic in bucket size. Dropping a bucket can only
    LOSE recall for pairs whose every shared bucket is hot; use
    ``lsh_bucket_stats`` on the same signature DataFrame to account for
    what was dropped.

    Pairs come from one grouped pass over the buckets
    (``_bucket_pairs``), so the signatures are computed once."""
    return (_bucket_pairs(sig_df, ["band", "bucket"], bucket_cap)
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .distinct())


def lsh_bucket_stats(sig_df: DataFrame, bucket_cap: int,
                     cols: tuple = ("band", "bucket")) -> DataFrame:
    """Recall accounting for a capped candidate pass: one row with
    (n_buckets, n_capped_buckets, n_rows_in_capped) so a pipeline can
    log exactly how much potential recall the cap sacrificed."""
    sizes = sig_df.groupBy(*[F.col(c) for c in cols]).agg(
        F.count("*").alias("__n"))
    over = F.col("__n") > bucket_cap
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long")
        .alias("n_capped_buckets"),
        F.sum(F.when(over, F.col("__n")).otherwise(0)).cast("long")
        .alias("n_rows_in_capped"))


def _suffixed(side: DataFrame, t: str) -> DataFrame:
    return side.select(*[F.col(c).alias(c + t) for c in side.columns])


def _join_pair_sides(pairs: DataFrame, side: DataFrame) -> DataFrame:
    """``pairs`` (id1, id2) joined to both of their rows of ``side``
    (``id`` plus value columns ``c``, arriving as ``c1`` / ``c2``).
    ``side`` is repartitioned on its id once, so both joins reuse one
    Exchange and ``side``'s subplan runs once; a broadcastable ``side``
    pays that shuffle where two broadcasts would have scanned it twice."""
    side = side.repartition(F.col("id"))
    return (pairs.join(_suffixed(side, "1"), "id1")
            .join(_suffixed(side, "2"), "id2"))


def verify_jaccard(df: DataFrame, pairs: DataFrame, id_col: str,
                   text_col: str, threshold: float,
                   shingle: int = 1) -> DataFrame:
    """Exact shingle-set jaccard on candidate pairs → no false positives.

    The threshold compares the 6-decimal-QUANTIZED score (round, then
    >=), deliberately: quantization bounds the boundary error at 5e-7
    while making the accept/reject decision bit-identical across
    engines (Spark vs the DuckDB oracle) whose raw double arithmetic
    can differ in the last ulp. A pair whose true jaccard is within
    5e-7 below the threshold may round in — that is the documented
    contract, not drift. The cosine operators quantize the same way.

    The shingle table reaches both pair sides through
    ``_join_pair_sides``: one tokenization scan feeds both joins."""
    j = _join_pair_sides(pairs, df.select(
        F.col(id_col).alias("id"), shingles_col(text_col, shingle).alias("t")))
    inter = F.size(F.array_intersect("t1", "t2")).cast("double")
    union = F.size(F.array_union("t1", "t2"))
    return (j.withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("id1", "id2", "jaccard"))


def neardup_minhash(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", threshold: float = 0.8,
                    num_perm: int = 64, bands: int = 16,
                    seed: int = 0, shingle: int = 1,
                    bucket_cap: int | None = None) -> DataFrame:
    """MinHash-LSH near-dup pairs, exactly verified. → (id1, id2, jaccard).
    Candidate generation and exact verification use the SAME shingling.
    ``bucket_cap`` bounds hot-bucket blowup (see lsh_candidate_pairs)."""
    sig = minhash_signatures(df, id_col, text_col, num_perm, bands, seed,
                             shingle=shingle)
    cands = lsh_candidate_pairs(sig, bucket_cap=bucket_cap)
    return verify_jaccard(df, cands, id_col, text_col, threshold,
                          shingle=shingle)


# ---------------------------------------------------------------- simhash
def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       seed: int = 0) -> DataFrame:
    """→ (id, simhash): 64-bit SimHash per doc — zero-shuffle; docs with
    no tokens are dropped.

    Tokenize + per-token xxhash64 stay JVM codegen; an Arrow-batched
    numpy kernel votes, BIT-IDENTICAL to the HOF reference
    ``_simhash_signatures_hof`` (tested): bit b is set iff
    2·ones_b > n_tokens. Votes are summed ONE BIT AT A TIME (64
    shift-mask-reduceat passes over the flattened token-hash array):
    materializing the full (total_tokens, 64) bit matrix instead costs
    ~512 bytes per token — gigabytes of transient allocation per Arrow
    batch at realistic batch sizes, which the round-3 A/B measured as
    a 3-14x slowdown from allocator/memory pressure."""
    hs = F.transform(tokens_col(text_col),
                     lambda t: F.xxhash64(t, F.lit(seed)))
    base = _hash_arrays_col(df, id_col, hs)

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            flat, starts, lengths = _segments(pdf)
            u = flat.view(np.uint64)
            sig64 = np.zeros(len(pdf), dtype=np.uint64)
            for b in range(64):
                ones = np.add.reduceat(
                    ((u >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                    starts)
                sig64 |= ((2 * ones > lengths).astype(np.uint64)
                          << np.uint64(b))
            yield pd.DataFrame({"id": pdf["id"].to_numpy(),
                                "simhash": sig64.view(np.int64)})

    return base.mapInPandas(sig, schema="id long, simhash long")


def _simhash_signatures_hof(df: DataFrame, id_col: str, text_col: str,
                            seed: int) -> DataFrame:
    """Reference definition of ``simhash_signatures`` as JVM
    higher-order expressions; the numpy kernel must match it bit for
    bit (tested). The round-3 A/B measured the numpy kernel 2.16x
    faster end to end.

    Per-bit vote counts come from one higher-order ``aggregate`` pass
    over the row's token-hash array with a 64-slot accumulator
    (``zip_with`` adds each hash's bit vector), so the signature stage
    is scan → project: no explode, no groupBy, no Python. The majority
    vote ``2·ones > n`` and power-of-two bit packing are column
    arithmetic; bit 63's weight is the int64 min value (two's
    complement). Docs with no tokens are dropped."""

    def votes_of(h_arr):
        # 64-slot vote accumulator, one pass over the array.
        # call_function passes COLUMN shift amounts (the F.shift*
        # wrappers only take python-int bit counts).
        return F.aggregate(
            h_arr, F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda b: F.call_function("shiftrightunsigned", h, b)
                    .bitwiseAND(F.lit(1).cast("long"))),
                lambda x, y: x + y))

    def sig_of(h):
        # nested _once: votes bound once; the majority vote 2·ones > n
        # and power-of-two packing run inside one zip_with + aggregate
        # so nothing is re-evaluated per bit. shiftleft(1L, 63) is the
        # int64 min value (two's complement top bit).
        return _once(votes_of(h), lambda v: F.aggregate(
            F.zip_with(
                v, F.sequence(F.lit(0), F.lit(63)),
                lambda ones, b: F.when(
                    ones * 2 > F.size(h),
                    F.call_function("shiftleft",
                                    F.lit(1).cast("long"), b))
                .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"), lambda s, x: s + x))

    hs = F.transform(tokens_col(text_col),
                     lambda t: F.xxhash64(t, F.lit(seed)))
    # drop token-less docs (matching the old explode path) with a CHEAP
    # predicate — filtering on the signature column would re-inline the
    # whole HOF expression into the filter (2x eval per row)
    return (df.where(F.size(tokens_col(text_col)) > 0)
            .select(F.col(id_col).alias("id"),
                    _once(hs, sig_of).alias("simhash")))


def neardup_simhash(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", max_hamming: int = 7,
                    chunks: int = 8, seed: int = 0,
                    bucket_cap: int | None = None) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits.

    Banding into ``chunks`` equal bit-chunks is pigeonhole-COMPLETE for
    hamming < chunks: any qualifying pair shares at least one exact
    chunk, so recall is 1.0 (unlike MinHash-LSH). Verification computes
    the exact hamming distance with F.bit_count (JVM-side).

    ``bucket_cap`` drops (chunk, val) buckets above the cap before
    pairing — the hot-bucket scale guard. NOTE it voids the
    pigeonhole completeness guarantee for pairs whose only shared chunk
    was a capped bucket; use ``lsh_bucket_stats`` on the exploded
    (chunk, val) rows to account for the loss.

    Raises ``ValueError`` unless ``max_hamming < chunks <= 64`` and
    ``chunks`` divides 64 (the conditions the recall guarantee needs)."""
    if not (0 < chunks <= 64 and 64 % chunks == 0):
        raise ValueError(f"chunks={chunks} must divide 64")
    if not max_hamming < chunks:
        raise ValueError(
            f"max_hamming={max_hamming} must be < chunks={chunks}: "
            "pigeonhole recall needs a chunk no differing bit falls in")
    width = 64 // chunks
    sig = simhash_signatures(df, id_col, text_col, seed)
    mask = F.lit((1 << width) - 1)
    vals = F.array(*[F.shiftrightunsigned("simhash", c * width)
                     .bitwiseAND(mask) for c in range(chunks)])
    parts = sig.select("id", "simhash",
                       F.posexplode(vals).alias("chunk", "val"))
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # exact hamming verification before the distinct: it then dedups
    # only qualifying (id1, id2, hamming) rows, not every collision
    return (_bucket_pairs(parts, ["chunk", "val"], bucket_cap,
                          carry=("simhash",))
            .where(ham <= max_hamming)
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
                    ham.alias("hamming"))
            .distinct())


# ------------------------------------------------------ exact ngram jaccard
def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 1,
                        threshold: float = 0.5,
                        df_cut: int | None = None) -> DataFrame:
    """EXACT jaccard ≥ threshold pairs via inverted-index self-join.

    explode distinct n-gram shingles → join on shingle hash → per-pair
    intersection count → jaccard from per-doc set sizes. ``df_cut``
    drops shingles appearing in more than df_cut docs (stopword guard:
    bounds the self-join blowup at scale; dropped shingles can only
    LOWER similarity, so with df_cut the result is a superset filter —
    leave None for exact semantics)."""
    base = df.select(F.col(id_col).alias("id"),
                     shingles_col(text_col, n).alias("sh"))
    sizes = base.select("id", F.size("sh").alias("sz"))
    inv = base.select("id", F.explode("sh").alias("s")) \
              .select("id", F.xxhash64("s").alias("sh_h"))
    if df_cut is not None:
        freq = inv.groupBy("sh_h").count().where(F.col("count") <= df_cut)
        inv = inv.join(freq.select("sh_h"), "sh_h")
    a, b = inv.alias("a"), inv.alias("b")
    inter = (a.join(b, (F.col("a.sh_h") == F.col("b.sh_h"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
             .agg(F.count("*").alias("c")))
    out = (inter
           .join(sizes.withColumnRenamed("id", "id1")
                 .withColumnRenamed("sz", "sz1"), "id1")
           .join(sizes.withColumnRenamed("id", "id2")
                 .withColumnRenamed("sz", "sz2"), "id2")
           .withColumn("jaccard", F.round(
               F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c")), 6))
           .where(F.col("jaccard") >= threshold)
           .select("id1", "id2", "jaccard"))
    return out


# ------------------------------------------------------- embedding cosine
def _cosine_at_least(df: DataFrame, id_col: str, vec_col: str,
                     threshold: float, pair_up) -> DataFrame:
    """(id1, id2, cosine ≥ ``threshold``) of the pairs ``pair_up`` makes
    of ``df``'s (id, v, n) vector rows (suffixed 1 / 2), normed once."""
    side = _with_norm(df.select(F.col(id_col).alias("id"),
                                F.col(vec_col).alias("v")), "v", "n")
    cos = _cosine(F.col("v1"), F.col("n1"), F.col("v2"), F.col("n2"))
    return (pair_up(side).withColumn("cosine", cos)
            .where(F.col("cosine") >= threshold)
            .select("id1", "id2", "cosine"))


def cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 threshold: float = 0.95, *,
                 exact: bool | None = None,
                 max_exact_rows: int = 20_000,
                 n_planes: int = 12, n_tables: int = 6,
                 seed: int = 0) -> DataFrame:
    """Embedding-cosine near-dup pairs (id1 < id2, cos ≥ t).

    Default routing (``exact=None``): inputs up to ``max_exact_rows``
    use the exact O(n²) broadcast-nested-loop baseline; larger inputs
    go through hyperplane-LSH bucket candidates with exact cosine
    verification (``cosine_pairs_lsh``) — so the operator a user gets
    by default never plans an O(n²) join at scale. Pass ``exact=True``
    to force the baseline (oracle/parity use). On either path a NULL,
    empty, ragged, zero-norm, NaN- or Inf-component vector never
    scores.

    NOTE ``exact=None`` is EAGER: the routing decision runs a bounded
    Spark job (``df.limit(max_exact_rows+1).count()``) at call time —
    cheap (the count short-circuits at the limit) but it does
    recompute ``df``'s upstream lineage once. Callers that already
    know their cardinality should pass ``exact=`` explicitly to keep
    plan construction fully lazy."""
    if exact is None:
        exact = df.limit(max_exact_rows + 1).count() <= max_exact_rows
    if not exact:
        return cosine_pairs_lsh(df, id_col, vec_col, threshold,
                                n_planes=n_planes, n_tables=n_tables,
                                seed=seed)
    return _cosine_at_least(df, id_col, vec_col, threshold, lambda s: (
        _suffixed(s, "1").join(_suffixed(s, "2"),
                               F.col("id1") < F.col("id2"))))


def cosine_pairs_lsh(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     threshold: float = 0.95, *,
                     n_planes: int = 12, n_tables: int = 6,
                     seed: int = 0,
                     bucket_cap: int | None = None) -> DataFrame:
    """Approximate cosine near-dup pairs: random-hyperplane buckets →
    grouped bucket candidates (``_bucket_pairs``, with the optional
    ``bucket_cap``) → EXACT cosine verification (precision 1.0;
    recall follows the (1−θ/π)^planes-per-table curve, tunable via
    n_planes/n_tables). The scale path behind ``cosine_pairs``. A NULL,
    empty, ragged, zero-norm, NaN- or Inf-component vector never
    scores."""
    # derive dim from a NON-NULL vector (a null first row would give
    # size = -1 and poison the projection-matrix shape)
    dim_row = (df.where(F.col(vec_col).isNotNull()
                        & (F.size(F.col(vec_col)) > 0))
               .select(F.size(F.col(vec_col)).alias("d")).first())
    if dim_row is None:
        return df.sparkSession.createDataFrame(
            [], "id1 long, id2 long, cosine double")
    sig = hyperplane_signatures(df, int(dim_row["d"]), id_col=id_col,
                                vec_col=vec_col, n_planes=n_planes,
                                n_tables=n_tables, seed=seed)
    cands = (_bucket_pairs(sig, ["table", "bucket"], bucket_cap)
             .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
             .distinct())
    return _cosine_at_least(df, id_col, vec_col, threshold,
                            lambda s: _join_pair_sides(cands, s))


def neardup_components(pairs: DataFrame, id1: str = "id1",
                       id2: str = "id2", *,
                       max_iters: int = 64,
                       driver_edge_cap: int = 1 << 20) -> DataFrame:
    """Connected components over a near-dup pair graph → one row per
    node: columns ``(id, rep)`` where ``rep`` is the smallest id in
    the node's component — the canonical-document selection step of a production
    dedup pipeline (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", groups near-dup pairs into clusters
    and keeps one representative per cluster).

    Greedy pairwise dropping (``prepare_corpus``'s default) can keep
    MORE than one doc per cluster: in the component {1, 5, 3} with
    edges 5–1 and 5–3, node 3's only neighbour is larger, so greedy
    keeps both 1 and 3. Components keep exactly one.

    Algorithm: min-label propagation with pointer jumping — each round
    every node takes the min label over itself and its neighbours
    (one co-partitioned join + groupBy on the node id), then jumps to
    its label's label (one self-join). Labels decrease monotonically
    and stay inside the component, so the fixpoint labels every node
    with its component minimum; pointer jumping halves tree depth per
    round, so rounds are O(log n) rather than graph diameter — the
    same round complexity class as the large-star/small-star
    MapReduce algorithm (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond"). Ids keep their native type (long doc
    ids, string urls — anything orderable; floats rejected, NaN breaks
    equality). Per round only (node, label) pairs
    shuffle; edges are symmetrized, deduped, and persisted once; each
    round's labels are ``localCheckpoint``-ed so the plan (and
    Catalyst analysis time) stays ROUND-CONSTANT instead of growing
    with the iteration — the standard Spark iterative-algorithm
    requirement. The driver sees one convergence count per round,
    never rows: the previous label rides along in the round's frame,
    so convergence needs no extra join.

    Small-graph fast path: the iterative rounds cost a handful of
    Spark JOBS each — pure scheduling latency when the pair graph is
    tiny relative to the corpus (the common case: near-dup pairs are
    a sliver of the table). When the deduped symmetric edge count is
    ≤ ``driver_edge_cap`` (default 2^20 ≈ 32 MB of id pairs, the same
    bounded-driver-work pattern as ``query_rollup``'s max_partials),
    the edges are collected once and labeled with a driver-side
    union-find — identical output by construction (both compute the
    per-component minimum; the equality is fuzz-checked across both
    paths). Set ``driver_edge_cap=0`` to force the distributed rounds
    (e.g. for 10^9-pair graphs the cap already routes there).

    Fault-tolerance note for long cluster runs: ``localCheckpoint``
    trades lineage for speed — labels live in executor block storage,
    so losing an executor mid-run fails the job (restart the call; a
    few O(log n) label rounds are cheap to redo — the expensive pair
    GENERATION upstream is what `checkpoint.SketchCheckpoint` guards).
    On clusters with heavy churn, set a reliable
    ``sc.setCheckpointDir`` and swap ``localCheckpoint`` for
    ``checkpoint`` — same plan-cut semantics, HDFS-backed blocks.
    """
    t1 = pairs.schema[id1].dataType
    t2 = pairs.schema[id2].dataType
    if t1 != t2:
        raise ValueError(
            f"neardup_components: {id1} is {t1.simpleString()} but "
            f"{id2} is {t2.simpleString()} — pair columns must share "
            "one id type")
    if t1.simpleString() in ("float", "double"):
        raise ValueError(
            "neardup_components: float ids are not supported (NaN "
            "breaks the label-equality fixpoint); cast to a string "
            "or integer id first")
    # ids keep their NATIVE type (long doc ids, string urls, ...):
    # the algorithm needs only ordering (min label) and equality —
    # a silent cast("long") would NULL out every string id and
    # return an empty labeling
    sess_edges = pairs.select(F.col(id1).alias("u"),
                              F.col(id2).alias("v"))
    edges = (sess_edges
             .unionByName(sess_edges.select(F.col("v").alias("u"),
                                            F.col("u").alias("v")))
             .where(F.col("u").isNotNull() & F.col("v").isNotNull()
                    & (F.col("u") != F.col("v")))
             .distinct().persist())
    n_edges = edges.count()
    if n_edges <= driver_edge_cap:
        # bounded collect (≤ cap rows of two ids), union-find, done in
        # ONE job instead of ~4 jobs x O(log n) rounds
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # one bounded collect (<= cap rows; toLocalIterator would run
        # one sequential job per partition)
        for r in edges.collect():
            ra, rb = find(r["u"]), find(r["v"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(n, find(n)) for n in parent]
        edges.unpersist()
        schema = f"id {t1.simpleString()}, rep {t1.simpleString()}"
        spark = pairs.sparkSession
        if not rows:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(rows, schema)
    cur = (edges.select("u").distinct()
           .withColumn("lab", F.col("u"))
           .localCheckpoint(eager=True))
    try:
        for _ in range(max_iters):
            nbr = (edges.join(cur.select(F.col("u").alias("v"), "lab"),
                              "v")
                   .groupBy("u").agg(F.min("lab").alias("m")))
            prop = (cur.join(nbr, "u", "left")
                    .select("u", F.col("lab").alias("prev"),
                            F.least(F.col("lab"),
                                    F.coalesce("m", "lab")).alias("lab")))
            # pointer jump: lab <- lab's OWN label this round (labels
            # are always node ids present in the graph); prev rides
            # along so convergence is a plain aggregate, not a join
            jump = (prop.alias("a")
                    .join(prop.select(F.col("u").alias("lab"),
                                      F.col("lab").alias("lab2"))
                          .alias("b"), "lab", "left")
                    .select("u", "prev",
                            F.coalesce("lab2", "lab").alias("lab"))
                    .localCheckpoint(eager=True))
            changed = jump.where(F.col("lab") != F.col("prev")).count()
            cur = jump.drop("prev")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"neardup_components did not converge in {max_iters} "
                "rounds — raise max_iters (rounds grow ~log(n))")
        return cur.select(F.col("u").alias("id"),
                          F.col("lab").alias("rep"))
    finally:
        edges.unpersist()


def dedup_by_components(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one document per near-dup component: the smallest
    id of each connected component of ``pairs`` survives, every other
    paired doc is dropped, and docs in no pair pass through untouched.
    One anti-join against the O(paired docs) loser set — the strict
    (cluster-level) alternative to ``prepare_corpus``'s greedy
    pairwise policy."""
    comp = neardup_components(pairs)
    idc = comp.columns[0]
    losers = (comp.where(F.col(idc) != F.col("rep"))
              .select(F.col(idc).alias(id_col)).distinct())
    return df.join(losers, id_col, "left_anti")


def flag_contamination(df: DataFrame, eval_df: DataFrame, *,
                       id_col: str = "doc_id", text_col: str = "text",
                       eval_text_col: str = "text", n: int = 13,
                       out_col: str = "contaminated") -> DataFrame:
    """Benchmark decontamination flag: mark every training document
    sharing at least one word ``n``-gram with the evaluation corpus —
    the 13-gram overlap rule published with GPT-3 (Brown et al. 2020,
    appendix C) and used by later corpus-curation pipelines. Flagged
    rows are typically dropped or quarantined before training so eval
    numbers measure generalization, not memorized test items.

    Shingle semantics are ``shingles_col``'s exactly (lowercase,
    ``\\s+`` tokens, n-grams joined with one space; short-but-nonempty
    docs contribute their whole-text shingle; empty/NULL docs have no
    shingles and are never flagged).

    Plan shape at 100 TB: the EVAL side is small (benchmark suites are
    MBs) — its distinct shingle set is broadcast; the corpus side
    explodes shingles and left-semi joins the broadcast, so the
    corpus never shuffles and the flag join back is on the ≤ corpus
    id set of hits. For eval sets too big to broadcast, pre-filter
    with a Bloom over eval shingle hashes (`bloom_semijoin`) and keep
    the exact semi join as the verifier. Raises ``ValueError`` if
    ``out_col`` is already a column of ``df``."""
    if out_col in df.columns:
        raise ValueError(f"column {out_col} already present")
    ev = (eval_df
          .select(F.explode(shingles_col(eval_text_col, n)).alias("__s"))
          .distinct())
    doc_sh = df.select(F.col(id_col),
                       F.explode(shingles_col(text_col, n)).alias("__s"))
    hits = (doc_sh.join(F.broadcast(ev), "__s", "left_semi")
            .select(id_col).distinct()
            .withColumn(out_col, F.lit(True)))
    return (df.join(hits, id_col, "left")
            .withColumn(out_col, F.coalesce(F.col(out_col),
                                            F.lit(False))))
