"""Text analysis over document tables — all JVM-side built-ins.

Large-scale training-data pipeline operators (driver brief): token
counting, quality scoring, language ID (stopword-marker heuristic),
document fingerprinting. Everything here stays inside whole-stage
codegen (F.* expressions only — no Python in the hot path); the
tokenizer matches the reference's whitespace split + lowercase
(Bloom_project/src/core/Utils.cpp:58-66, :63).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# whitespace tokenization parity: std::stringstream >> word
TOKEN_SPLIT = r"\s+"

# BPE-ish pre-tokenizer (the GPT-2 pre-tokenization shape: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# residual whitespace). Differences from the published GPT-2 pattern,
# all deliberate for cross-engine identity: ASCII classes instead of
# \p{L}/\p{N} (python `re` lacks \p); no `\s+(?!\S)` trailing-
# whitespace lookahead (RE2 — the DuckDB oracle engine — has no
# lookaround); and whitespace spelled as the EXPLICIT class
# [ \t\n\x0b\f\r] instead of \s — Java and RE2 read \s as exactly
# that ASCII set, but python `re` reads it as Unicode whitespace
# (NBSP included), so a bare \s would silently diverge the python
# oracle on text like « » where NBSP borders punctuation.
# Counting matches of this alternation approximates a BPE tokenizer's
# pre-token count — the budget unit pipelines size corpora in when
# the real tokenizer is external.
_WS = r" \t\n\x0b\f\r"
BPE_SPLIT = (r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
             rf"| ?[^{_WS}A-Za-z0-9]+|[{_WS}]+")


def bpe_token_count_col(text_col: str | Column = "text") -> Column:
    """Count of BPE-ish pre-tokens (ALL alternation matches, including
    residual whitespace runs — documented); NULL text counts 0.

    ``regexp_count``, NOT ``size(regexp_extract_all(...))``: both
    count the same matches, but extract_all materializes every match
    as a string in an array first — measured as the dominant
    allocation source of the curation scan (the count never needs the
    strings)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.coalesce(F.regexp_count(c, F.lit(BPE_SPLIT)), F.lit(0))

# tiny per-language marker lexicons (deterministic heuristic, not a model)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ich", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "por", "con", "para"],
    "ru": ["и", "в", "не", "на", "что", "это", "как", "он", "по", "но"],
}
STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def _frac4(num: Column, den: Column) -> Column:
    """Half-up 4dp rounding of the exact rational num/den (both
    integer-valued columns), computed in INTEGER space:
    ``floor((num*20000 + den) / (2*den)) / 10^4``. ``F.round`` on the
    double is NOT cross-engine stable at exact boundaries: Spark
    rounds the shortest-repr DECIMAL of the double while DuckDB and
    python round the BINARY value, so 19/160 = 0.11875 reads .1188 vs
    .1187 (the fuzz caught 33/160 in repetition stats first, then
    19/160 in punct_ratio). NULL propagates (callers that want 0 for
    NULL wrap in coalesce). The quotient is the SQL ``div`` of two
    longs (exact integer division, as ``assign_token_shards`` uses): a
    double ``/`` before ``floor`` rounds a quotient just below an
    integer up to it once ``num*20000`` passes 2^53. Exact for
    non-negative counts with ``num < 4.6e14`` (the long product)."""
    d = den.cast("long")
    q = F.call_function("div", num.cast("long") * 20000 + d, d * 2)
    return q / 10000.0


def tokens_col(text_col: str | Column, lowercase: bool = True) -> Column:
    """array<string> of non-empty whitespace tokens.

    Empty elements are dropped with ``array_remove(arr, '')`` — a
    native codegen expression — rather than ``filter(arr, t != '')``,
    whose per-element lambda is interpreted (HOF lambdas never enter
    whole-stage codegen); value-identical (split yields no NULL
    elements), measured ~1.4x on the bare tokenize+size scan at 5M
    docs, and this is the single most-referenced expression in the
    library."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        c = F.lower(c)
    return F.array_remove(F.split(F.trim(c), TOKEN_SPLIT), "")


def tokenize(df: DataFrame, text_col: str = "text",
             out_col: str = "token", lowercase: bool = True) -> DataFrame:
    """One row per token (the reference's per-line word loop,
    Bloom_project/src/core/Bloom_project.cpp:527-535, as explode/split)."""
    return df.select("*", F.explode(tokens_col(text_col, lowercase))
                     .alias(out_col))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens (whitespace), n_bpe_tokens (BPE-ish regex), n_chars,
    avg token length, distinct-token ratio. Same Generate barrier as
    ``with_quality_score`` — the columns reference the tokenization
    5x and projection collapsing would re-evaluate it per reference."""
    toks = tokens_col(text_col)
    payload = F.struct(
        F.size(toks).alias("nt"),
        bpe_token_count_col(text_col).alias("nb"),
        F.length(F.col(text_col)).alias("nc"),
        F.size(F.array_distinct(toks)).alias("nd"),
        # non-whitespace char count as length - count(\s chars): the
        # regexp_replace form rebuilds the string per row (same
        # pathology as the punct ratio — see with_quality_score);
        # ratios round in integer space (_frac4 — cross-engine exact)
        _frac4(F.length(F.col(text_col))
               - F.regexp_count(F.col(text_col), F.lit(r"\s")),
               F.greatest(F.size(toks), F.lit(1))).alias("al"),
        _frac4(F.size(F.array_distinct(toks)),
               F.greatest(F.size(toks), F.lit(1))).alias("tt"))
    out_names = ("n_tokens", "n_bpe_tokens", "n_chars_calc",
                 "n_distinct_tokens", "avg_token_len",
                 "type_token_ratio")
    keep = [c for c in df.columns if c not in out_names]
    return (df.select(*keep, F.explode(F.array(payload)).alias("__ts"))
            .select(*keep,
                    F.col("__ts.nt").alias("n_tokens"),
                    F.col("__ts.nb").alias("n_bpe_tokens"),
                    F.col("__ts.nc").alias("n_chars_calc"),
                    F.col("__ts.nd").alias("n_distinct_tokens"),
                    F.col("__ts.al").alias("avg_token_len"),
                    F.col("__ts.tt").alias("type_token_ratio")))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: length band, punctuation density,
    stopword ratio, repetition — combined into [0, 1].

    All four output columns are computed inside ONE struct routed
    through a Generate barrier (``explode(array(struct))``): Catalyst's
    projection collapsing re-inlines aliased expressions into EVERY
    reference, and this battery references the tokenization ~8x and
    ``array_distinct`` ~3x — measured 73k docs/s interpreted-HOF
    re-evaluation before the barrier vs ~1M docs/s after (the same
    5-15x re-inlining blowup dedup.shingles_col documents). A Generate
    node evaluates its child exactly once per row, and downstream
    field extractions reference the generated ATTRIBUTE, which
    projection collapsing cannot inline through."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    n_tok = F.greatest(n, F.lit(1))
    dist_n = F.size(F.array_distinct(toks))
    # count the POSITIVE punctuation class: length(regexp_replace(
    # text, '[^punct]', '')) is the same number, but the negated class
    # matches ~98% of characters and regexp_replace rebuilds the whole
    # string through the matcher one char at a time — measured 60s of
    # this battery's 66s wall at 5M docs; regexp_count of the ~2% of
    # chars that ARE punctuation computes the identical value at ~50x
    # fewer matcher steps and zero result allocation
    punct = F.regexp_count(F.col(text_col),
                           F.lit(r"[!-/:-@\[-`{-~]")).cast("long")
    text_len = F.greatest(F.length(F.col(text_col)), F.lit(1))
    stop_n = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in STOPWORDS])))
    stop_d = F.greatest(dist_n, F.lit(1))
    length_ok = (n >= 5) & (n <= 100_000)
    # RAW double ratios feed only the threshold flags (IEEE-identical
    # in every engine); the OUTPUT columns round via _frac4
    punct_ratio_raw = punct / text_len
    rep_ratio_raw = 1.0 - dist_n / n_tok.cast("double")
    # stopword credit in integer BASIS POINTS of the score:
    # round4(min(4*a/b, 1) * 0.2) * 10^4 == min(2000,
    # half-up((16000*a + b) / (2*b))) — exact, cross-engine. The
    # coalesce keeps NULL text at 0 credit (F.least SKIPS null args,
    # so a least-based guard never fires — the fuzz caught that form)
    stop_bp = F.least(
        F.lit(2000).cast("long"),
        F.floor((F.coalesce(stop_n, F.lit(0)).cast("long") * 16000
                 + stop_d) / (stop_d * 2)))
    score_bp = (F.when(length_ok, F.lit(4000)).otherwise(F.lit(0))
                + F.when(punct_ratio_raw < 0.2, F.lit(2000))
                .otherwise(F.lit(0))
                + F.when(rep_ratio_raw < 0.9, F.lit(2000))
                .otherwise(F.lit(0))
                + stop_bp)
    payload = F.struct(
        _frac4(punct, text_len).alias("p"),
        _frac4(stop_n, stop_d).alias("s"),
        _frac4(n - dist_n, n_tok).alias("r"),
        (score_bp / 10000.0).alias("q"))
    # keep withColumn's REPLACE semantics: re-applying the operator
    # (e.g. re-scoring after scrubbing) must not duplicate the names
    out_names = ("punct_ratio", "stopword_ratio", "repetition_ratio",
                 "quality_score")
    keep = [c for c in df.columns if c not in out_names]
    return (df.select(*keep, F.explode(F.array(payload)).alias("__qs"))
            .select(*keep,
                    F.col("__qs.p").alias("punct_ratio"),
                    F.col("__qs.s").alias("stopword_ratio"),
                    F.col("__qs.r").alias("repetition_ratio"),
                    F.col("__qs.q").alias("quality_score")))


def with_lang_id(df: DataFrame, text_col: str = "text",
                 out_col: str = "lang_guess") -> DataFrame:
    """Stopword-marker language ID: argmax over per-language marker hits,
    deterministic tie-break by language code; 'und' when nothing hits."""
    toks = F.array_distinct(tokens_col(text_col))
    scores = F.array(*[
        F.struct(
            F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in ws]))).alias("hits"),
            # struct comparison orders by (hits, code): ties on hits
            # break deterministically to the lexicographically largest code
            F.lit(code).alias("code"))
        for code, ws in sorted(LANG_MARKERS.items())])
    best = F.array_max(scores)
    return df.withColumn(
        out_col,
        F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und")))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     families: tuple[str, ...] = ("lines", "paras",
                                                  "grams")) -> DataFrame:
    """Per-document repetition statistics — the Gopher repetition rules
    (Rae et al. 2021, "Scaling Language Models", appendix A1.1) that a
    webtext pipeline filters on before training. One output row per id:

    - ``n_lines`` — non-blank lines (split on ``\\n``, kept when the
      line holds any ``\\S`` char; identity and char count use the RAW
      line).
    - ``dup_line_frac`` — fraction of lines that repeat an earlier
      line: ``(n_lines - n_distinct_lines) / n_lines``.
    - ``dup_line_char_frac`` — chars inside the repeated copies:
      ``sum((count-1) * len(line) over lines with count >= 2) /
      sum(count * len(line))``.
    - ``dup_para_frac`` / ``dup_para_char_frac`` — same over
      paragraphs (split on ``\\n{2,}``).
    - ``top_{2,3,4}gram_char_frac`` — chars covered by the dominant
      word n-gram: ``max over grams of count * len(gram) /
      greatest(len(text), 1)`` (the max is over the PRODUCT, so no
      tie-break rule is needed); grams join lowercase whitespace
      tokens with a single space, matching ``shingles_col``.
    - ``dup_5gram_char_frac`` — ``sum(count * len(gram) over 5-grams
      with count >= 2) / greatest(len(text), 1)``; overlapping
      occurrences double-count chars, so values above 1 are possible
      for pathologically repetitive docs (documented, not clamped —
      filters threshold well below 1).

    All fractions are rounded half-up to 4dp in EXACT integer
    arithmetic (``floor((num*20000 + den) / (2*den)) / 10^4``) so the
    values are reproducible bit-for-bit by any engine from the counts
    alone — no double-rounding boundary artifacts. NULL / empty text
    scores 0 everywhere with ``n_lines = 0``.

    Plan shape (the 100 TB path): each family is explode →
    ``groupBy(id, value)`` → re-aggregate per id — linear work with
    map-side partial aggregation. The doc-local alternative
    (``aggregate`` over ``array_distinct`` with a nested ``filter``
    count) is O(lines²) per document and dies on a single adversarial
    100k-line doc. All four n-gram sizes come from ONE token
    posexplode + window ``lead`` (codegen concat — see inline note),
    then one explode of ``(n, gram)`` structs; the whole battery is 4
    shuffles, every one keyed by (id, …) or (id, value) — doc-scoped,
    skew-free, no payload motion beyond the exploded strings
    themselves. The input is scanned once per family (lines,
    paragraphs, grams, plus the final join's base projection) —
    persist the id+text projection upstream when the scan dominates.

    ``families`` selects which column groups to compute — callers
    gating on one fraction (e.g. ``prepare_corpus``'s line gate) skip
    the other families' shuffles entirely; the output carries only the
    selected columns (Spark cannot eliminate an unused aggregation
    subtree through a left join, so opting out at plan-build time is
    the only way the work actually disappears).
    """
    unknown = set(families) - {"lines", "paras", "grams"}
    if unknown or not families:
        raise ValueError(f"families must be a non-empty subset of "
                         f"lines/paras/grams, got {families!r}")
    base = df.select(id_col, text_col)

    def dup_family(split_expr, prefix):
        vals = (base.select(
            id_col,
            # blank = no \S char; F.trim strips ONLY ' ' (the url
            # canonicalizer fuzz found tab-padded strings dodging it)
            F.explode(F.filter(split_expr,
                               lambda x: x.rlike(r"\S"))).alias("v"))
            .groupBy(id_col, "v").agg(F.count("*").alias("c")))
        return (vals.groupBy(id_col).agg(
            F.sum("c").alias(f"__{prefix}_n"),
            F.count("*").alias(f"__{prefix}_nd"),
            F.sum(F.col("c") * F.length("v")).alias(f"__{prefix}_chars"),
            F.sum(F.when(F.col("c") >= 2,
                         (F.col("c") - 1) * F.length("v"))
                  .otherwise(F.lit(0))).alias(f"__{prefix}_dup_chars")))

    toks = tokens_col(text_col)

    # Grams via ONE posexplode + window lead: tokens shuffle once by
    # id (doc-scoped partitions — skew-free), then every gram size is
    # a codegen'd concat_ws over lead(1..4). The obvious alternative —
    # per-row higher-order transform(slice+array_join) — builds the
    # same 4 arrays of gram structs INTERPRETED per element (HOF
    # lambdas never enter whole-stage codegen) and measured 6x slower
    # on the full family at 200k docs (5.96s vs 0.92s explode wall).
    tok_rows = base.select(id_col, F.posexplode(toks).alias("__p", "t0"))
    w = Window.partitionBy(id_col).orderBy("__p")
    leads = [F.lead("t0", i).over(w).alias(f"t{i}") for i in (1, 2, 3, 4)]
    with_leads = tok_rows.select(id_col, "t0", *leads)
    # lead(i) is NULL only past the doc's end, so t{n-1} non-NULL
    # implies t1..t{n-2} non-NULL: the gate emits exactly the grams
    # whose n tokens all exist (same multiset as slice-based grams)
    grams_arr = F.array(*[
        F.when(F.col(f"t{n - 1}").isNotNull(), F.struct(
            F.lit(n).alias("n"),
            F.concat_ws(" ", "t0", *[f"t{i}" for i in range(1, n)])
            .alias("g")))
        for n in (2, 3, 4, 5)])
    gram_counts = (with_leads
                   .select(id_col, F.explode(grams_arr).alias("ng"))
                   .where(F.col("ng").isNotNull())
                   .groupBy(id_col, "ng").agg(F.count("*").alias("c")))
    gchars = F.col("c") * F.length(F.col("ng.g"))

    def top_of(n):
        return F.max(F.when(F.col("ng.n") == n, gchars))

    grams = (gram_counts.groupBy(id_col).agg(
        top_of(2).alias("__top2"), top_of(3).alias("__top3"),
        top_of(4).alias("__top4"),
        F.sum(F.when((F.col("ng.n") == 5) & (F.col("c") >= 2), gchars)
              .otherwise(F.lit(0))).alias("__dup5")))

    text_len = F.greatest(F.length(F.col(text_col)), F.lit(1))

    def frac(num, den):
        # module-level _frac4 (exact-integer half-up, cross-engine
        # stable) with NULL coalesced to 0 — docs with no lines /
        # paragraphs / grams score 0, not NULL
        return F.coalesce(_frac4(num, den), F.lit(0.0))

    out = base
    cols = [F.col(id_col)]
    if "lines" in families:
        out = out.join(dup_family(F.split(F.col(text_col), "\n"), "ln"),
                       id_col, "left")
        cols += [
            F.coalesce("__ln_n", F.lit(0)).cast("long").alias("n_lines"),
            frac(F.col("__ln_n") - F.col("__ln_nd"),
                 F.col("__ln_n")).alias("dup_line_frac"),
            frac(F.col("__ln_dup_chars"),
                 F.col("__ln_chars")).alias("dup_line_char_frac")]
    if "paras" in families:
        out = out.join(dup_family(F.split(F.col(text_col), "\n{2,}"),
                                  "pa"), id_col, "left")
        cols += [
            frac(F.col("__pa_n") - F.col("__pa_nd"),
                 F.col("__pa_n")).alias("dup_para_frac"),
            frac(F.col("__pa_dup_chars"),
                 F.col("__pa_chars")).alias("dup_para_char_frac")]
    if "grams" in families:
        out = out.join(grams, id_col, "left")
        cols += [
            frac(F.col("__top2"), text_len).alias("top_2gram_char_frac"),
            frac(F.col("__top3"), text_len).alias("top_3gram_char_frac"),
            frac(F.col("__top4"), text_len).alias("top_4gram_char_frac"),
            frac(F.col("__dup5"), text_len).alias("dup_5gram_char_frac")]
    return out.select(*cols)


def with_repetition_stats(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """``repetition_stats`` joined back onto ``df`` (left join on
    ``id_col``; stats ride as extra columns)."""
    return df.join(repetition_stats(df, id_col, text_col), id_col, "left")


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two document fingerprints:
    - fingerprint_md5: md5 of the canonicalized token stream (sorted
      distinct lowercase tokens) — content-defined, order-insensitive;
    - fingerprint_roll: polynomial rolling hash over token lengths+heads
      (cheap shingle-free signature), computed with F.aggregate."""
    canon = F.array_join(F.array_sort(F.array_distinct(tokens_col(text_col))),
                         " ")
    toks = tokens_col(text_col)
    roll = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * F.lit(131) + F.length(t) * F.lit(31)
            + (F.ascii(t) + F.lit(7)), F.lit(1_000_000_007)))
    return (df.withColumn("fingerprint_md5", F.md5(canon))
            .withColumn("fingerprint_roll", roll))
