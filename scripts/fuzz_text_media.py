"""Randomized differential fuzz for textstats and multimodal codecs.

Text part — an INDEPENDENT pure-python re-implementation of the
documented semantics (ASCII-\\s whitespace tokenizer, lowercase,
exact-integer half-up 4dp ratio rounding — probed against Spark
literals before this harness was written) is compared value-for-value against the JVM-side
expressions over adversarial random documents: empty, whitespace-only,
punctuation-only, NBSP-joined tokens (NOT a token break under Java's
ASCII \\s — pinned here so a regex change that silently flips unicode
semantics fails the fuzz), mixed-case, repeated tokens, multilingual
stopword markers (incl. Cyrillic), digits, and NULL rows:

  1. with_token_stats: n_tokens / n_chars / n_distinct /
     avg_token_len / type_token_ratio exactly;
  2. with_quality_score: punct/stopword/repetition ratios and the
     composite score exactly (incl. NULL text -> score 0.0);
  3. with_lang_id: argmax + tie-break + 'und' exactly;
  4. with_fingerprint: md5 canon and the rolling polynomial exactly.

Media part — random P5/P6 images (random sizes, 8- and 16-bit,
adversarial-but-legal headers with comments and mixed whitespace),
random corruptions (bad magic, truncated raster, zero dims):

  5. netpbm_decode(encode(a)) == a / maxval exactly, including
     hand-built headers the encoder never emits;
  6. extract_features flags every corrupt row ok=false and every good
     row ok=true; resize_images drops corrupt rows, output payloads
     re-decode to the nearest-neighbor grid of the source exactly;
  7. sample_frames == a python slice oracle (ceil split, stride).

Urls part — random adversarial urls (mixed-case schemes/hosts, default
and fake ports, tracking params in every position incl. as values,
empty params, fragments containing '?', tab/space padding, schemeless,
NULLs):

  8. canonical_url_col == an independent python re-implementation of
     the seven documented rules, value-for-value, plus idempotence of
     the JVM expression (this leg caught F.trim's space-only
     semantics on its first run: F.trim strips spaces, not tabs).

Repetition part — repetition_stats (Gopher rules) vs an independent
python Counter oracle over multi-line docs with duplicate lines /
paragraphs, blank-only lines (incl. tab-only), separator runs, and
heavy n-gram repetition:

  9. all nine columns value-for-value (this leg caught Spark/python
     double-rounding divergence at an exact .00005 boundary on its
     first run — the operator now rounds in integer space).

Scrub part — with_scrubbed_text vs the python re.ASCII chain over
random concatenations of PII fragments, near-misses, and glue that
stresses \\b interactions:

  10. scrubbed text exactly, plus total rule-hit counts
      (regexp_count) == python findall counts.

Run: python scripts/fuzz_text_media.py [n_trials]   (default 10)
"""

from __future__ import annotations

from collections import Counter
import hashlib
import os
import re
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bloom_filters_spark.operators import multimodal as mm  # noqa: E402
from bloom_filters_spark.operators import textstats as ts  # noqa: E402
from fuzzlib import check, run  # noqa: E402


# ------------------------------------------------------------ text oracle

def _tokens(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s.lower(), flags=re.ASCII)
            if t != ""]


_PUNCT = set(range(33, 48)) | set(range(58, 65)) | \
    set(range(91, 97)) | set(range(123, 127))


def text_oracle(s: str) -> dict:
    toks = _tokens(s)
    n = len(toks)
    dist = sorted(set(toks))
    nd = len(dist)
    nosp = re.sub(r"\s+", "", s, flags=re.ASCII)
    # ratios use the operator's exact-integer half-up 4dp (_frac4 /
    # _rfrac) — double rounding diverges at exact boundaries (the
    # fuzz caught 19/160 = 0.11875 in punct_ratio)
    out = {
        "n_tokens": n,
        "n_chars_calc": len(s),
        "n_distinct_tokens": nd,
        "avg_token_len": _rfrac(len(nosp), max(n, 1)),
        "type_token_ratio": _rfrac(nd, max(n, 1)),
    }
    punct = sum(1 for ch in s if ord(ch) in _PUNCT)
    punct_ratio = punct / max(len(s), 1)
    rep_ratio = 1.0 - nd / max(n, 1)
    sn, sd = len(set(dist) & set(ts.STOPWORDS)), max(nd, 1)
    length_ok = 5 <= n <= 100_000
    score_bp = (4000 if length_ok else 0)
    score_bp += 2000 if punct_ratio < 0.2 else 0
    score_bp += 2000 if rep_ratio < 0.9 else 0
    score_bp += min(2000, (sn * 16000 + sd) // (2 * sd))
    out.update({
        "punct_ratio": _rfrac(punct, max(len(s), 1)),
        "stopword_ratio": _rfrac(sn, sd),
        "repetition_ratio": _rfrac(n - nd, max(n, 1)),
        "quality_score": score_bp / 10000.0,
    })
    hits = {code: len(set(dist) & set(ws))
            for code, ws in ts.LANG_MARKERS.items()}
    best = max(sorted(hits), key=lambda c: (hits[c], c))
    out["lang_guess"] = best if hits[best] > 0 else "und"
    out["fingerprint_md5"] = hashlib.md5(
        " ".join(dist).encode("utf-8")).hexdigest()
    acc = 0
    for t in toks:
        acc = (acc * 131 + len(t) * 31 + (ord(t[0]) + 7)) % 1_000_000_007
    out["fingerprint_roll"] = acc
    return out


_WORD_POOLS = [
    ["the", "and", "of", "to", "in"],                  # en markers
    ["der", "die", "und", "ist"],                      # de markers
    ["и", "в", "не", "на", "что"],                     # ru markers (cyrillic)
    ["le", "la", "les", "est"],                        # fr markers
    ["alpha", "Bravo", "CHARLIE", "d3lta", "échos"],   # mixed case/accents
    ["!!!", "?!", "...", "[ok]", "{x}", "a,b,c"],      # punctuation-heavy
    ["123", "4.5", "0x1f"],                            # digits
]
_SEPS = [" ", "  ", "\t", "\n", "\r\n", " \t "]


def random_doc(rng) -> str:
    style = rng.integers(0, 10)
    if style == 0:
        return ""
    if style == 1:
        return str(rng.choice([" ", "\t\t", " \n ", "   "]))
    if style == 2:
        return str(rng.choice(["!!!", "???", ",.;:", "[]{}"]))
    if style == 3:                                     # NBSP-joined tokens
        # second form: NBSP BORDERING punctuation — python's \s is
        # Unicode (NBSP included) while Java/RE2's is ASCII, so a bare
        # \s anywhere in a shared pattern diverges exactly here (the
        # review pass caught BPE_SPLIT doing this; it now spells the
        # ASCII class out explicitly)
        return str(rng.choice(["the\xa0quick brown\xa0fox and the dog",
                               "quote \xab\xa0\xbb and\xa0!? end"]))
    n_words = int(rng.integers(1, 60))
    words = []
    for _ in range(n_words):
        pool = _WORD_POOLS[int(rng.integers(0, len(_WORD_POOLS)))]
        w = str(pool[int(rng.integers(0, len(pool)))])
        if rng.random() < 0.1:
            w = w * int(rng.integers(1, 4))            # repetition
        words.append(w)
    if rng.random() < 0.3:                             # heavy repetition doc
        words = [words[0]] * len(words)
    sep = str(_SEPS[int(rng.integers(0, len(_SEPS)))])
    doc = sep.join(words)
    if rng.random() < 0.3:
        doc = " " + doc + "\n"
    return doc


_TEXT_COLS = ["n_tokens", "n_chars_calc", "n_distinct_tokens",
              "avg_token_len", "type_token_ratio", "punct_ratio",
              "stopword_ratio", "repetition_ratio", "quality_score",
              "lang_guess", "fingerprint_md5", "fingerprint_roll"]


def trial_text(spark, rng, seed):
    docs = [random_doc(rng) for _ in range(int(rng.integers(30, 120)))]
    rows = [(i, d) for i, d in enumerate(docs)] + [(len(docs), None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ts.with_fingerprint(
        ts.with_lang_id(ts.with_quality_score(ts.with_token_stats(df))))
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    for i, d in enumerate(docs):
        want = text_oracle(d)
        g = got[i]
        for c in _TEXT_COLS:
            check(g[c] == want[c],
                  f"textstats {c} doc={i} seed={seed}: "
                  f"got={g[c]!r} want={want[c]!r} text={d!r}")
    check(got[len(docs)]["quality_score"] == 0.0,
          f"NULL text quality_score {got[len(docs)]['quality_score']} "
          f"!= 0.0 seed={seed}")
    # BPE-ish pre-token count == python findall over the same pattern
    for i, d in enumerate(docs):
        want_bpe = len(re.findall(ts.BPE_SPLIT, d))
        check(got[i]["n_bpe_tokens"] == want_bpe,
              f"n_bpe_tokens doc={i} seed={seed}: "
              f"got={got[i]['n_bpe_tokens']} want={want_bpe} text={d!r}")
    check(got[len(docs)]["n_bpe_tokens"] == 0,
          f"NULL text n_bpe_tokens != 0 seed={seed}")


# ----------------------------------------------------------- media oracle

def _adversarial_header(rng, magic: bytes, w: int, h: int,
                        maxval: int) -> bytes:
    """A legal-but-weird Netpbm header: comments + mixed whitespace."""
    parts = [magic]
    fields = [str(w).encode(), str(h).encode(), str(maxval).encode()]
    for fld in fields:
        ws = rng.choice([b"\n", b" ", b"\t", b"\n\n ", b" \t"])
        parts.append(bytes(ws))
        if rng.random() < 0.4:
            parts.append(b"# a comment %d\n" % int(rng.integers(0, 99)))
        parts.append(fld)
    parts.append(b"\n")
    return b"".join(parts)


def trial_media(spark, rng, seed):
    n_good = int(rng.integers(5, 15))
    payloads, arrays = [], []
    for i in range(n_good):
        h = int(rng.integers(1, 33))
        w = int(rng.integers(1, 33))
        rgb = rng.random() < 0.4
        wide = rng.random() < 0.3
        maxval = 65535 if wide else 255
        shape = (h, w, 3) if rgb else (h, w)
        a = rng.integers(0, maxval + 1, shape)
        raster = (a.astype(">u2") if wide else
                  a.astype(np.uint8)).tobytes()
        hdr = _adversarial_header(rng, b"P6" if rgb else b"P5",
                                  w, h, maxval)
        payloads.append(hdr + raster)
        arrays.append(a.astype(np.float32) / np.float32(maxval))

    # direct decode parity on the adversarial headers
    for i, (p, a) in enumerate(zip(payloads, arrays)):
        got = mm.netpbm_decode(p)
        check(got.shape == a.shape and np.array_equal(got, a),
              f"netpbm_decode mismatch img={i} seed={seed}")

    corrupt = [
        b"JFIF not a pnm",
        payloads[0][: len(payloads[0]) // 2],          # truncated raster
        b"P5\n0 5\n255\n" + b"\x00" * 32,              # zero width
        b"P5\n4 4\n70000\n" + b"\x00" * 32,            # maxval too big
        bytes([0, 1, 2]),
        None,
    ]
    rows = ([(i, "image", p, (0, 0, 1, 0)) for i, p in enumerate(payloads)]
            + [(100 + j, "image", c, (0, 0, 1, 0))
               for j, c in enumerate(corrupt)])
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)

    feats = {r["media_id"]: r["ok"]
             for r in mm.extract_features(df).collect()}
    for i in range(n_good):
        check(feats[i] is True, f"good img {i} flagged !ok seed={seed}")
    for j in range(len(corrupt)):
        check(feats[100 + j] is False,
              f"corrupt img {j} not flagged seed={seed}")

    tw = int(rng.integers(1, 17))
    th = int(rng.integers(1, 17))
    rez = {r["media_id"]: bytes(r["payload"])
           for r in mm.resize_images(df, tw, th).collect()}
    check(set(rez) == set(range(n_good)),
          f"resize kept wrong row set {sorted(rez)} seed={seed}")
    for i, a in enumerate(arrays):
        yi = np.linspace(0, a.shape[0] - 1, th).astype(int)
        xi = np.linspace(0, a.shape[1] - 1, tw).astype(int)
        want = np.clip(np.rint(a[np.ix_(yi, xi)] * 255.0), 0,
                       255).astype(np.uint8) / np.float32(255)
        got = mm.netpbm_decode(rez[i])
        check(got.shape == want.shape and np.array_equal(
            got.astype(np.float32), want.astype(np.float32)),
            f"resize round-trip mismatch img={i} seed={seed}")

    fb = int(rng.integers(3, 80))
    ev = int(rng.integers(1, 4))
    frames = {}
    for r in mm.sample_frames(df, every_n=ev, frame_bytes=fb).collect():
        frames.setdefault(r["media_id"], {})[r["frame_idx"]] = \
            bytes(r["frame"])
    for i, p in enumerate(payloads):
        n_frames = -(-len(p) // fb)
        want_idx = list(range(0, n_frames, ev))
        got_f = frames.get(i, {})
        check(sorted(got_f) == want_idx,
              f"sample_frames idx mismatch img={i} seed={seed}")
        for fi in want_idx:
            check(got_f.get(fi) == p[fi * fb:(fi + 1) * fb],
                  f"sample_frames bytes mismatch img={i} f={fi} "
                  f"seed={seed}")


def _py_canon(u):
    """Independent python re-implementation of the seven
    canonicalization rules in operators/urls.py (module docstring) —
    probed against the JVM expression, not derived from it."""
    import re as _re
    if u is None:
        return None
    s = _re.sub(r"^\s+|\s+$", "", u, flags=_re.ASCII)
    s = _re.sub(r"#.*$", "", s)
    m = _re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", s)
    pfx = m.group(1) if m else ""
    s = pfx.lower() + s[len(pfx):]
    s = _re.sub(r"^(http://[^/?#:]+):80(?=[/?#]|$)", r"\1", s)
    s = _re.sub(r"^(https://[^/?#:]+):443(?=[/?#]|$)", r"\1", s)
    if "?" in s:
        base, q = s.split("?", 1)
        pat = _re.compile(
            r"^(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid)(=|$)")
        kept = "&".join(p for p in q.split("&") if not pat.match(p))
        s = base if kept == "" else base + "?" + kept
    return _re.sub(r"^([a-z][a-z0-9+.-]*://[^/?#]+)/$", r"\1", s)


def _random_url(rng) -> str | None:
    if rng.random() < 0.03:
        return None
    r = rng.random
    scheme = rng.choice(["http", "https", "HTTP", "HtTpS", "ftp", ""])
    host = rng.choice(["Example.COM", "h.com", "WWW.Site.org",
                       "xn--bcher-kva.ch", "a.b.c.d.e"])
    port = rng.choice(["", ":80", ":443", ":8080", ":080"])
    path = rng.choice(["", "/", "/Path/Page", "/x/", "/A//B", "/p"])
    params = []
    for _ in range(int(rng.integers(0, 4))):
        params.append(rng.choice(
            ["a=1", "utm_source=x", "utm_=y", "UTM_SOURCE=z", "fbclid",
             "gclid=g", "keep=2", "", "=v", "k=", "a=utm_source",
             "z=%20&"]))
    query = "?" + "&".join(params) if (params or r() < 0.15) else ""
    frag = rng.choice(["", "#f", "#a?utm_source=1", "#?"])
    pad = rng.choice(["", " ", "  \t"])
    base = f"{scheme}://{host}{port}" if scheme else rng.choice(
        ["relative/path", host, ""])
    return f"{pad}{base}{path}{query}{frag}{pad}"


def trial_urls(spark, rng, seed):
    """canonical_url_col vs the independent python oracle over random
    adversarial urls (mixed-case schemes/hosts, default + fake ports,
    tracking params in every position, empty params, fragments with
    '?', whitespace padding, schemeless, NULLs) — value-for-value, and
    idempotence of the JVM expression itself."""
    import pandas as pd
    from pyspark.sql import functions as F
    from bloom_filters_spark.operators import with_canonical_url

    urls = [_random_url(rng) for _ in range(int(rng.integers(80, 200)))]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(urls)),
                      "url": pd.Series(urls, dtype="object")}),
        "i long, url string")
    got = {r["i"]: r["canonical_url"]
           for r in with_canonical_url(df).collect()}
    for i, u in enumerate(urls):
        want = _py_canon(u)
        check(got[i] == want,
              f"canon mismatch seed={seed} url={u!r} "
              f"want={want!r} got={got[i]!r}")
    once = with_canonical_url(df).select(
        "i", F.col("canonical_url").alias("url"))
    twice = with_canonical_url(once)
    n_ni = twice.where(~F.col("canonical_url").eqNullSafe(
        F.col("url"))).count()
    check(n_ni == 0, f"canon not idempotent seed={seed} ({n_ni} rows)")


# ----------------------------------------------- repetition-stats oracle

def _rfrac(num: int, den: int) -> float:
    """The operator's exact-integer half-up 4dp rounding of num/den."""
    return ((num * 20000 + den) // (2 * den)) / 10000.0


def _rep_family(vals):
    vals = [v for v in vals if re.search(r"\S", v, flags=re.ASCII)]
    if not vals:
        return 0, 0.0, 0.0
    c = Counter(vals)
    n, nd = len(vals), len(c)
    chars = sum(k * len(v) for v, k in c.items())
    dupch = sum((k - 1) * len(v) for v, k in c.items() if k >= 2)
    return n, _rfrac(n - nd, n), _rfrac(dupch, chars)


def repetition_oracle(s: str | None) -> dict:
    """Independent python re-derivation of the documented
    repetition_stats semantics (Gopher rules): \\n line split,
    \\n{2,} paragraph split, ASCII \\S blank test, lowercase ASCII-\\s
    tokens, gram = tokens joined by ' ', exact-integer half-up 4dp."""
    out = {"n_lines": 0, "dup_line_frac": 0.0, "dup_line_char_frac": 0.0,
           "dup_para_frac": 0.0, "dup_para_char_frac": 0.0,
           "top_2gram_char_frac": 0.0, "top_3gram_char_frac": 0.0,
           "top_4gram_char_frac": 0.0, "dup_5gram_char_frac": 0.0}
    if s is None:
        return out
    nl, dlf, dlcf = _rep_family(s.split("\n"))
    np_, dpf, dpcf = _rep_family(re.split(r"\n{2,}", s))
    out.update(n_lines=nl, dup_line_frac=dlf, dup_line_char_frac=dlcf,
               dup_para_frac=dpf, dup_para_char_frac=dpcf)
    toks = _tokens(s)
    tl = max(len(s), 1)
    for n in (2, 3, 4):
        grams = Counter(" ".join(toks[i:i + n])
                        for i in range(len(toks) - n + 1))
        top = max((k * len(g) for g, k in grams.items()), default=0)
        out[f"top_{n}gram_char_frac"] = _rfrac(top, tl)
    g5 = Counter(" ".join(toks[i:i + 5]) for i in range(len(toks) - 4))
    out["dup_5gram_char_frac"] = _rfrac(
        sum(k * len(g) for g, k in g5.items() if k >= 2), tl)
    return out


def random_multiline_doc(rng) -> str | None:
    """Docs with line/paragraph structure: repeated lines, blank-only
    lines (incl. tab-only — the \\S test must not follow F.trim's
    space-only semantics), repeated paragraphs, runs of 2+ newlines,
    heavy token repetition for the n-gram legs."""
    style = int(rng.integers(0, 12))
    if style == 0:
        return None
    if style == 1:
        return ""
    if style == 2:
        return str(rng.choice(["\n\n\n", " \n\t\n ", "\t", "\n \n"]))
    lines = []
    pool = ["alpha beta", "gamma delta epsilon", "the quick fox",
            "zeta", "repeat me twice", "x y z w", "tabs\there",
            " padded line ", "", " ", "\t", "один два три"]
    for _ in range(int(rng.integers(1, 25))):
        ln = str(pool[int(rng.integers(0, len(pool)))])
        if rng.random() < 0.3:
            ln = ln + " " + str(int(rng.integers(0, 4)))
        lines.append(ln)
    if rng.random() < 0.5 and lines:          # force duplicate lines
        lines += [lines[0]] * int(rng.integers(1, 4))
    sep_pool = ["\n", "\n\n", "\n\n\n", "\n \n"]
    doc = ""
    for i, ln in enumerate(lines):
        if i:
            doc += str(sep_pool[int(rng.integers(0, len(sep_pool)))])
        doc += ln
    if rng.random() < 0.3:                    # heavy n-gram repetition
        doc += "\n" + " ".join(["spam ham"] * int(rng.integers(3, 10)))
    return doc


_FAMILY_COLS = {"lines": ["n_lines", "dup_line_frac",
                          "dup_line_char_frac"],
                "paras": ["dup_para_frac", "dup_para_char_frac"],
                "grams": ["top_2gram_char_frac", "top_3gram_char_frac",
                          "top_4gram_char_frac", "dup_5gram_char_frac"]}


def trial_repetition(spark, rng, seed):
    docs = [random_multiline_doc(rng)
            for _ in range(int(rng.integers(25, 80)))]
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    # random non-empty families subset (2/3 of trials run all three):
    # a subset run must return exactly the selected columns with the
    # same values the full run returns
    fams = ("lines", "paras", "grams")
    if rng.random() < 1 / 3:
        fams = tuple(f for f in fams if rng.random() < 0.6) or ("lines",)
    cols = [c for f in fams for c in _FAMILY_COLS[f]]
    out_df = ts.repetition_stats(df, families=fams)
    check(out_df.columns == ["doc_id"] + cols,
          f"repetition columns for {fams}: {out_df.columns} seed={seed}")
    got = {r["doc_id"]: r.asDict() for r in out_df.collect()}
    check(len(got) == len(docs),
          f"repetition row count {len(got)} != {len(docs)} seed={seed}")
    for i, d in enumerate(docs):
        want = repetition_oracle(d)
        for c in cols:
            check(got[i][c] == want[c],
                  f"repetition {c} doc={i} fams={fams} seed={seed}: "
                  f"got={got[i][c]!r} want={want[c]!r} text={d!r}")


# ------------------------------------------------------ pii scrub oracle

_PII_FRAGS = [
    "user@example.com", "a.b+c@sub.domain.org", "x@y.z", "not@an",
    "192.168.0.1", "10.0.0.255", "999.999.999.999", "v1.2.3.4",
    "4111 1111 1111 1111", "4111-1111-1111-1111", "4242424242424242",
    "12345678901234567", "123-45-6789", "123-456-789",
    "+14155552671", "+123456", "(415) 555-2671", "415.555.2671",
    "415 555 2671", "5551234", "plain words", "punct!?", "",
    "evil@", "@evil.com", "1.2", "12-34-5678",
]


def py_scrub(s: str | None):
    from bloom_filters_spark.operators.scrub import PII_RULES
    if s is None:
        return None
    for tag, pat in PII_RULES:
        s = re.sub(pat, tag, s, flags=re.ASCII)
    return s


def py_counts(s: str | None) -> int:
    from bloom_filters_spark.operators.scrub import PII_RULES
    if s is None:
        return 0
    return sum(len(re.findall(pat, s, flags=re.ASCII))
               for _, pat in PII_RULES)


def trial_scrub(spark, rng, seed):
    """with_scrubbed_text vs the python re.ASCII chain: random
    concatenations of PII fragments and near-misses with random
    glue (spaces, punctuation, digits touching fragments — the \\b
    interactions are the risky part)."""
    from bloom_filters_spark.operators import with_scrubbed_text
    glue = [" ", "  ", ", ", ". ", "x", "7", " -", "\t", "\n"]
    docs: list[str | None] = [None]
    for _ in range(int(rng.integers(30, 90))):
        n = int(rng.integers(1, 6))
        parts = []
        for j in range(n):
            parts.append(str(_PII_FRAGS[int(rng.integers(
                0, len(_PII_FRAGS)))]))
            if j + 1 < n:
                parts.append(str(glue[int(rng.integers(0, len(glue)))]))
        docs.append("".join(parts))
    df = spark.createDataFrame(list(enumerate(docs)),
                               "i long, text string")
    got = {r["i"]: r.asDict() for r in with_scrubbed_text(df).collect()}
    for i, d in enumerate(docs):
        want = py_scrub(d)
        check(got[i]["text_scrubbed"] == want,
              f"scrub text i={i} seed={seed}: "
              f"got={got[i]['text_scrubbed']!r} want={want!r} in={d!r}")
        total = (got[i]["n_emails"] + got[i]["n_cards"] + got[i]["n_ids"]
                 + got[i]["n_ips"] + got[i]["n_phones"])
        check(total == py_counts(d),
              f"scrub counts i={i} seed={seed}: got={total} "
              f"want={py_counts(d)} in={d!r}")


if __name__ == "__main__":
    run("fuzz-text-media",
        [trial_text, trial_media, trial_urls, trial_repetition,
         trial_scrub],
        trials=10, seed_base=9_500_000)
