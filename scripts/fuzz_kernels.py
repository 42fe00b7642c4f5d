"""Randomized kernel fuzz (driver-side numpy only, no Spark).

Usage: python scripts/fuzz_kernels.py [n_trials]   (default 60; run loop
and summary line in scripts/fuzzlib.py)
Round-5 record: 300 trials x 10 kernels = 3000 randomized contracts,
0 failures at 300 and at 1000 trials (IBF decode non-completion 7/1000 at the minimal 3d+8 cell
sizing with d<=22 — textbook IBLT probabilistic behavior, handled by
the reconcile operators' capacity sizing, rate-gated at 5% here).

Invariants checked against exact oracles per random trial:
- serialization round-trip byte-identity for every kernel
- merge associativity/commutativity byte-identity (HLL, Bloom, theta,
  CMS, counting) and estimate-equality (KLL, t-digest, MG)
- HLL estimate within 4*1.04/sqrt(m) of exact distinct across p in 4..18
  and cardinalities crossing the sparse->dense boundary
- Bloom: zero false negatives at any fill; CMS never underestimates;
  MG bound |est-true| <= n/capacity
- KLL/TDigest quantiles within rank-error bound vs sorted truth
- IBF: peel recovers the symmetric difference when sized; Cuckoo:
  insert->exists, remove->absent, no false negatives among residents
- mixed-order update_hashes vs bulk build byte-identity (HLL, Bloom)
- payload codec: for every registered kind, random params (varint ints
  of either sign, f64 floats, None, any subset) and random buffers
  (every codec dtype, 0-3 dims, empty dims included) round-trip through
  ``pack``/``unpack`` with equal kind, param values and types, dtypes,
  shapes and bytes; the same content in the legacy JSON framing decodes
  to the same state, and a random HLL / Bloom sketch restored from its
  legacy payload re-encodes to the binary bytes; a truncated payload, an
  unknown kind byte and an unknown version byte each raise ValueError
"""
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bloom_filters_spark.kernels import (
    BloomSketch, CountMinSketch, CountingBloomSketch, CuckooFilter,
    HLLSketch, InvertibleBloomSketch, KLLSketch, MisraGriesSketch,
    TDigest, ThetaSketch, sketch_from_bytes)
from bloom_filters_spark.kernels import base
from fuzzlib import check, run

IBF_FAILS = []
IBF_TRIES = [0]


def rand_hashes(rng, n, dupe_frac=0.3):
    base = rng.integers(-(2**63), 2**63 - 1, size=max(int(n * (1 - dupe_frac)), 1), dtype=np.int64)
    idx = rng.integers(0, len(base), size=n)
    return base[idx]


def trial_hll(rng, seed):
    p = int(rng.integers(4, 19))
    n = int(rng.integers(0, 60_000))
    hs = rand_hashes(rng, n) if n else np.array([], dtype=np.int64)
    sk = HLLSketch(p)
    # split into random chunks, shuffled order
    chunks = np.array_split(hs, max(int(rng.integers(1, 8)), 1))
    order = list(range(len(chunks)))
    rng.shuffle(order)
    for i in order:
        if len(chunks[i]):
            sk.update_hashes(chunks[i])
    bulk = HLLSketch(p)
    if n:
        bulk.update_hashes(hs)
    check(sk.to_bytes() == bulk.to_bytes(),
          f"hll chunked!=bulk p={p} n={n} seed={seed}")
    rt = sketch_from_bytes(sk.to_bytes())
    check(rt.to_bytes() == sk.to_bytes(), f"hll roundtrip p={p} seed={seed}")
    exact = len(np.unique(hs)) if n else 0
    est = sk.estimate()
    if exact > 10:
        tol = 4 * 1.04 / (2 ** (p / 2)) + 0.03
        check(abs(est - exact) / exact <= tol,
              f"hll bound p={p} exact={exact} est={est} seed={seed}")
    else:
        check(abs(est - exact) <= max(3, exact), f"hll tiny p={p} exact={exact} est={est} seed={seed}")
    # merge associativity
    a, b, c = HLLSketch(p), HLLSketch(p), HLLSketch(p)
    for s in (a, b, c):
        m = int(rng.integers(0, 5000))
        if m:
            s.update_hashes(rand_hashes(rng, m))
    ab_c = a.merge(b).merge(c)
    a_bc = b.merge(c).merge(a)
    check(ab_c.to_bytes() == a_bc.to_bytes(), f"hll assoc p={p} seed={seed}")


def trial_bloom(rng, seed):
    cap = int(rng.integers(10, 50_000))
    pr = float(rng.choice([0.5, 0.1, 0.01, 0.001]))
    sk = BloomSketch.from_capacity(cap, pr)
    n = int(rng.integers(0, cap * 2))
    hs = rand_hashes(rng, n) if n else np.array([], dtype=np.int64)
    chunks = np.array_split(hs, max(int(rng.integers(1, 6)), 1))
    for ch in chunks:
        if len(ch):
            sk.update_hashes(ch)
    bulk = BloomSketch.from_capacity(cap, pr)
    if n:
        bulk.update_hashes(hs)
    check(sk.to_bytes() == bulk.to_bytes(), f"bloom chunk!=bulk seed={seed}")
    if n:
        hits = sk.contains_hashes(hs)
        check(bool(np.all(hits)), f"bloom FALSE NEGATIVE seed={seed}")
    rt = sketch_from_bytes(sk.to_bytes())
    check(rt.to_bytes() == sk.to_bytes(), f"bloom roundtrip seed={seed}")


def trial_k20_quirk(rng, seed):
    """K20 quirk twin: chunk==bulk, roundtrip, no-FN, and the
    quirk|slot0 == standard-k identity under random sizings."""
    from bloom_filters_spark.kernels.bloom import (
        BloomSketch as _B, K20QuirkBloom, optimal_k, optimal_m)
    cap = int(rng.integers(10, 20_000))
    pr = float(rng.choice([0.5, 0.1, 0.01, 0.001]))
    m = optimal_m(cap, pr)
    k = optimal_k(m, cap)
    sk = K20QuirkBloom(m, k)
    n = int(rng.integers(0, cap * 2))
    hs = rand_hashes(rng, n) if n else np.array([], dtype=np.int64)
    for ch in np.array_split(hs, max(int(rng.integers(1, 6)), 1)):
        if len(ch):
            sk.update_hashes(ch)
    bulk = K20QuirkBloom(m, k)
    if n:
        bulk.update_hashes(hs)
    check(sk.to_bytes() == bulk.to_bytes(), f"k20 chunk!=bulk seed={seed}")
    rt = sketch_from_bytes(sk.to_bytes())
    check(type(rt) is K20QuirkBloom and rt.to_bytes() == sk.to_bytes(),
          f"k20 roundtrip seed={seed}")
    if n:
        check(bool(np.all(sk.contains_hashes(hs))),
              f"k20 FALSE NEGATIVE seed={seed}")
        std, slot0 = _B(m, k), _B(m, 1)
        std.update_hashes(hs)
        slot0.update_hashes(hs)
        check(np.bitwise_or(sk.bits, slot0.bits).tobytes()
              == std.bits.tobytes(),
              f"k20 union identity broken seed={seed}")
        if k >= 2:
            check(sk.bits_set() <= std.bits_set(),
                  f"k20 heavier than standard seed={seed}")


def trial_cms(rng, seed):
    d = int(rng.integers(2, 7))
    w = int(rng.integers(16, 4096))
    sk = CountMinSketch(d, w)
    n = int(rng.integers(1, 30_000))
    keys = rng.integers(0, max(n // 4, 2), size=n)
    hs = np.array([hash(("k", int(k))) for k in keys], dtype=np.int64)
    sk.update_hashes(hs)
    import collections
    true = collections.Counter(hs.tolist())
    probe = np.array(list(true.keys()), dtype=np.int64)
    est = sk.estimate_hashes(probe)
    tv = np.array([true[int(h)] for h in probe])
    check(bool(np.all(est >= tv)), f"cms UNDERestimate d={d} w={w} seed={seed}")
    # merge == concat
    sk2 = CountMinSketch(d, w)
    hs2 = rand_hashes(rng, int(rng.integers(1, 5000)))
    sk2.update_hashes(hs2)
    m1 = CountMinSketch(d, w); m1.update_hashes(hs)
    m1 = m1.merge(sk2)
    m2 = CountMinSketch(d, w); m2.update_hashes(np.concatenate([hs, hs2]))
    check(m1.to_bytes() == m2.to_bytes(), f"cms merge!=concat seed={seed}")


def trial_kll(rng, seed):
    k = int(rng.choice([64, 128, 200, 512]))
    n = int(rng.integers(1, 40_000))
    vals = rng.normal(0, 1000, size=n)
    sk = KLLSketch(k)
    for ch in np.array_split(vals, max(int(rng.integers(1, 6)), 1)):
        if len(ch):
            sk.update_values(ch)
    srt = np.sort(vals)
    eps = sk.rank_error if hasattr(sk, "rank_error") else 1.7 / k * 10
    for q in (0.1, 0.5, 0.9):
        est = sk.quantile(q)
        # rank of est in sorted truth
        r = np.searchsorted(srt, est, side="right") / n
        check(abs(r - q) <= max(3.0 * eps, 0.05) + 2.0 / n,
              f"kll rank err k={k} n={n} q={q} r={r:.3f} seed={seed}")
    rt = sketch_from_bytes(sk.to_bytes())
    check(rt.quantile(0.5) == sk.quantile(0.5), f"kll roundtrip seed={seed}")


def trial_tdigest(rng, seed):
    n = int(rng.integers(1, 30_000))
    vals = rng.gamma(2.0, 100.0, size=n)
    sk = TDigest()
    for ch in np.array_split(vals, max(int(rng.integers(1, 6)), 1)):
        if len(ch):
            sk.update_values(ch)
    srt = np.sort(vals)
    for q in (0.05, 0.5, 0.95):
        est = sk.quantile(q)
        r = np.searchsorted(srt, est, side="right") / n
        check(abs(r - q) <= 0.06 + 2.0 / n,
              f"tdigest rank q={q} r={r:.3f} n={n} seed={seed}")
    rt = sketch_from_bytes(sk.to_bytes())
    check(abs(rt.quantile(0.5) - sk.quantile(0.5)) < 1e-9,
          f"tdigest roundtrip seed={seed}")


def trial_mg(rng, seed):
    cap = int(rng.integers(4, 128))
    n = int(rng.integers(1, 20_000))
    # zipf-ish keys
    keys = (rng.zipf(1.3, size=n) % 1000).astype(np.int64)
    hs = keys  # MG takes hashes; keys already int64
    sk = MisraGriesSketch(cap)
    for ch in np.array_split(hs, max(int(rng.integers(1, 6)), 1)):
        if len(ch):
            sk.update_hashes(ch)
    import collections
    true = collections.Counter(hs.tolist())
    probe = np.array(list(true.keys()), dtype=np.int64)
    est = sk.estimate_hashes(probe)
    tv = np.array([true[int(h)] for h in probe])
    check(bool(np.all(est <= tv)),
          f"mg OVERestimate cap={cap} seed={seed}")
    check(bool(np.all(tv - est <= sk.error_bound)),
          f"mg bound cap={cap} seed={seed} worst={int((tv-est).max())} eb={sk.error_bound}")
    check(sk.error_bound <= n // (cap + 1) + 1,
          f"mg error_bound too large cap={cap} n={n} eb={sk.error_bound} seed={seed}")
    # merge: bound still holds on concatenated stream
    hs2 = (rng.zipf(1.3, size=int(rng.integers(1, 5000))) % 1000).astype(np.int64)
    sk2 = MisraGriesSketch(cap); sk2.update_hashes(hs2)
    m = sk.merge(sk2)
    true2 = collections.Counter(np.concatenate([hs, hs2]).tolist())
    probe2 = np.array(list(true2.keys()), dtype=np.int64)
    tv2 = np.array([true2[int(h)] for h in probe2])
    est2 = m.estimate_hashes(probe2)
    check(bool(np.all(est2 <= tv2)), f"mg merged OVERestimate seed={seed}")
    check(bool(np.all(tv2 - est2 <= m.error_bound)),
          f"mg merged bound seed={seed}")


def trial_ibf(rng, seed):
    d = int(rng.integers(1, 60))
    cells = int(d * 3 + 8)
    a = InvertibleBloomSketch(cells)
    b = InvertibleBloomSketch(cells)
    common = rand_hashes(rng, int(rng.integers(0, 3000)), dupe_frac=0)
    common = np.unique(common)
    extra = np.unique(rand_hashes(rng, d, dupe_frac=0))
    if len(common):
        a.update_hashes(common); b.update_hashes(common)
    if len(extra):
        a.update_hashes(extra)
    IBF_TRIES[0] += 1
    diff = a.subtract(b)
    keys, signs, decoded = diff.peel()
    if decoded:
        left = set(int(k) for k, s in zip(keys, signs) if s > 0)
        check(left == set(int(np.uint64(x)) for x in extra),
              f"ibf peel wrong seed={seed} d={len(extra)}")
        check(not any(s < 0 for s in signs),
              f"ibf phantom right-side keys seed={seed}")
    else:
        # IBLT decode is probabilistic; rare failures at 3x+8 sizing
        # are legitimate (cell-triple collisions / 2-core cycles) and
        # reconcile ops handle them by resizing. Track the rate.
        IBF_FAILS.append((len(extra), cells, seed))


def trial_cuckoo(rng, seed):
    cap = int(rng.integers(64, 8192))
    sk = CuckooFilter(cap)
    n = int(rng.integers(1, max(int(cap * 0.9), 2)))
    hs = np.unique(rand_hashes(rng, n, dupe_frac=0))
    sk.update_hashes(hs)
    check(bool(np.all(sk.contains_hashes(hs))),
          f"cuckoo FALSE NEGATIVE seed={seed}")
    half = hs[: len(hs) // 2]
    rest = hs[len(hs) // 2:]
    if len(half):
        sk.remove_hashes(half)
    if len(rest):
        check(bool(np.all(sk.contains_hashes(rest))),
              f"cuckoo lost residents after remove seed={seed}")
    rt = sketch_from_bytes(sk.to_bytes())
    check(rt.to_bytes() == sk.to_bytes(), f"cuckoo roundtrip seed={seed}")


def trial_counting(rng, seed):
    m = int(rng.integers(64, 1 << 16))
    k = int(rng.integers(2, 8))
    sk = CountingBloomSketch(m, k)
    n = int(rng.integers(1, 10_000))
    hs = np.unique(rand_hashes(rng, n, dupe_frac=0))
    sk.update_hashes(hs)
    # remove a random subset — possibly via a DIFFERENT partial merged
    # in (the signed-partial distributed-delete path)
    nrm = int(rng.integers(0, len(hs) + 1))
    rm = rng.permutation(hs)[:nrm]
    if rng.integers(0, 2):
        part = CountingBloomSketch(m, k)
        part.remove_hashes(rm)
        sk = sk.merge(part)
    else:
        sk.remove_hashes(rm)
    kept = np.setdiff1d(hs, rm)
    if len(kept):
        check(bool(np.all(sk.contains_hashes(kept))),
              f"counting FALSE NEGATIVE m={m} k={k} seed={seed}")
    # insert-order/chunk independence
    bulk = CountingBloomSketch(m, k)
    bulk.update_hashes(hs)
    bulk.remove_hashes(rm)
    chk = CountingBloomSketch(m, k)
    for ch in np.array_split(rng.permutation(hs), 3):
        if len(ch):
            chk.update_hashes(ch)
    chk.remove_hashes(rm)
    check(bulk.to_bytes() == chk.to_bytes(),
          f"counting chunk!=bulk seed={seed}")
    rt = sketch_from_bytes(sk.to_bytes())
    check(rt.to_bytes() == sk.to_bytes(), f"counting roundtrip seed={seed}")


def trial_theta(rng, seed):
    k = int(rng.choice([256, 1024, 4096]))
    a = ThetaSketch(k); b = ThetaSketch(k)
    na, nb = int(rng.integers(0, 20000)), int(rng.integers(0, 20000))
    ha = np.unique(rand_hashes(rng, max(na, 1), dupe_frac=0))[:na]
    hb = np.unique(rand_hashes(rng, max(nb, 1), dupe_frac=0))[:nb]
    if len(ha):
        a.update_hashes(ha)
    if len(hb):
        b.update_hashes(hb)
    u = a.merge(b)
    exact_u = len(np.union1d(ha, hb))
    if exact_u > 50:
        check(abs(u.estimate() - exact_u) / exact_u <= 5 / np.sqrt(k) + 0.02,
              f"theta union bound k={k} exact={exact_u} est={u.estimate()} seed={seed}")


def _legacy_pack(kind, params, *bufs):
    """The pre-binary framing: JSON header, a NUL byte, the buffers."""
    header = {"kind": kind, "params": params,
              "bufs": [[b.dtype.str, list(b.shape)] for b in bufs]}
    return b"".join([json.dumps(header, separators=(",", ":")).encode(),
                     b"\x00", *(np.ascontiguousarray(b).tobytes()
                                for b in bufs)])


def _rand_param(rng):
    r = int(rng.integers(0, 6))
    if r == 0:
        return None
    if r == 1:
        return float(rng.choice([0.0, -0.0, np.inf, -np.inf,
                                 rng.normal() * 1e6]))
    if r == 2:
        return -int(rng.integers(1, 2**62)) * int(rng.integers(1, 16))
    return int(rng.integers(0, 2**62)) >> int(rng.integers(0, 62))


def _rand_buf(rng):
    dt = base._DTYPES[int(rng.integers(0, len(base._DTYPES)))]
    shape = tuple(int(d) for d in rng.integers(0, 6, int(rng.integers(0, 4))))
    raw = rng.integers(0, 256, int(np.prod(shape)) * dt.itemsize,
                       dtype=np.uint8)
    if dt.kind == "b":
        raw &= 1
    return np.frombuffer(raw.tobytes(), dt).reshape(shape)


def _same(got, kind, params, bufs):
    k, ps, bs = got
    return (k == kind and ps == params
            and [type(v) for v in ps.values()]
            == [type(v) for v in params.values()]
            and len(bs) == len(bufs)
            and all(a.dtype == b.dtype and a.shape == b.shape
                    and a.tobytes() == b.tobytes() for a, b in zip(bs, bufs)))


def trial_codec(rng, seed):
    for kind, names in base._KINDS:
        params = {n: _rand_param(rng) for n in names if rng.random() < 0.8}
        bufs = [_rand_buf(rng) for _ in range(int(rng.integers(0, 4)))]
        payload = base.pack(kind, params, *bufs)
        check(_same(base.unpack(payload), kind, params, bufs),
              f"codec roundtrip {kind} seed={seed}")
        check(_same(base.unpack(_legacy_pack(kind, params, *bufs)),
                    kind, params, bufs), f"codec legacy {kind} seed={seed}")
        cut = int(rng.integers(0, len(payload)))
        bad_kind = bytearray(payload)
        bad_kind[2] = int(rng.integers(len(base._KINDS), 256))
        bad_version = bytearray(payload)
        bad_version[1] = int(rng.choice(
            [v for v in range(256) if v != base.VERSION]))
        for what, bad in (("truncated", payload[:cut]),
                          ("kind byte", bytes(bad_kind)),
                          ("version byte", bytes(bad_version))):
            try:
                base.unpack(bad)
                check(False, f"codec {what} decoded {kind} seed={seed}")
            except ValueError:
                pass
    # real sketches: legacy and binary payloads restore the same state
    hll = HLLSketch(int(rng.integers(4, 19)))
    hll.update_hashes(rand_hashes(rng, int(rng.integers(1, 3000))))
    bloom = BloomSketch(int(rng.integers(64, 1 << 16)),
                        int(rng.integers(1, 8)))
    bloom.update_hashes(rand_hashes(rng, int(rng.integers(1, 3000))))
    for sk in (hll, bloom):
        new = sk.to_bytes()
        kind, params, bufs = base.unpack(new)
        if kind == "hll" and params.get("sparse"):
            bufs[0] = bufs[0].astype(np.uint32)   # the legacy index width
        legacy = _legacy_pack(kind, params, *bufs)
        check(sketch_from_bytes(legacy).to_bytes() == new,
              f"codec legacy {kind} state seed={seed}")


def ibf_decode_rate():
    print(f"ibf decode failures: {len(IBF_FAILS)}/{IBF_TRIES[0]} {IBF_FAILS[:5]}")
    check(len(IBF_FAILS) <= 0.05 * IBF_TRIES[0] + 1,
          f"ibf decode failure rate {len(IBF_FAILS)}/{IBF_TRIES[0]}")


if __name__ == "__main__":
    run("fuzz-kernels",
        [trial_hll, trial_bloom, trial_k20_quirk, trial_cms, trial_kll,
         trial_tdigest, trial_mg, trial_ibf, trial_cuckoo, trial_counting,
         trial_theta, trial_codec],
        trials=60, seed_base=100_000, spark=False, finish=ibf_decode_rate)
