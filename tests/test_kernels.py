"""Unit tests for numpy sketch kernels — no Spark session needed.

Mirrors the reference's interactive correctness checks (SURVEY.md §5):
no false negatives, FPR ≤ p, delete semantics, HLL error bound,
merge algebra, serde round-trips.
"""

import math

import numpy as np
import pytest

from bloom_filters_spark.kernels import (
    BloomSketch, CountingBloomSketch, CountMinSketch, CuckooBank,
    CuckooFilter, HLLSketch, InvertibleBloomSketch, KLLSketch, TDigest,
    bloom_fpr, hash64_bytes, optimal_k, optimal_m, sketch_from_bytes,
)
from bloom_filters_spark.kernels.hashing import bit_length_u64

RNG = np.random.default_rng(42)


def rand_hashes(n, seed=0):
    # full-range signed int64, like Spark's F.xxhash64 output
    return np.random.default_rng(seed).integers(
        -2**63, 2**63 - 1, size=n, dtype=np.int64)


# --------------------------------------------------------------- hashing
def test_bit_length_u64_exact():
    xs = np.array([0, 1, 2, 3, 4, (1 << 52) - 1, 1 << 52, (1 << 63),
                   (1 << 64) - 1], dtype=np.uint64)
    expect = [0, 1, 2, 2, 3, 52, 53, 64, 64]
    assert bit_length_u64(xs).tolist() == expect


def test_hash64_bytes_stable_and_seeded():
    a = hash64_bytes(["foo", "bar"], seed=1)
    b = hash64_bytes(["foo", "bar"], seed=1)
    c = hash64_bytes(["foo", "bar"], seed=2)
    assert (a == b).all() and (a != c).any()


# ----------------------------------------------------------------- bloom
def test_bloom_sizing_formulas():
    # reference displays m*≈14378 for n=1000, P=0.001
    # (Bloom_project/src/core/Bloom_project.cpp:1093)
    assert optimal_m(1000, 0.001) in (14378, 14379)
    m = optimal_m(1000, 0.01)
    assert optimal_k(m, 1000) == 7
    # (1 − e^(−0.3))^3 ≈ 0.01741 for k=3, n=1000, m=10000
    assert abs(bloom_fpr(3, 1000, 10000) - 0.01741) < 2e-4


def test_bloom_no_false_negatives_and_fpr():
    n, p = 5000, 0.01
    bf = BloomSketch.from_capacity(n, p)
    present = rand_hashes(n, seed=1)
    bf.update_hashes(present)
    assert bf.contains_hashes(present).all()          # no false negatives
    absent = rand_hashes(20 * n, seed=2)
    fpr = bf.contains_hashes(absent).mean()
    assert fpr <= 2.0 * p                              # binomial tolerance


def test_bloom_merge_monoid():
    bf = lambda: BloomSketch(1 << 14, 5)
    hs = [rand_hashes(1000, seed=s) for s in range(3)]
    parts = []
    for h in hs:
        b = bf()
        b.update_hashes(h)
        parts.append(b)
    left = parts[0].merge(parts[1]).merge(parts[2])
    right = parts[0].merge(parts[1].merge(parts[2]))
    swapped = parts[2].merge(parts[0]).merge(parts[1])
    assert (left.bits == right.bits).all()
    assert (left.bits == swapped.bits).all()
    idem = left.merge(left)
    assert (idem.bits == left.bits).all()              # idempotent
    single = bf()
    single.update_hashes(np.concatenate(hs))
    assert (single.bits == left.bits).all()            # partials == one pass


def test_bloom_serde_roundtrip():
    b = BloomSketch(4096, 4)
    b.update_hashes(rand_hashes(100))
    b2 = sketch_from_bytes(b.to_bytes())
    assert (b2.bits == b.bits).all() and b2.k == b.k and b2.n_inserted == 100


# -------------------------------------------------------------- counting
def test_counting_bloom_insert_remove():
    cbf = CountingBloomSketch(1 << 13, 4)
    keep = rand_hashes(500, seed=3)
    drop = rand_hashes(500, seed=4)
    cbf.update_hashes(keep)
    cbf.update_hashes(drop)
    assert cbf.contains_hashes(keep).all()
    assert cbf.contains_hashes(drop).all()
    cbf.remove_hashes(drop)
    assert cbf.contains_hashes(keep).all()             # survivors intact
    assert cbf.contains_hashes(drop).mean() < 0.05     # removed → absent (FP ok)


def test_counting_bloom_merge_is_add():
    a, b = CountingBloomSketch(1024, 3), CountingBloomSketch(1024, 3)
    a.update_hashes(rand_hashes(50, seed=5))
    b.update_hashes(rand_hashes(50, seed=6))
    m1, m2 = a.merge(b), b.merge(a)
    assert (m1.counters == m2.counters).all()
    assert m1.counters.sum() == a.counters.sum() + b.counters.sum()


# ------------------------------------------------------------------- hll
@pytest.mark.parametrize("p,n", [(12, 10_000), (13, 50_000), (12, 100)])
def test_hll_error_bound(p, n):
    hll = HLLSketch(p)
    hll.update_hashes(rand_hashes(n, seed=7))
    est = hll.estimate()
    tol = 4 * hll.relative_error                       # 4σ
    assert abs(est - n) / n <= max(tol, 0.02), (est, n)


def test_hll_unbiased_between_2_5m_and_5m():
    """The classic raw/linear-counting switch is biased ~+1.5% at 2.8m
    distinct (p=14, n=45,500); the improved estimator must be unbiased
    there: the mean relative error over 40 draws (σ/√40 ≈ 0.1%) stays
    within ±0.4%."""
    p, n = 14, 45_500
    errs = []
    for seed in range(40):
        hll = HLLSketch(p)
        hll.update_hashes(rand_hashes(n, seed=1000 + seed))
        errs.append(hll.estimate() / n - 1.0)
    assert abs(float(np.mean(errs))) <= 0.004, np.mean(errs)


def test_hll_empty_estimates_zero():
    assert HLLSketch(12).estimate() == 0.0
    assert HLLSketch(12, np.zeros(1 << 12, dtype=np.uint8)).estimate() == 0.0


def test_hll_merge_max_and_order_invariance():
    hs = [rand_hashes(5000, seed=s) for s in range(4)]
    parts = []
    for h in hs:
        s = HLLSketch(12)
        s.update_hashes(h)
        parts.append(s)
    a = parts[0].merge(parts[1]).merge(parts[2]).merge(parts[3])
    b = parts[3].merge(parts[2].merge(parts[1].merge(parts[0])))
    assert (a.registers == b.registers).all()
    one = HLLSketch(12)
    one.update_hashes(np.concatenate(hs))
    assert (one.registers == a.registers).all()
    assert a.estimate() == b.estimate()


@pytest.mark.parametrize("n", [0, 1, 5, 400, 1100, 20_000])
def test_hll_sparse_vs_dense_byte_identical(n):
    # every observable output must be bit-identical whether the sketch
    # lived sparse (fresh start) or dense (pre-allocated bank), below
    # and above the promote threshold (m/4 = 1024 at p=12)
    h = rand_hashes(n, seed=n + 1)
    sparse = HLLSketch(12)                       # sparse start
    dense = HLLSketch(12, np.zeros(1 << 12, dtype=np.uint8))
    for chunk in np.array_split(h, 7) if n else []:
        sparse.update_hashes(chunk)
        dense.update_hashes(chunk)
    assert sparse.to_bytes() == dense.to_bytes()
    assert sparse.estimate() == dense.estimate()
    assert (sparse.registers == dense.registers).all()


def test_hll_sparse_dense_mixed_merges_identical():
    ha, hb = rand_hashes(300, seed=1), rand_hashes(9000, seed=2)
    sa, sb = HLLSketch(12), HLLSketch(12)        # sa stays sparse,
    sa.update_hashes(ha)                         # sb promotes to dense
    sb.update_hashes(hb)
    assert sa.is_sparse and not sb.is_sparse
    da = HLLSketch(12, np.zeros(1 << 12, dtype=np.uint8))
    da.update_hashes(ha)
    # all four direction/representation combinations agree bytewise
    blobs = {sa.merge(sb).to_bytes(), sb.merge(sa).to_bytes(),
             da.merge(sb).to_bytes(), sb.merge(da).to_bytes()}
    assert len(blobs) == 1
    # sparse+sparse merge stays sparse while small
    s2 = HLLSketch(12)
    s2.update_hashes(rand_hashes(50, seed=3))
    assert sa.merge(s2).is_sparse


def test_hll_sparse_start_memory_is_data_proportional():
    # the grouped map-side scenario: G sketches, a couple of rows each.
    # Resident bytes must track rows seen, not G × dense bank size.
    G = 100_000
    h = rand_hashes(2 * G, seed=9).reshape(G, 2)
    sketches = [HLLSketch(12) for _ in range(G)]
    for sk, row in zip(sketches, h):
        sk.update_hashes(row)
    resident = sum(sk.resident_bytes for sk in sketches)
    dense_total = G * (1 << 12)
    assert resident < dense_total / 10, (resident, dense_total)
    assert all(sk.is_sparse for sk in sketches)
    # and the estimates are still exact at tiny cardinality
    assert all(abs(sk.estimate() - 2.0) < 0.01 for sk in sketches[:100])


def test_hll_duplicates_dont_inflate():
    h = rand_hashes(1000, seed=8)
    hll = HLLSketch(12)
    hll.update_hashes(np.tile(h, 50))
    assert abs(hll.estimate() - 1000) / 1000 < 0.1


def test_hll_serde():
    s = HLLSketch(10)
    s.update_hashes(rand_hashes(100))
    s2 = sketch_from_bytes(s.to_bytes())
    assert (s2.registers == s.registers).all() and s2.p == 10


# ------------------------------------------------------------------- cms
def test_cms_overestimates_within_eps():
    cms = CountMinSketch.from_error(eps=0.005, delta=0.01)
    keys = rand_hashes(200, seed=9)
    freqs = np.arange(1, 201)
    stream = np.repeat(keys, freqs)
    cms.update_hashes(stream)
    est = cms.estimate_hashes(keys)
    assert (est >= freqs).all()                        # never underestimates
    assert (est <= freqs + cms.eps * cms.total * 3).all()


def test_cms_merge_is_add_and_weighted_update():
    a = CountMinSketch(4, 1024)
    b = CountMinSketch(4, 1024)
    keys = rand_hashes(10, seed=10)
    a.update_hashes(keys, weights=np.full(10, 5))
    b.update_hashes(keys, weights=np.full(10, 7))
    m = a.merge(b)
    assert (m.estimate_hashes(keys) >= 12).all()
    assert m.total == 120


# ------------------------------------------------------------------- kll
def test_kll_rank_error():
    vals = RNG.normal(0, 100, size=100_000)
    k = KLLSketch(k=200)
    for chunk in np.array_split(vals, 20):
        k.update_values(chunk)
    svals = np.sort(vals)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = k.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) <= 0.03, (q, true_rank)


def test_kll_merge_bound_holds():
    vals = RNG.uniform(0, 1, size=50_000)
    parts = []
    for chunk in np.array_split(vals, 8):
        s = KLLSketch(k=200)
        s.update_values(chunk)
        parts.append(s)
    merged = parts[0]
    for s in parts[1:]:
        merged = merged.merge(s)
    assert merged.n == 50_000
    svals = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        est = merged.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) <= 0.04


def test_kll_serde():
    s = KLLSketch(k=128)
    s.update_values(RNG.uniform(size=10_000))
    s2 = sketch_from_bytes(s.to_bytes())
    assert s2.n == s.n
    assert s2.quantile(0.5) == s.quantile(0.5)


# --------------------------------------------------------------- tdigest
def test_tdigest_quantiles():
    vals = RNG.exponential(10, size=100_000)
    td = TDigest(delta=200)
    for chunk in np.array_split(vals, 10):
        td.update_values(chunk)
    svals = np.sort(vals)
    for q in (0.01, 0.5, 0.99, 0.999):
        est = td.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) <= 0.01, (q, true_rank)


def test_tdigest_merge():
    vals = RNG.normal(size=40_000)
    parts = []
    for chunk in np.array_split(vals, 4):
        t = TDigest(delta=100)
        t.update_values(chunk)
        parts.append(t)
    m = parts[0].merge(parts[1]).merge(parts[2].merge(parts[3]))
    svals = np.sort(vals)
    for q in (0.25, 0.5, 0.75):
        true_rank = np.searchsorted(svals, m.quantile(q)) / svals.size
        assert abs(true_rank - q) <= 0.02
    m2 = sketch_from_bytes(m.to_bytes())
    assert m2.quantile(0.5) == m.quantile(0.5)


# ---------------------------------------------------------------- cuckoo
def test_cuckoo_contract():
    # insert → contains; remove → ¬contains
    # (parity: Bloom_project/src/core/Bloom_project.cpp:4599-4665)
    cf = CuckooFilter(capacity=5000)
    present = rand_hashes(4000, seed=11)
    cf.update_hashes(present)
    assert cf.contains_hashes(present).all()           # no false negatives
    absent = rand_hashes(50_000, seed=12)
    assert cf.contains_hashes(absent).mean() < 0.01    # fp rate ~ 2b/2^16
    removed = cf.remove_hashes(present[:1000])
    assert removed.all()
    assert cf.contains_hashes(present[1000:]).all()
    assert cf.contains_hashes(present[:1000]).mean() < 0.01


def test_cuckoo_bank_merge_probe():
    h1, h2 = rand_hashes(1000, seed=13), rand_hashes(1000, seed=14)
    a, b = CuckooFilter(2000), CuckooFilter(2000)
    a.update_hashes(h1)
    b.update_hashes(h2)
    bank = CuckooBank.wrap(a).merge(CuckooBank.wrap(b))
    assert bank.contains_hashes(np.concatenate([h1, h2])).all()
    bank2 = sketch_from_bytes(bank.to_bytes())
    assert bank2.contains_hashes(h1).all()
    # probe is member-order invariant
    rev = CuckooBank.wrap(b).merge(CuckooBank.wrap(a))
    probes = rand_hashes(5000, seed=15)
    assert (bank.contains_hashes(probes) == rev.contains_hashes(probes)).all()


def test_cuckoo_bank_auto_grows_past_member_capacity():
    """A partition holding far more keys than the seed filter's capacity
    must degrade to more members, not raise — and keep the no-false-
    negative contract (VERDICT r1 item 3)."""
    bank = CuckooBank.wrap(CuckooFilter(capacity=64))
    keys = rand_hashes(10_000, seed=19)
    bank.update_hashes(keys)            # would raise pre-growth: 150x over
    assert len(bank.members) > 1
    assert bank.contains_hashes(keys).all()
    # members share one bucket shape (victim relocation relies on it)
    assert len({m.nbuckets for m in bank.members}) == 1
    # serde round-trip preserves all members
    bank2 = sketch_from_bytes(bank.to_bytes())
    assert bank2.contains_hashes(keys).all()


def test_cuckoo_bank_compacts_to_item_proportional_size():
    """VERDICT r3 item 6: a high-partition-count build must yield a bank
    sized O(n items), not O(P × seed_size). 64 sparse partials (100 keys
    each in a 4096-capacity seed) tree-merge into a couple of members."""
    seed_cap = 4096
    partials, all_keys = [], []
    for p in range(64):
        keys = rand_hashes(100, seed=100 + p)
        all_keys.append(keys)
        bank = CuckooBank.wrap(CuckooFilter(capacity=seed_cap))
        bank.update_hashes(keys)
        partials.append(bank)
    merged = partials[0]
    for b in partials[1:]:
        merged = merged.merge(b)
    keys = np.concatenate(all_keys)             # 6400 items
    # no false negatives survive compaction
    assert merged.contains_hashes(keys).all()
    # 6400 items fit ~1-2 members; concat would have kept all 64
    assert len(merged.members) <= 3
    assert sum(m.n_items for m in merged.members) == keys.size
    one = CuckooFilter(capacity=seed_cap)
    assert merged.size_bytes <= 3 * one.size_bytes
    # fp rate unchanged-or-better vs the fragmented bank (fewer probes)
    absent = rand_hashes(50_000, seed=999)
    assert merged.contains_hashes(absent).mean() < 0.02
    # serde round-trip
    back = sketch_from_bytes(merged.to_bytes())
    assert back.contains_hashes(keys).all()


def test_cuckoo_bank_fold_compactions_are_amortized(monkeypatch):
    """Once a bank genuinely needs >= _COMPACT_AT members, a sequential
    fold must NOT re-pack every step — compaction fires O(log steps)
    times (each time the bank doubles past its last packed size)."""
    calls = {"n": 0}
    orig = CuckooBank.compacted

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(CuckooBank, "compacted", counting)
    # small members: 64 partials x ~120 items in 128-capacity seeds,
    # so the packed bank itself needs many members
    merged = None
    total = 0
    for p in range(64):
        b = CuckooBank.wrap(CuckooFilter(capacity=128))
        keys = rand_hashes(120, seed=500 + p)
        total += keys.size
        b.update_hashes(keys)
        merged = b if merged is None else merged.merge(b)
    assert calls["n"] <= 8                     # not ~56 (one per step)
    assert sum(m.n_items for m in merged.members) == total
    # still item-proportional: within 2x of the optimally packed bank
    packed = merged.compacted()
    assert len(merged.members) <= 2 * len(packed.members) + 1


def test_cuckoo_bank_packed_len_survives_serialization(monkeypatch):
    """Tree-merge partials cross every level as bytes: a deserialized
    packed bank must keep _packed_len, or it re-compacts on every
    subsequent merge (per-entry re-insert at each level — O(items×log P)
    instead of the documented geometric amortization)."""
    merged = None
    for p in range(16):
        b = CuckooBank.wrap(CuckooFilter(capacity=128))
        b.update_hashes(rand_hashes(120, seed=700 + p))
        merged = b if merged is None else merged.merge(b)
    packed = merged.compacted()
    assert packed._packed_len == len(packed.members) >= 8
    rt = sketch_from_bytes(packed.to_bytes())
    assert rt._packed_len == packed._packed_len

    calls = {"n": 0}
    orig = CuckooBank.compacted

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(CuckooBank, "compacted", counting)
    # merging one fresh member into the round-tripped bank must NOT
    # re-pack: len = packed_len + 1 < 2 × packed_len
    small = CuckooBank.wrap(CuckooFilter(capacity=128))
    small.update_hashes(rand_hashes(10, seed=999))
    out = rt.merge(small)
    assert calls["n"] == 0
    assert len(out.members) == len(rt.members) + 1


def test_cuckoo_bank_compaction_is_probe_equivalent_any_order():
    hs = [rand_hashes(500, seed=30 + i) for i in range(10)]
    banks = []
    for h in hs:
        b = CuckooBank.wrap(CuckooFilter(capacity=512))
        b.update_hashes(h)
        banks.append(b)
    left = banks[0]
    for b in banks[1:]:
        left = left.merge(b)
    right = banks[-1]
    for b in reversed(banks[:-1]):
        right = right.merge(b)
    keys = np.concatenate(hs)
    assert left.contains_hashes(keys).all()
    assert right.contains_hashes(keys).all()


def test_cuckoo_bank_requires_seed():
    with pytest.raises(ValueError):
        CuckooBank().update_hashes(rand_hashes(10, seed=20))


def test_cuckoo_serde():
    cf = CuckooFilter(1000)
    h = rand_hashes(500, seed=16)
    cf.update_hashes(h)
    cf2 = sketch_from_bytes(cf.to_bytes())
    assert cf2.contains_hashes(h).all()


# ------------------------------------------------------------------- ibf
def test_ibf_insert_remove_contains():
    ibf = InvertibleBloomSketch(4096, 3)
    keep = rand_hashes(300, seed=17)
    drop = rand_hashes(300, seed=18)
    ibf.update_hashes(keep)
    ibf.update_hashes(drop)
    assert ibf.contains_hashes(keep).all()
    ibf.remove_hashes(drop)
    assert ibf.contains_hashes(keep).all()
    assert ibf.contains_hashes(drop).mean() < 0.05


def test_ibf_peel_flags_colliding_opposite_pair_undecoded():
    """A +1/-1 key pair whose k cells fully coincide cancels every
    count to zero but leaves key_xor = A^B — peel must report
    decoded=False (zero counts alone are not proof of full decode)."""
    from bloom_filters_spark.kernels.invertible import _ibf_indices

    m, k = 8, 3
    seen, pair = {}, None
    for key in range(1, 500_000):
        h = np.array([key], dtype=np.uint64)
        cells = tuple(sorted(_ibf_indices(h, k, m).ravel().tolist()))
        if cells in seen and seen[cells] != key:
            pair = (seen[cells], key)
            break
        seen.setdefault(cells, key)
    assert pair is not None, "no colliding pair found at m=8"
    a, b = pair
    left = InvertibleBloomSketch(m, k)
    left.update_hashes(np.array([a], dtype=np.int64))
    right = InvertibleBloomSketch(m, k)
    right.update_hashes(np.array([b], dtype=np.int64))
    _, _, decoded = left.subtract(right).peel()
    assert decoded is False


def test_ibf_peel_recovers_all():
    # getAllValues analogue: full listing when cells ≥ ~1.3× items
    keys = rand_hashes(500, seed=19)
    ibf = InvertibleBloomSketch(1000, 3)
    ibf.update_hashes(keys)
    rec, signs, decoded = ibf.peel()
    assert decoded
    assert set(rec.tolist()) == set(keys.view(np.uint64).tolist())
    assert (signs == 1).all()


def test_ibf_set_difference():
    common = rand_hashes(400, seed=20)
    only_a = rand_hashes(30, seed=21)
    only_b = rand_hashes(30, seed=22)
    a = InvertibleBloomSketch(512, 3)
    b = InvertibleBloomSketch(512, 3)
    a.update_hashes(np.concatenate([common, only_a]))
    b.update_hashes(np.concatenate([common, only_b]))
    diff = a.subtract(b)
    rec, signs, decoded = diff.peel()
    assert decoded
    got_a = {int(k) for k, s in zip(rec, signs) if s == 1}
    got_b = {int(k) for k, s in zip(rec, signs) if s == -1}
    assert got_a == set(only_a.view(np.uint64).tolist())
    assert got_b == set(only_b.view(np.uint64).tolist())


def test_ibf_merge_associative():
    hs = [rand_hashes(100, seed=s) for s in (23, 24, 25)]
    parts = []
    for h in hs:
        s = InvertibleBloomSketch(2048, 3)
        s.update_hashes(h)
        parts.append(s)
    l = parts[0].merge(parts[1]).merge(parts[2])
    r = parts[0].merge(parts[1].merge(parts[2]))
    assert (l.count == r.count).all()
    assert (l.key_xor == r.key_xor).all()


# --------------------------------------------------- cross-sketch algebra
def test_merge_order_invariance_property():
    """north_rule associativity: random splits & merge orders →
    byte-identical sketches for the monoid family."""
    rng = np.random.default_rng(0)
    data = rand_hashes(20_000, seed=26)
    for make in (lambda: BloomSketch(1 << 15, 6),
                 lambda: CountingBloomSketch(1 << 13, 4),
                 lambda: HLLSketch(11),
                 lambda: CountMinSketch(4, 2048),
                 lambda: InvertibleBloomSketch(1 << 14, 3)):
        cuts = np.sort(rng.choice(np.arange(1, data.size), 7, replace=False))
        chunks = np.split(data, cuts)
        parts = []
        for c in chunks:
            s = make()
            s.update_hashes(c)
            parts.append(s)
        order = rng.permutation(len(parts))
        m1 = parts[0]
        for p in parts[1:]:
            m1 = m1.merge(p)
        m2 = parts[order[0]]
        for i in order[1:]:
            m2 = m2.merge(parts[i])
        assert m1.to_bytes() == m2.to_bytes(), type(m1).__name__


# ----------------------------------------------------------------- theta
def test_theta_exact_mode_below_k():
    from bloom_filters_spark.kernels import ThetaSketch
    sk = ThetaSketch(k=256)
    h = rand_hashes(100, seed=30)
    sk.update_hashes(h)
    sk.update_hashes(h)                      # idempotent on duplicates
    assert sk.estimate() == float(np.unique(h).size)


def test_theta_estimate_within_bound():
    from bloom_filters_spark.kernels import ThetaSketch
    n = 200_000
    sk = ThetaSketch(k=1024)
    sk.update_hashes(rand_hashes(n, seed=31))
    exact = np.unique(rand_hashes(n, seed=31)).size
    assert abs(sk.estimate() - exact) / exact <= 4 * sk.relative_error


def test_theta_merge_associative_byte_identical():
    from bloom_filters_spark.kernels import ThetaSketch, sketch_from_bytes
    h = rand_hashes(50_000, seed=32)
    parts = []
    for i in range(5):
        sk = ThetaSketch(k=512)
        sk.update_hashes(h[i::5])
        parts.append(sk)
    fwd = parts[0]
    for p in parts[1:]:
        fwd = fwd.merge(p)
    rev = parts[4]
    for p in reversed(parts[:4]):
        rev = rev.merge(p)
    shuffled = parts[2].merge(parts[0]).merge(parts[4]) \
        .merge(parts[1].merge(parts[3]))
    assert fwd.to_bytes() == rev.to_bytes() == shuffled.to_bytes()
    one = ThetaSketch(k=512)
    one.update_hashes(h)
    assert one.to_bytes() == fwd.to_bytes()
    rt = sketch_from_bytes(fwd.to_bytes())
    assert rt.estimate() == fwd.estimate()


def test_theta_set_operations_vs_exact():
    from bloom_filters_spark.kernels import ThetaSketch
    # A = [0, 60k), B = [40k, 100k) as hashed key spaces
    ha = rand_hashes(60_000, seed=33)
    hb = np.concatenate([ha[40_000:], rand_hashes(40_000, seed=34)])
    a, b = ThetaSketch(k=2048), ThetaSketch(k=2048)
    a.update_hashes(ha)
    b.update_hashes(hb)
    exact_a = np.unique(ha).size
    exact_b = np.unique(hb).size
    exact_inter = np.intersect1d(
        ha.view(np.uint64), hb.view(np.uint64)).size
    exact_union = np.union1d(ha.view(np.uint64), hb.view(np.uint64)).size
    tol_u = 4 * a.relative_error
    assert abs(a.union_estimate(b) - exact_union) / exact_union <= tol_u
    # intersection/difference error scales with union/target ratio
    tol_i = 4 * math.sqrt(exact_union / exact_inter) / math.sqrt(a.k)
    assert abs(a.intersect_estimate(b) - exact_inter) / exact_inter <= tol_i
    exact_diff = exact_a - exact_inter
    tol_d = 4 * math.sqrt(exact_union / exact_diff) / math.sqrt(a.k)
    assert abs(a.difference_estimate(b) - exact_diff) / exact_diff <= tol_d


# ------------------------------------------------- sparse wire format
def test_sparse_payloads_roundtrip_and_shrink():
    """Content-adaptive serde: lightly-filled partials ship sparse and
    MUCH smaller; near-design-fill sketches stay dense; both round-trip
    to identical state and identical re-serialized bytes (encoding is a
    pure function of content — merge-order byte-identity depends on it).
    """
    # Bloom: 1M-bit filter, 200 keys -> sparse wins ~m/(64*k*n)
    b = BloomSketch(1_000_000, 7)
    b.update_hashes(rand_hashes(200, seed=11))
    blob = b.to_bytes()
    assert len(blob) < b.bits.nbytes // 8
    b2 = sketch_from_bytes(blob)
    assert (b2.bits == b.bits).all() and b2.n_inserted == b.n_inserted
    assert b2.to_bytes() == blob
    # fill it to design load -> dense chosen, still round-trips
    b.update_hashes(rand_hashes(100_000, seed=12))
    blob_d = b.to_bytes()
    assert len(blob_d) >= b.bits.nbytes
    assert (sketch_from_bytes(blob_d).bits == b.bits).all()

    # CBF: sparse (idx, count) pairs preserve exact counters
    c = CountingBloomSketch(1 << 20, 5)
    c.update_hashes(rand_hashes(300, seed=13))
    blob = c.to_bytes()
    assert len(blob) < c.counters.nbytes // 8
    c2 = sketch_from_bytes(blob)
    assert (c2.counters == c.counters).all() and c2.to_bytes() == blob

    # HLL: per-group partial with a handful of rows
    h = HLLSketch(14)
    h.update_hashes(rand_hashes(50, seed=14))
    blob = h.to_bytes()
    assert len(blob) < h.m // 4
    h2 = sketch_from_bytes(blob)
    assert (h2.registers == h.registers).all() and h2.to_bytes() == blob
    assert h2.estimate() == h.estimate()


def test_sparse_dense_merge_mix():
    """A sketch revived from a SPARSE blob merges with one revived from
    a DENSE blob into exactly the one-pass result."""
    a, b = BloomSketch(1 << 18, 5), BloomSketch(1 << 18, 5)
    ha, hb = rand_hashes(100, seed=21), rand_hashes(30_000, seed=22)
    a.update_hashes(ha)           # sparse-range fill
    b.update_hashes(hb)           # dense-range fill
    ra, rb = sketch_from_bytes(a.to_bytes()), sketch_from_bytes(b.to_bytes())
    merged = ra.merge(rb)
    one = BloomSketch(1 << 18, 5)
    one.update_hashes(np.concatenate([ha, hb]))
    assert (merged.bits == one.bits).all()


def test_hll_big_batch_into_nonempty_sparse_promotes_vectorized():
    """A batch that would push the sparse dict past the promote
    threshold must promote BEFORE folding (one vectorized maximum.at,
    no per-item loop) and stay bit-identical to a dense-start build."""
    small = rand_hashes(10, seed=41)
    big = rand_hashes(30_000, seed=42)           # >> m/4 = 1024 at p=12
    s = HLLSketch(12)
    s.update_hashes(small)
    assert s.is_sparse
    s.update_hashes(big)
    assert not s.is_sparse                       # promoted on entry
    d = HLLSketch(12, np.zeros(1 << 12, dtype=np.uint8))
    d.update_hashes(small)
    d.update_hashes(big)
    assert s.to_bytes() == d.to_bytes()
    assert s.estimate() == d.estimate()


def test_cms_inner_product_join_size():
    """CMS inner product (C&M 2005 §4.2): never below the exact
    frequency-vector dot product, within eps*N1*N2, merge-consistent."""
    rng = np.random.default_rng(7)
    a_keys = rng.integers(0, 500, 3000)          # multiplicities vary
    b_keys = rng.integers(0, 400, 2000)
    ha = rand_hashes(500, seed=5)                # hash per key id
    hb = ha                                      # same key space
    ca, cb = np.bincount(a_keys, minlength=500), \
        np.bincount(b_keys, minlength=500)[:500]
    exact = int((ca * np.pad(cb, (0, 500 - cb.size))).sum())
    sa = CountMinSketch(5, 1 << 13)
    sb = CountMinSketch(5, 1 << 13)
    sa.update_hashes(ha[a_keys])
    sb.update_hashes(hb[b_keys])
    est = sa.inner_product(sb)
    assert est >= exact
    assert est <= exact + sa.eps * sa.total * sb.total
    # merge-consistency: partial builds merged == one build, same est
    s1, s2 = CountMinSketch(5, 1 << 13), CountMinSketch(5, 1 << 13)
    s1.update_hashes(ha[a_keys[:1500]])
    s2.update_hashes(ha[a_keys[1500:]])
    assert s1.merge(s2).inner_product(sb) == est
    # disjoint key spaces: only collisions contribute
    hd = rand_hashes(400, seed=99)
    sd = CountMinSketch(5, 1 << 13)
    sd.update_hashes(hd[b_keys])
    assert sa.inner_product(sd) <= sa.eps * sa.total * sd.total


def test_cuckoo_full_raise_leaves_filter_consistent():
    """Exhausting the kick bound must not corrupt the filter: the
    homeless victim parks in the stash, so EVERY inserted key still
    answers present — whether or not the caller catches the raise —
    and serde/removal/compaction all see the stashed entries."""
    from bloom_filters_spark.kernels.cuckoo import CuckooBank, CuckooFilter

    cf = CuckooFilter(capacity=8)            # 8 buckets x 4 slots = 32
    h = rand_hashes(2000, seed=77)
    inserted = []
    raised = False
    for x in h:
        try:
            cf.update_hashes(np.array([x]))
            inserted.append(x)
        except RuntimeError:
            inserted.append(x)               # the raising insert COUNTS
            raised = True
            break
    assert raised, "tiny filter never filled — test is vacuous"
    assert cf.stash, "overflow never reached the stash"
    got = cf.contains_hashes(np.array(inserted))
    assert got.all(), "false negative after a caught 'full' raise"
    # serde round-trips the stash
    back = sketch_from_bytes(cf.to_bytes())
    assert back.contains_hashes(np.array(inserted)).all()
    assert back.to_bytes() == cf.to_bytes()
    # a healthy filter's wire format is unchanged (no stash buffer)
    clean = CuckooFilter(capacity=1024)
    clean.update_hashes(h[:100])
    assert not clean.stash
    # removal can evict a stashed entry
    n0 = back.n_items
    assert back.remove_hashes(np.array(inserted[-1:]))[0]
    assert back.n_items == n0 - 1
    # bank compaction must carry stash entries into the repack
    bank = CuckooBank([cf, CuckooFilter(table=np.zeros_like(cf.table))])
    packed = bank.compacted()
    assert packed.contains_hashes(np.array(inserted)).all()


def test_cbf_remove_in_different_partial_survives_merge():
    """Distributed delete: a removal folded into a DIFFERENT partial
    than the insertion must win after the merge — a write-time floor
    would erase the -1 and resurrect the deleted item."""
    h = rand_hashes(50, seed=21)
    a = CountingBloomSketch(1 << 12, 4)
    a.update_hashes(h)                            # inserts land in A
    b = CountingBloomSketch(1 << 12, 4)
    b.remove_hashes(h[:20])                       # removals land in B
    merged = a.merge(b)
    assert not merged.contains_hashes(h[:20]).any()
    assert merged.contains_hashes(h[20:]).all()
    # serde round-trips the signed partial
    back = sketch_from_bytes(b.to_bytes())
    assert (back.counters == b.counters).all()
    assert a.merge(back).to_bytes() == merged.to_bytes()


def _fold_case(name, rng):
    """→ (GroupedFold, per-group sketch factory, value_based) for one
    randomized trial of the fold named ``name``."""
    from bloom_filters_spark.kernels import MisraGriesSketch, ThetaSketch
    from bloom_filters_spark.kernels.base import GroupedSketchFold
    from bloom_filters_spark.kernels.hll import GroupedHLLFold
    from bloom_filters_spark.kernels.theta import GroupedThetaFold

    if name == "hll":
        p = int(rng.integers(4, 13))
        return GroupedHLLFold(p), lambda: HLLSketch(p), False
    if name == "theta":
        k = int(rng.choice([16, 17, 64]))
        return GroupedThetaFold(k), lambda: ThetaSketch(k), False
    factory, value_based = {
        "cms": (lambda: CountMinSketch(4, 64), False),
        "bloom": (lambda: BloomSketch(1 << 10, 3), False),
        "misra_gries": (lambda: MisraGriesSketch(8), False),
        "kll": (lambda: KLLSketch(16), True),
        "tdigest": (lambda: TDigest(20.0), True),
    }[name]
    return GroupedSketchFold(factory, value_based), factory, value_based


@pytest.mark.parametrize("name", ["hll", "theta", "cms", "bloom",
                                  "misra_gries", "kll", "tdigest"])
def test_grouped_fold_byte_identical_to_sequential(name):
    """Every GroupedFold — the vectorized HLL / theta folds and the
    generic per-group fold over any other sketch, order-sensitive KLL
    and t-digest included — must emit payloads EQUAL to to_bytes() of
    the per-group sequential fold, for any batch split: empty groups,
    duplicate inputs, HLL's dense promotion and sparse/dense wire
    boundary, theta's exact mode, the k/k+1 boundary and trimming."""
    rng = np.random.default_rng(3)
    for trial in range(25):
        fold, factory, value_based = _fold_case(name, rng)
        n = int(rng.integers(1, 3000))
        G = int(rng.integers(1, 50))
        if value_based:
            v = rng.lognormal(3.0, 1.0, n)
        else:
            v = rng.integers(-2**63, 2**63, n, dtype=np.int64)
        if trial % 3 == 0:                  # duplicate inputs
            v = v[rng.integers(0, n, n)]
        g = rng.integers(0, G, n, dtype=np.int64)
        cuts = np.unique(np.r_[rng.integers(1, n + 1, int(rng.integers(0, 4))),
                               n])
        seq = [factory() for _ in range(G)]
        for lo, hi in zip(np.r_[0, cuts[:-1]], cuts):
            fold.add(g[lo:hi], v[lo:hi])
            # the sequential fold takes each group's rows of the batch
            # in row order (batch-split sensitive sketches like
            # Misra-Gries see the same update calls)
            for gid in np.unique(g[lo:hi]):
                rows = v[lo:hi][g[lo:hi] == gid]
                if value_based:
                    seq[gid].update_values(rows)
                else:
                    seq[gid].update_hashes(rows)
        assert fold.payloads(G) == [sk.to_bytes() for sk in seq], \
            (trial, name)


def test_cuckoo_bulk_place_matches_sequential_membership():
    """The wavefront bulk insert must preserve the cuckoo contract
    exactly as the per-item path does: same n_items, no false
    negatives on every inserted key, and removals still find every
    copy — at load factors from sparse to the eviction regime."""
    import numpy as np
    from bloom_filters_spark.kernels.cuckoo import CuckooFilter, _fingerprints
    from bloom_filters_spark.kernels.hashing import to_u64

    rng = np.random.default_rng(5)
    for load in (0.2, 0.7, 0.93):
        n = int(1024 * load)
        h = rng.integers(-2**63, 2**63, n, dtype=np.int64)
        bulk = CuckooFilter(1024)
        bulk.update_hashes(h)
        seq = CuckooFilter(1024)
        fps = _fingerprints(to_u64(h))
        b1s = seq._b1(to_u64(h))
        for b1, fp in zip(b1s.tolist(), fps.tolist()):
            seq._insert_one(int(b1), int(fp))
        assert bulk.n_items == seq.n_items == n
        assert bulk.contains_hashes(h).all()
        assert seq.contains_hashes(h).all()
        # every inserted copy is individually removable from the bulk build
        removed = bulk.remove_hashes(h)
        assert removed.all() and bulk.n_items == 0
