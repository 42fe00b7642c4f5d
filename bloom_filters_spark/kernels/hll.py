"""HyperLogLog — sparse-start registers; update = max; merge = max.

The reference estimator (Bloom_project/src/core/HyperLogLog.cpp:27-50)
is E = α_m · m² / Σ 2^(−reg), switching to linear counting m·ln(m/V)
when E ≤ 2.5m and V > 0 registers are zero. α constants per
HyperLogLog.cpp:69-77 (published Flajolet values; ``_alpha`` keeps
them for reference parity).

Deliberate fix (estimator): that raw/linear-counting switch is biased
high by ~1.5% between 2.5m and 5m (at p=14 and 2.8m distinct it breaks
a 3·1.04/√m bound on 5–10% of draws). ``estimate`` uses
Ertl's improved estimator instead ("New cardinality estimation
algorithms for HyperLogLog sketches", arXiv:1702.01284, 2017): a
closed form over the register histogram with α∞ = 1/(2 ln 2), unbiased
across the whole range with no switch and no empirical bias table. An
empty sketch still estimates exactly 0.

Deliberate fix (SURVEY.md §7 risk): the reference derives the register
index as hash % m and rho from trailing zeros of the SAME hash
(HyperLogLog.cpp:16-19,57-67), which correlates index and rank bits and
breaks the ±1.04/√m bound. We use the published bit-split: top p bits →
index, leading-zero rank of the remaining 64−p bits → rho. The north
rule requires the published bound, so the published algorithm wins.

Sparse start (HLL++-style, Heule et al. 2013): a fresh sketch holds a
{index: rho} dict instead of a dense 2^p register bank, and promotes to
dense only past m/4 occupied registers. This is what keeps the GROUPED
map-side combine memory-safe at scale: a partition that sees 1M distinct
group keys holds 1M tiny dicts (a few counters each), not 1M × 4 KB
dense banks — the per-task resident bytes track the data actually seen,
not G × 2^p. Every observable output (estimate, serialized bytes,
registers) is BIT-IDENTICAL between representations: ``to_bytes`` and
``estimate`` always evaluate over the materialized dense view, so the
encoding and the float summation order are pure functions of content,
preserving merge-order/resume byte-identity.

Merge = elementwise max → commutative, associative, idempotent.
"""

from __future__ import annotations

import math

import numpy as np

from .base import pack, register
from .hashing import bit_length_u64, to_u64

_U64 = np.uint64

# promote sparse → dense past m/4 occupied registers: beyond that the
# dict overhead exceeds the dense bank it was avoiding
_PROMOTE_DIV = 4


def _index_dtype(p: int):
    """The narrowest unsigned dtype that holds a register index < 2^p."""
    return np.uint16 if p <= 16 else np.uint32


def _alpha(m: int) -> float:
    """Bloom_project/src/core/HyperLogLog.cpp:69-77."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


_ALPHA_INF = 1.0 / (2.0 * math.log(2.0))


def _sigma(x: float) -> float:
    """σ(x) = x + Σ_{k≥1} x^(2^k) · 2^(k−1); σ(1) = ∞ (empty sketch)."""
    if x == 1.0:
        return math.inf
    y, z = 1.0, x
    while True:
        x *= x
        z_old = z
        z += x * y
        y += y
        if z == z_old:
            return z


def _tau(x: float) -> float:
    """τ(x) = (1 − x − Σ_{k≥1} (1 − x^(2^−k))² · 2^−k) / 3."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = math.sqrt(x)
        z_old = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_old:
            return z / 3.0


@register("hll")
class HLLSketch:
    __slots__ = ("p", "m", "_dense", "_sparse")

    def __init__(self, p: int, registers: np.ndarray | None = None):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = int(p)
        self.m = 1 << self.p
        if registers is None:
            self._dense: np.ndarray | None = None
            self._sparse: dict | None = {}
        else:
            self._dense = registers
            self._sparse = None

    # -- representation ---------------------------------------------------

    @property
    def is_sparse(self) -> bool:
        return self._dense is None

    @property
    def registers(self) -> np.ndarray:
        """Dense register bank (materialized on demand when sparse)."""
        if self._dense is not None:
            return self._dense
        return self._materialize()

    def _materialize(self) -> np.ndarray:
        regs = np.zeros(self.m, dtype=np.uint8)
        if self._sparse:
            n = len(self._sparse)
            idx = np.fromiter(self._sparse.keys(), dtype=np.int64, count=n)
            rho = np.fromiter(self._sparse.values(), dtype=np.uint8, count=n)
            regs[idx] = rho
        return regs

    def _promote(self) -> None:
        self._dense = self._materialize()
        self._sparse = None

    @property
    def relative_error(self) -> float:
        """Published std error 1.04/√m."""
        return 1.04 / math.sqrt(self.m)

    # -- updates / merge ---------------------------------------------------

    def update_hashes(self, h1) -> None:
        h = to_u64(np.asarray(h1))
        if h.size == 0:
            return
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        w = h & ((_U64(1) << _U64(64 - self.p)) - _U64(1))   # low 64−p bits
        # rho = (#leading zeros in the 64−p bit word) + 1
        rho = ((64 - self.p) - bit_length_u64(w) + 1).astype(np.uint8)
        if self._dense is not None:
            np.maximum.at(self._dense, idx, rho)
            return
        uniq, inv = np.unique(idx, return_inverse=True)
        best = np.zeros(uniq.size, dtype=np.uint8)
        np.maximum.at(best, inv, rho)
        d = self._sparse
        if (len(d) + uniq.size) * _PROMOTE_DIV > self.m:
            # this batch may cross the promote threshold: go dense FIRST
            # so the fold is one vectorized np.maximum.at, never a
            # per-item dict loop over a big batch (promoting a little
            # early when keys overlap is free — the representation is
            # invisible to every output)
            self._promote()
            np.maximum.at(self._dense, uniq, best)
            return
        # small batch into a small dict: the loop is bounded by m/4 items
        for i, r in zip(uniq.tolist(), best.tolist()):
            if r > d.get(i, 0):
                d[i] = r

    def merge(self, other: "HLLSketch") -> "HLLSketch":
        assert self.p == other.p
        if self._dense is None and other._dense is None:
            a, b = self._sparse, other._sparse
            if len(a) < len(b):
                a, b = b, a
            d = dict(a)
            for i, r in b.items():
                if r > d.get(i, 0):
                    d[i] = r
            out = HLLSketch(self.p)
            out._sparse = d
            if len(d) * _PROMOTE_DIV > self.m:
                out._promote()
            return out
        return HLLSketch(self.p, np.maximum(self.registers, other.registers))

    # -- estimate / serialization -------------------------------------------

    def estimate(self) -> float:
        """Ertl's improved estimator (arXiv:1702.01284, Algorithm 6).

        A function of the register histogram alone — integers — so the
        estimate is bit-identical whether the sketch lived sparse or
        dense."""
        q = 64 - self.p                 # rho ranges over 0..q+1
        c = np.bincount(self.registers, minlength=q + 2).tolist()
        m = self.m
        z = m * _tau(1.0 - c[q + 1] / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + c[k])
        z += m * _sigma(c[0] / m)
        return _ALPHA_INF * m * m / z

    @property
    def size_bytes(self) -> int:
        """Dense (worst-case serialized) size — used for merge fan-in
        sizing, which must bound on what a partial MAY grow to."""
        return self.m

    @property
    def resident_bytes(self) -> int:
        """Approximate in-memory footprint NOW (the sparse-start win)."""
        if self._dense is not None:
            return int(self._dense.nbytes)
        # CPython dict entry ≈ 100 B (key int + value int + slot)
        return 64 + 100 * len(self._sparse)

    def to_bytes(self) -> bytes:
        """Content-adaptive (HLL++-style sparse mode for the wire): a
        partial whose nonzero registers number < m/5 ships as
        (index, rho:uint8) pairs, the index in the narrowest unsigned
        dtype that holds m−1 (uint16 for p ≤ 16, uint32 above; the
        reader accepts either) — the common case for grouped
        per-host partials where a group saw a handful of rows in a
        partition but the bank is 2^p bytes. Dense otherwise. Encoding
        is a pure function of content (evaluated over the dense view) →
        merge-order/resume byte-identity hold regardless of in-memory
        representation."""
        regs = self.registers
        nz = np.flatnonzero(regs)
        if nz.size * 5 < self.m:
            return pack("hll", {"p": self.p, "sparse": 1},
                        nz.astype(_index_dtype(self.p)), regs[nz])
        return pack("hll", {"p": self.p}, regs)

    @classmethod
    def _from_state(cls, params, bufs):
        if params.get("sparse"):
            regs = np.zeros(1 << params["p"], dtype=np.uint8)
            regs[bufs[0].astype(np.int64)] = bufs[1]
            return cls(params["p"], regs)
        return cls(params["p"], bufs[0])


class GroupedHLLFold:
    """Vectorized per-group HLL fold for the GROUPED map-side combine.

    ``build_grouped_sketches``' generic map side keeps a dict
    group→sketch and calls ``update_hashes`` once per group per batch —
    per-group Python overhead that dominates when groups are tiny (the
    per-host web shape: ~1e8 groups of a few rows). This fold instead
    accumulates ``(gid, register_idx, rho)`` triples for WHOLE batches
    with numpy (no per-row or per-group work on the hot path) and
    dedupe-compacts them to per-(gid, idx) max-rho whenever the buffer
    doubles past the last compacted size — so resident memory is
    O(distinct (group, register) pairs seen), the same bound as the
    sparse-dict representation, amortized O(sort) work.

    ``payload(gid)`` emits bytes EQUAL to ``HLLSketch.to_bytes()`` of
    the equivalent sequential fold: register content is a max (order
    free), the sparse/dense wire choice uses the same nz*5 < m rule,
    and sparse indices come out ascending exactly like flatnonzero —
    pinned by tests/test_kernels.py byte-identity tests."""

    __slots__ = ("p", "m", "_gid", "_idx", "_rho", "_packed_len")

    def __init__(self, p: int):
        self.p = int(p)
        self.m = 1 << self.p
        self._gid = np.zeros(0, dtype=np.int64)
        self._idx = np.zeros(0, dtype=np.int64)
        self._rho = np.zeros(0, dtype=np.uint8)
        self._packed_len = 0

    def add(self, gids: np.ndarray, h1: np.ndarray) -> None:
        h = to_u64(np.asarray(h1))
        if h.size == 0:
            return
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        w = h & ((_U64(1) << _U64(64 - self.p)) - _U64(1))
        rho = ((64 - self.p) - bit_length_u64(w) + 1).astype(np.uint8)
        self._gid = np.concatenate([self._gid,
                                    np.asarray(gids, dtype=np.int64)])
        self._idx = np.concatenate([self._idx, idx])
        self._rho = np.concatenate([self._rho, rho])
        if self._gid.size > max(2 * self._packed_len, 1 << 16):
            self._compact()

    def _compact(self) -> None:
        order = np.lexsort((self._idx, self._gid))
        g, i, r = self._gid[order], self._idx[order], self._rho[order]
        # boundaries of distinct (gid, idx) runs in the sorted view
        new = np.empty(g.size, dtype=bool)
        new[0] = True
        np.logical_or(g[1:] != g[:-1], i[1:] != i[:-1], out=new[1:])
        starts = np.flatnonzero(new)
        self._gid, self._idx = g[starts], i[starts]
        self._rho = np.maximum.reduceat(r, starts)
        self._packed_len = int(starts.size)

    def payloads(self, n_groups: int) -> list:
        """→ list of payload bytes indexed by gid (0..n_groups-1);
        gids with no rows get an empty sketch's payload."""
        self._compact() if self._gid.size else None
        out = []
        bounds = np.searchsorted(self._gid, np.arange(n_groups + 1))
        empty = HLLSketch(self.p).to_bytes()
        for gid in range(n_groups):
            lo, hi = int(bounds[gid]), int(bounds[gid + 1])
            if lo == hi:
                out.append(empty)
                continue
            idx, rho = self._idx[lo:hi], self._rho[lo:hi]
            if idx.size * 5 < self.m:
                out.append(pack("hll", {"p": self.p, "sparse": 1},
                                idx.astype(_index_dtype(self.p)), rho))
            else:
                regs = np.zeros(self.m, dtype=np.uint8)
                regs[idx] = rho
                out.append(pack("hll", {"p": self.p}, regs))
        return out
