"""Sketch serialization protocol.

Every sketch is an algebraic aggregator (commutative monoid unless noted):
``zero(params) → update_hashes/update_values(batch) → merge → finalize``,
with ``to_bytes()/from_bytes()`` for carrying partials in a BinaryType
DataFrame column.

Payload layout (version 1), all integers little-endian:

- a fixed 4-byte prefix: ``MAGIC`` u8, ``VERSION`` u8, kind u8 (an index
  into ``_KINDS``), then one byte ``nbufs << 5 | mask``: the buffer count
  (≤ 7) and the param presence mask (bit i set ⇔ the kind's i-th param
  name is present; a kind has ≤ 5 param names);
- one value per present param, in name order: a varint ``t`` whose low
  two bits give the type — 0: the int ``t >> 2``, 1: the int
  ``-(t >> 2) - 1``, 2: a float, whose 8 bytes (f64) follow, 3: None;
- per buffer one byte ``ndim << 4 | dtype code`` (an index into
  ``_DTYPES``), then its ``ndim`` dims as varints;
- the buffers' raw little-endian bytes, back to back, to the end.

A sparse HLL partial therefore carries 10 header bytes where the JSON
framing carried ~76. ``_KINDS`` and ``_DTYPES`` are part of the format:
append to them, never reorder.

Legacy rule: payloads written before the binary codec are a JSON header
(kind, params, buffer dtypes and shapes), a NUL byte, then the buffers.
Their first byte is ``{`` (0x7B), which ``MAGIC`` never is, so ``unpack``
still reads them; ``pack`` writes only the binary layout, so re-encoding
a legacy payload yields the new framing. Any malformed payload
(truncated, trailing bytes, unknown magic, version, kind or dtype)
raises ``ValueError``.

This is the Spark-native reshaping of the reference's in-place mutable
filters (e.g. Bloom_project/src/core/BloomFilter.cpp:17-28): per-partition
partials + associative merge instead of a mutex-guarded shared object
(Bloom_project/src/core/Bloom_project.cpp:3910-3933).
"""

from __future__ import annotations

import json
import math
import operator
import struct
from typing import Callable, Protocol

import numpy as np

MAGIC = 0xB5
VERSION = 1
_LEGACY_FIRST = 0x7B             # "{": a legacy payload's JSON header

# kind → its param names (at most 5: the mask is 5 bits), in mask-bit order
_KINDS = (
    ("hll", ("p", "sparse")),
    ("bloom", ("m", "k", "n", "sparse")),
    ("bloomq20", ("m", "k", "n", "sparse")),
    ("cbf", ("m", "k", "n", "sparse")),
    ("ibf", ("m", "k", "n")),
    ("cms", ("d", "w", "n")),
    ("kll", ("k", "n")),
    ("tdigest", ("delta", "total", "vmin", "vmax")),
    ("theta", ("k",)),
    ("cuckoo", ("n", "stash")),
    ("cuckoo_bank", ("count", "packed_len")),
    ("multi", ("count",)),
    ("mg", ("c", "n", "d")),
)
_KIND_CODE = {kind: (i, names) for i, (kind, names) in enumerate(_KINDS)}
_DTYPES = tuple(np.dtype(s) for s in (
    "|b1", "|u1", "<u2", "<u4", "<u8", "|i1", "<i2", "<i4", "<i8",
    "<f4", "<f8"))
_DTYPE_CODE = {dt: i for i, dt in enumerate(_DTYPES)}
_PREFIX = struct.Struct("<4B")
_F64 = struct.Struct("<d")

_REGISTRY: dict[str, type] = {}


def register(kind: str):
    if kind not in _KIND_CODE:
        raise ValueError(f"sketch kind {kind!r} has no code in _KINDS")

    def deco(cls):
        cls.KIND = kind
        _REGISTRY[kind] = cls
        return cls
    return deco


def _put_varint(out: bytearray, v: int) -> None:
    while v > 0x7F:
        out.append(v & 0x7F | 0x80)
        v >>= 7
    out.append(v)


def _varint(data, pos: int):
    """→ (value, next pos); IndexError past the end."""
    b = data[pos]
    if b < 0x80:
        return b, pos + 1
    v, shift = b & 0x7F, 7
    while True:
        pos += 1
        b = data[pos]
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, pos + 1
        shift += 7


def _put_value(out: bytearray, v) -> None:
    if v is None:
        out.append(3)
    elif isinstance(v, float):
        out.append(2)
        out += _F64.pack(v)
    else:
        v = operator.index(v)
        _put_varint(out, v << 2 if v >= 0 else (-v - 1) << 2 | 1)


def pack(kind: str, params: dict, *buffers: np.ndarray) -> bytes:
    """→ one version-1 payload (layout in the module docstring)."""
    try:
        code, names = _KIND_CODE[kind]
    except KeyError:
        raise ValueError(f"unknown sketch kind {kind!r}") from None
    if len(buffers) > 7:
        raise ValueError(f"{len(buffers)} buffers; a payload holds <= 7")
    head = bytearray(_PREFIX.pack(MAGIC, VERSION, code, 0))
    mask = 0
    for i, name in enumerate(names):
        if name in params:
            mask |= 1 << i
            _put_value(head, params[name])
    if mask.bit_count() != len(params):
        raise ValueError(f"{kind} params {sorted(params)} not in {names}")
    head[3] = len(buffers) << 5 | mask
    data = [head]
    for b in buffers:
        dt = _DTYPE_CODE.get(b.dtype)
        if dt is None or b.ndim > 15:
            raise ValueError(f"unsupported buffer {b.dtype} ndim={b.ndim}")
        head.append(b.ndim << 4 | dt)
        for d in b.shape:
            _put_varint(head, d)
        data.append(np.ascontiguousarray(b))  # after b.shape: 0-d → 1-d
    return b"".join(data)


def _buffers(data, pos: int, specs) -> list:
    """The buffers ``specs`` [(dtype, count, shape or None)] describe,
    read from ``data[pos:]``, which they must fill exactly; each array is
    a writable copy."""
    bufs = []
    for dt, n, shape in specs:
        end = pos + n * dt.itemsize
        if end > len(data):
            raise ValueError("truncated sketch payload")
        arr = np.frombuffer(data, dt, n, pos).copy()
        bufs.append(arr if shape is None else arr.reshape(shape))
        pos = end
    if pos != len(data):
        raise ValueError(f"{len(data) - pos} trailing bytes in sketch payload")
    return bufs


def unpack(data: bytes):
    """→ (kind, params, [buffers]), from either framing."""
    if not data:
        raise ValueError("empty sketch payload")
    if data[0] == _LEGACY_FIRST:
        return _unpack_legacy(data)
    try:
        magic, version, code, counts = _PREFIX.unpack_from(data)
    except struct.error:
        raise ValueError("truncated sketch payload") from None
    if magic != MAGIC:
        raise ValueError(f"not a sketch payload (first byte {magic:#04x})")
    if version != VERSION:
        raise ValueError(f"unknown sketch payload version {version}")
    if code >= len(_KINDS):
        raise ValueError(f"unknown sketch kind code {code}")
    kind, names = _KINDS[code]
    mask = counts & 31
    if mask >> len(names):
        raise ValueError(f"{kind} param mask {mask:#x} out of range")
    pos = 4
    params = {}
    specs = []
    try:
        for i, name in enumerate(names):
            if mask >> i & 1:
                t, pos = _varint(data, pos)
                tag = t & 3
                if tag == 0:
                    params[name] = t >> 2
                elif tag == 1:
                    params[name] = -(t >> 2) - 1
                elif tag == 2:
                    params[name] = _F64.unpack_from(data, pos)[0]
                    pos += 8
                else:
                    params[name] = None
        for _ in range(counts >> 5):
            b = data[pos]
            pos += 1
            if b & 15 >= len(_DTYPES):
                raise ValueError(f"unknown buffer dtype code {b & 15}")
            ndim = b >> 4
            if ndim == 1:              # the common case: no shape tuple
                n, pos = _varint(data, pos)
                specs.append((_DTYPES[b & 15], n, None))
                continue
            shape = []
            for _ in range(ndim):
                d, pos = _varint(data, pos)
                shape.append(d)
            specs.append((_DTYPES[b & 15], math.prod(shape), shape))
    except (IndexError, struct.error):
        raise ValueError("truncated sketch payload") from None
    return kind, params, _buffers(data, pos, specs)


def _unpack_legacy(data):
    """The pre-binary framing: JSON header, NUL, buffers."""
    try:
        sep = data.index(0)
        header = json.loads(bytes(data[:sep]).decode("utf-8"))
        specs = [(np.dtype(dt), math.prod(shape), shape)
                 for dt, shape in header["bufs"]]
        kind, params = header["kind"], header["params"]
    except (KeyError, TypeError) as e:
        raise ValueError(f"malformed legacy sketch header: {e!r}") from None
    return kind, params, _buffers(data, sep + 1, specs)


def sketch_from_bytes(data: bytes):
    kind, params, bufs = unpack(data)
    cls = _REGISTRY.get(kind)
    if cls is None:
        raise ValueError(f"unknown sketch kind {kind!r}")
    return cls._from_state(params, bufs)


class GroupedFold(Protocol):
    """Grouped map-side fold: ``add`` a batch whose row i belongs to group
    ``gids[i]``; ``payloads(n_groups)`` → one payload per gid, EQUAL to
    ``to_bytes()`` of a sketch fed that group's rows batch by batch."""

    def add(self, gids: np.ndarray, vals: np.ndarray) -> None: ...

    def payloads(self, n_groups: int) -> list: ...


class GroupedSketchFold:
    """Generic ``GroupedFold``, one live sketch per gid: ``add`` splits the
    batch by gid (stable argsort) and feeds each group's rows in row
    order, so order-sensitive sketches (KLL, t-digest) stay byte-identical
    too. ``vals`` are hashes, or raw doubles when ``value_based``."""

    __slots__ = ("_factory", "_update", "_sketches")

    def __init__(self, factory: Callable, value_based: bool = False):
        self._factory = factory
        self._update = "update_values" if value_based else "update_hashes"
        self._sketches: dict = {}      # gid -> sketch

    def add(self, gids: np.ndarray, vals: np.ndarray) -> None:
        if len(gids) == 0:
            return
        order = np.argsort(gids, kind="stable")
        g, v = np.asarray(gids)[order], np.asarray(vals)[order]
        cuts = np.flatnonzero(g[1:] != g[:-1]) + 1
        for gid, part in zip(g[np.r_[0, cuts]].tolist(), np.split(v, cuts)):
            sk = self._sketches.get(gid)
            if sk is None:
                sk = self._sketches[gid] = self._factory()
            getattr(sk, self._update)(part)

    def payloads(self, n_groups: int) -> list:
        return [(self._sketches[g] if g in self._sketches
                 else self._factory()).to_bytes() for g in range(n_groups)]
