"""Sketch serialization protocol.

Every sketch is an algebraic aggregator (commutative monoid unless noted):
``zero(params) → update_hashes/update_values(batch) → merge → finalize``,
with ``to_bytes()/from_bytes()`` for carrying partials in a BinaryType
DataFrame column. Payload layout: a JSON header (kind + params), a NUL
byte, then the raw little-endian numpy buffer(s).

This is the Spark-native reshaping of the reference's in-place mutable
filters (e.g. Bloom_project/src/core/BloomFilter.cpp:17-28): per-partition
partials + associative merge instead of a mutex-guarded shared object
(Bloom_project/src/core/Bloom_project.cpp:3910-3933).
"""

from __future__ import annotations

import json
from typing import Callable, Protocol

import numpy as np

_REGISTRY: dict[str, type] = {}


def register(kind: str):
    def deco(cls):
        cls.KIND = kind
        _REGISTRY[kind] = cls
        return cls
    return deco


def pack(kind: str, params: dict, *buffers: np.ndarray) -> bytes:
    header = {"kind": kind, "params": params,
              "bufs": [[b.dtype.str, list(b.shape)] for b in buffers]}
    out = [json.dumps(header, separators=(",", ":")).encode("utf-8"), b"\x00"]
    for b in buffers:
        out.append(np.ascontiguousarray(b).tobytes())
    return b"".join(out)


def unpack(data: bytes):
    """→ (kind, params, [buffers])."""
    sep = data.index(0)
    header = json.loads(data[:sep].decode("utf-8"))
    offset = sep + 1
    bufs = []
    for dtype_str, shape in header["bufs"]:
        dt = np.dtype(dtype_str)
        n = int(np.prod(shape)) if shape else 1
        nbytes = dt.itemsize * n
        arr = np.frombuffer(data[offset:offset + nbytes], dtype=dt).reshape(shape)
        bufs.append(arr.copy())  # writable
        offset += nbytes
    return header["kind"], header["params"], bufs


def sketch_from_bytes(data: bytes):
    kind, params, bufs = unpack(data)
    cls = _REGISTRY[kind]
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
