"""The binary payload codec (kernels/base.py) and its legacy reader.

``LEGACY`` holds payloads in the pre-binary framing (JSON header, NUL,
buffers) exactly as that codec's ``pack`` wrote them for the sketches
``BUILDERS`` makes. They are frozen here as hex, so a payload that sits
in a checkpoint or a rollup cube from before the binary codec keeps
decoding to the same state."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.checkpoint import _LINEAGE_SCHEMA, SketchCheckpoint
from bloom_filters_spark.kernels import (
    BloomSketch, CountingBloomSketch, CountMinSketch, CuckooBank,
    CuckooFilter, HLLSketch, InvertibleBloomSketch, KLLSketch,
    MisraGriesSketch, MultiSketch, TDigest, ThetaSketch, sketch_from_bytes)
from bloom_filters_spark.kernels.base import MAGIC, VERSION, pack, unpack
from bloom_filters_spark.kernels.bloom import K20QuirkBloom
from bloom_filters_spark.kernels.hll import GroupedHLLFold
from bloom_filters_spark.operators.agg import build_sketch


def _hashes(n, seed):
    return np.random.default_rng(seed).integers(
        -(2**63), 2**63 - 1, n, dtype=np.int64)


def _fed(sk, n, seed, values=False):
    if values:
        sk.update_values(np.random.default_rng(seed).lognormal(0, 1, n))
    else:
        sk.update_hashes(_hashes(n, seed))
    return sk


def _heavy(sk, seed):
    """Four keys seen 6, 3, 1 and 1 times: a frequent-items summary of
    capacity 3 keeps some and decrements."""
    sk.update_hashes(np.repeat(_hashes(4, seed), [6, 3, 1, 1]))
    return sk


BUILDERS = {
    "hll_sparse": lambda: _fed(HLLSketch(8), 5, 1),
    "hll_dense": lambda: _fed(HLLSketch(4), 40, 2),
    "bloom_sparse": lambda: _fed(BloomSketch(1024, 3), 4, 3),
    "bloom_dense": lambda: _fed(BloomSketch(64, 3), 10, 4),
    "bloomq20": lambda: _fed(K20QuirkBloom(64, 3), 6, 5),
    "cbf": lambda: _fed(CountingBloomSketch(16, 2), 5, 6),
    "ibf": lambda: _fed(InvertibleBloomSketch(6, 3), 3, 7),
    "cms": lambda: _fed(CountMinSketch(2, 4), 10, 8),
    "kll": lambda: _fed(KLLSketch(8), 30, 9, values=True),
    "tdigest": lambda: _fed(TDigest(5.0), 12, 10, values=True),
    "theta": lambda: _fed(ThetaSketch(16), 40, 11),
    "cuckoo": lambda: _fed(CuckooFilter(4), 3, 12),
    "cuckoo_bank": lambda: CuckooBank([_fed(CuckooFilter(4), 2, 13),
                                       _fed(CuckooFilter(4), 2, 14)]),
    "multi": lambda: MultiSketch([_fed(HLLSketch(6), 3, 15),
                                  _fed(BloomSketch(256, 2), 2, 16)]),
    "mg": lambda: _heavy(MisraGriesSketch(3), 17),
}

LEGACY = {
    "hll_sparse": (
        "7b226b696e64223a22686c6c222c22706172616d73223a7b2270223a382c2273"
        "7061727365223a317d2c2262756673223a5b5b223c7534222c5b355d5d2c5b22"
        "7c7531222c5b355d5d5d7d00030000007200000073000000a4000000cf000000"
        "0601020101"),
    "hll_dense": (
        "7b226b696e64223a22686c6c222c22706172616d73223a7b2270223a347d2c22"
        "62756673223a5b5b227c7531222c5b31365d5d5d7d0003020304020603020102"
        "020803040207"),
    "bloom_sparse": (
        "7b226b696e64223a22626c6f6f6d222c22706172616d73223a7b226d223a3130"
        "32342c226b223a332c226e223a342c22737061727365223a317d2c2262756673"
        "223a5b5b223c7534222c5b31325d5d5d7d00350000004d000000a6000000ed01"
        "0000fd0100007202000090020000c7020000f7020000230300007e030000f403"
        "0000"),
    "bloom_dense": (
        "7b226b696e64223a22626c6f6f6d222c22706172616d73223a7b226d223a3634"
        "2c226b223a332c226e223a31307d2c2262756673223a5b5b227c7531222c5b38"
        "5d5d5d7d00ac3a0b1c43083504"),
    "bloomq20": (
        "7b226b696e64223a22626c6f6f6d713230222c22706172616d73223a7b226d22"
        "3a36342c226b223a332c226e223a367d2c2262756673223a5b5b227c7531222c"
        "5b385d5d5d7d00000042942000e904"),
    "cbf": (
        "7b226b696e64223a22636266222c22706172616d73223a7b226d223a31362c22"
        "6b223a322c226e223a352c22737061727365223a317d2c2262756673223a5b5b"
        "223c7534222c5b385d5d2c5b223c6938222c5b385d5d5d7d0002000000030000"
        "0004000000090000000b0000000c0000000d0000000e00000001000000000000"
        "0001000000000000000100000000000000010000000000000001000000000000"
        "00010000000000000002000000000000000200000000000000"),
    "ibf": (
        "7b226b696e64223a22696266222c22706172616d73223a7b226d223a362c226b"
        "223a332c226e223a337d2c2262756673223a5b5b223c6938222c5b365d5d2c5b"
        "223c7538222c5b365d5d2c5b223c7538222c5b365d5d5d7d0001000000000000"
        "0002000000000000000200000000000000010000000000000001000000000000"
        "0002000000000000008a4ae5f1a9410620f5932c3be39b3c23f5932c3be39b3c"
        "238a4ae5f1a94106208a4ae5f1a9410620f5932c3be39b3c2363d5ab1d122cbe"
        "5ee1222604661c444fe1222604661c444f63d5ab1d122cbe5e63d5ab1d122cbe"
        "5ee1222604661c444f"),
    "cms": (
        "7b226b696e64223a22636d73222c22706172616d73223a7b2264223a322c2277"
        "223a342c226e223a31307d2c2262756673223a5b5b223c6938222c5b322c345d"
        "5d5d7d0004000000000000000300000000000000010000000000000002000000"
        "0000000002000000000000000300000000000000030000000000000002000000"
        "00000000"),
    "kll": (
        "7b226b696e64223a226b6c6c222c22706172616d73223a7b226b223a382c226e"
        "223a33307d2c2262756673223a5b5b223c6938222c5b335d5d2c5b223c693822"
        "2c5b335d5d2c5b223c6638222c5b385d5d5d7d00000000000000000000000000"
        "0000000008000000000000000100000000000000010000000000000000000000"
        "000000006f591fb9a1c4c03f54a9abd0f53eda3f22c4c56a8c49e33feac04b54"
        "9ec5e53f3b9b8db2e565f43f6932d4d719d6fe3f2e06048dc5190940a8ed8fd2"
        "66d42440"),
    "tdigest": (
        "7b226b696e64223a2274646967657374222c22706172616d73223a7b2264656c"
        "7461223a352e302c22746f74616c223a31322e302c22766d696e223a302e3333"
        "3137363136363334343136373034362c22766d6178223a322e33353832383934"
        "3536303430383838377d2c2262756673223a5b5b223c6638222c5b335d5d2c5b"
        "223c6638222c5b335d5d5d7d002b438464d23bdb3f60f1dcbf6cbcef3faa5ae3"
        "7613ba0240000000000000104000000000000018400000000000000040"),
    "theta": (
        "7b226b696e64223a227468657461222c22706172616d73223a7b226b223a3136"
        "7d2c2262756673223a5b5b223c7538222c5b315d5d2c5b223c7538222c5b3136"
        "5d5d5d7d005337c866d33c9f6d3a394f25db74ea02c1a78075bf7c2b039dded3"
        "d66232900c291af14ee745c10d417fa6ed32ca72177b640c97decbfb19b0f3bc"
        "fa5cc3331fd48a98716313b029d664643f51c09c2b6c6c85dbb679612c7dec05"
        "597ef6bc49f4638e97b3275d4d01b7f7f099a31551873ffee25792095ed80601"
        "f92e9b5c6530215090ea2fc466"),
    "cuckoo": (
        "7b226b696e64223a226375636b6f6f222c22706172616d73223a7b226e223a33"
        "7d2c2262756673223a5b5b223c7532222c5b382c345d5d5d7d00000000000000"
        "000077b000000000000000000000000000000000000000000000000000000000"
        "00000000000000000000000000000000000036c05e7200000000"),
    "cuckoo_bank": (
        "7b226b696e64223a226375636b6f6f5f62616e6b222c22706172616d73223a7b"
        "22636f756e74223a322c227061636b65645f6c656e223a307d2c226275667322"
        "3a5b5b223c6938222c5b325d5d2c5b227c7531222c5b3234345d5d5d7d007a00"
        "0000000000007a000000000000007b226b696e64223a226375636b6f6f222c22"
        "706172616d73223a7b226e223a327d2c2262756673223a5b5b223c7532222c5b"
        "382c345d5d5d7d00000000000000000000000000000000000000000000000000"
        "635d00000000000000000000000000000000000000000000f55a000000000000"
        "00000000000000007b226b696e64223a226375636b6f6f222c22706172616d73"
        "223a7b226e223a327d2c2262756673223a5b5b223c7532222c5b382c345d5d5d"
        "7d0067dc00000000000000000000000000000000000000000000000000000000"
        "0000bb5400000000000000000000000000000000000000000000000000000000"
        "0000"),
    "multi": (
        "7b226b696e64223a226d756c7469222c22706172616d73223a7b22636f756e74"
        "223a327d2c2262756673223a5b5b223c6938222c5b325d5d2c5b227c7531222c"
        "5b3138375d5d5d7d005b0000000000000060000000000000007b226b696e6422"
        "3a22686c6c222c22706172616d73223a7b2270223a362c22737061727365223a"
        "317d2c2262756673223a5b5b223c7534222c5b335d5d2c5b227c7531222c5b33"
        "5d5d5d7d000c00000014000000360000000203057b226b696e64223a22626c6f"
        "6f6d222c22706172616d73223a7b226d223a3235362c226b223a322c226e223a"
        "322c22737061727365223a317d2c2262756673223a5b5b223c7534222c5b345d"
        "5d5d7d0041000000520000006d000000da000000"),
    "mg": (
        "7b226b696e64223a226d67222c22706172616d73223a7b2263223a332c226e22"
        "3a31312c2264223a317d2c2262756673223a5b5b223c7538222c5b325d5d2c5b"
        "223c6938222c5b325d5d5d7d0072ccafbd55d256584ab07a1b528835a9050000"
        "00000000000200000000000000"),
}


def _legacy_pack(kind, params, *buffers):
    """The pre-binary ``pack``: JSON header (kind, params, buffer dtypes
    and shapes), a NUL byte, then the raw buffers."""
    header = {"kind": kind, "params": params,
              "bufs": [[b.dtype.str, list(b.shape)] for b in buffers]}
    return b"".join([json.dumps(header, separators=(",", ":")).encode(),
                     b"\x00", *(np.ascontiguousarray(b).tobytes()
                                for b in buffers)])


_NESTED = ("multi", "cuckoo_bank")    # buffers: member lengths, payloads


def _members(bufs):
    lens, flat = bufs
    ends = np.cumsum(lens)
    return [flat[e - n:e].tobytes() for n, e in zip(lens, ends)]


def _as_legacy(payload):
    """A current payload re-framed as the pre-binary codec wrote it:
    sparse HLL indices back in uint32, nested members re-framed too."""
    kind, params, bufs = unpack(payload)
    if kind == "hll" and params.get("sparse"):
        bufs[0] = bufs[0].astype(np.uint32)
    if kind in _NESTED:
        members = [_as_legacy(m) for m in _members(bufs)]
        bufs = [np.array([len(m) for m in members], dtype=np.int64),
                np.frombuffer(b"".join(members), dtype=np.uint8)]
    return _legacy_pack(kind, params, *bufs)


def _state(payload):
    """(kind, params, buffer values or member states) — dtype-blind, so a
    uint32 and a uint16 index buffer holding the same indices compare
    equal, and framing-blind for nested members."""
    kind, params, bufs = unpack(payload)
    if kind in _NESTED:
        return kind, params, [_state(m) for m in _members(bufs)]
    return kind, params, [b.tolist() for b in bufs]


def test_legacy_literals_cover_every_kind():
    from bloom_filters_spark.kernels.base import _REGISTRY
    kinds = {json.loads(bytes.fromhex(h).split(b"\x00")[0])["kind"]
             for h in LEGACY.values()}
    assert kinds == set(_REGISTRY)
    assert LEGACY.keys() == BUILDERS.keys()


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_legacy_payload_decodes_to_same_state(name):
    legacy = bytes.fromhex(LEGACY[name])
    assert legacy[:1] == b"{"
    fresh = BUILDERS[name]().to_bytes()
    assert fresh[:2] == bytes([MAGIC, VERSION])
    # the literal is what the pre-binary codec wrote for this sketch
    assert _as_legacy(fresh) == legacy
    restored = sketch_from_bytes(legacy)
    # re-encoding yields the binary framing, byte-equal to a fresh build
    assert restored.to_bytes() == fresh
    assert _state(legacy) == _state(fresh)


def test_legacy_nested_payloads_reencode_binary():
    """A legacy ``multi`` / ``cuckoo_bank`` carries legacy members; each
    member re-encodes in the binary framing too."""
    for name in _NESTED:
        members = sketch_from_bytes(bytes.fromhex(LEGACY[name])).members
        assert all(m.to_bytes()[0] == MAGIC for m in members)


def test_sparse_hll_index_width():
    for p, dt in ((12, np.uint16), (16, np.uint16), (17, np.uint32),
                  (18, np.uint32)):
        sk = _fed(HLLSketch(p), 50, p)
        kind, params, (idx, rho) = unpack(sk.to_bytes())
        assert params == {"p": p, "sparse": 1} and idx.dtype == dt
        assert sketch_from_bytes(sk.to_bytes()).to_bytes() == sk.to_bytes()
        fold = GroupedHLLFold(p)
        fold.add(np.zeros(50, dtype=np.int64), _hashes(50, p))
        assert fold.payloads(1) == [sk.to_bytes()]
    # index 65535 is the top register at p = 16
    regs = np.zeros(1 << 16, dtype=np.uint8)
    regs[[0, 65535]] = [3, 7]
    sk = HLLSketch(16, regs)
    assert unpack(sk.to_bytes())[2][0].tolist() == [0, 65535]
    assert np.array_equal(sketch_from_bytes(sk.to_bytes()).registers, regs)


@pytest.mark.parametrize("params", [
    {}, {"delta": 0}, {"delta": -1, "total": 2**70},
    {"delta": 1.5, "vmin": None}, {"total": -0.0, "vmax": float("inf")}])
def test_param_values_round_trip(params):
    """Params are tagged varints (either sign), f64 or None, any subset of
    the kind's names; a float that holds an integer stays a float."""
    bufs = np.arange(3, dtype=np.int64), np.zeros((2, 0, 3), np.float32)
    kind, got, out = unpack(pack("tdigest", params, *bufs))
    assert kind == "tdigest" and got == params
    assert [type(v) for v in got.values()] == \
        [type(v) for v in params.values()]
    assert out[0].tolist() == [0, 1, 2] and out[1].shape == (2, 0, 3)


def test_malformed_payloads_raise_value_error():
    good = BUILDERS["bloom_dense"]().to_bytes()
    for n in range(len(good)):
        with pytest.raises(ValueError):
            unpack(good[:n])
    with pytest.raises(ValueError, match="trailing"):
        unpack(good + b"\x00")
    for pos, byte, msg in ((0, 0x00, "not a sketch payload"),
                           (1, VERSION + 1, "version"),
                           (2, 0xFF, "kind")):
        bad = bytearray(good)
        bad[pos] = byte
        with pytest.raises(ValueError, match=msg):
            unpack(bytes(bad))
    legacy = bytes.fromhex(LEGACY["bloom_dense"])
    for n in (1, legacy.index(0), legacy.index(0) + 1, len(legacy) - 1):
        with pytest.raises(ValueError):
            unpack(legacy[:n])
    with pytest.raises(ValueError):
        pack("no_such_kind", {})
    with pytest.raises(ValueError):
        pack("hll", {"p": 12, "q": 1})


def test_resume_over_legacy_shards(spark, tmp_path):
    """Shards a pre-binary build checkpointed still resume: the missing
    shards are rebuilt in the binary framing and the fold is
    byte-identical to a fresh build, with exact n_rows."""
    keys = spark.range(5000).select(
        F.concat(F.lit("k"), (F.col("id") % 3000).cast("string"))
        .alias("key"))
    factory = lambda: HLLSketch(12)
    old = SketchCheckpoint(spark, str(tmp_path / "binary"), n_shards=8)
    with pytest.raises(RuntimeError, match="simulated kill"):
        old.build(keys, "key", factory, "legacy", fail_after_shards=3)
    rows = spark.read.schema(_LINEAGE_SCHEMA).parquet(
        str(tmp_path / "binary")).collect()
    assert len(rows) == 3
    legacy_rows = []
    for r in rows:
        d = r.asDict()
        d["payload"] = bytearray(_as_legacy(bytes(d["payload"])))
        d["n_bytes"] = len(d["payload"])
        legacy_rows.append(d)
    assert all(r["payload"][:1] == b"{" for r in legacy_rows)
    spark.createDataFrame(legacy_rows, _LINEAGE_SCHEMA).write.parquet(
        str(tmp_path / "legacy"))
    cp = SketchCheckpoint(spark, str(tmp_path / "legacy"), n_shards=8)
    sk, n, lineage = cp.resume(keys, "key", factory, "legacy")
    assert lineage["recomputed_shards"] == list(range(3, 8))
    direct, n2 = build_sketch(keys, "key", factory)
    assert n == n2 == 5000
    assert sk.to_bytes() == direct.to_bytes()
