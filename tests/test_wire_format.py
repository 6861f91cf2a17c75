"""PBFS wire-format pins: the bytes of small blobs, the codec choice by
payload length, version-1 blobs written before zstd existed, and the
errors of a corrupt or unknown blob."""

import hashlib
import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.cms import CountMinSketch
from presto_bloomfilter_spark.functions.hll import HyperLogLog
from presto_bloomfilter_spark.functions.kll import KLLSketch
from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes


def _small_blobs() -> dict[str, bytes]:
    """One fixed-seed blob per kind, every payload below 64 KiB."""
    rng = np.random.default_rng(20261019)
    ints = rng.integers(0, 1 << 40, 5_000, dtype=np.int64)
    return {
        "bloom_12kb": BloomFilter(10_000, 0.01).add_ints(ints).to_bytes(),
        "hll_sparse": HyperLogLog().add_strings([f"s{i}" for i in range(100)]).to_bytes(),
        "hll_dense": HyperLogLog().add_ints(rng.integers(0, 1 << 40, 100_000, dtype=np.int64)).to_bytes(),
        "kll": KLLSketch().add(rng.normal(size=10_000)).to_bytes(),
        "cms_small": CountMinSketch(0.01, 0.01).add_ints(ints % 1_000).to_bytes(),
    }


# sha256 of each whole blob, as written before zstd came in for large
# payloads: a blob below 64 KiB keeps its exact bytes
PINNED = {
    "bloom_12kb": "144b3ce3ce01569ed69ce0494857b717726f5f24b43f67e21a01a1ca8608a856",
    "hll_sparse": "e3145cc7a6e51f8b23a04859892d5de21e6a11d1c58a496cb67bf7fb50d4343d",
    "hll_dense": "63eb061ef282c1dfa5a02e2cafa58c135c11fed722b355e417c482e74b7d70b0",
    "kll": "2019aa7b71b61e12de484b564966b37b7d567444d060aa2a59ef0f0492d01309",
    "cms_small": "4d6f5ca5df6bd72630e435c544db19b0178072f2e2838ea31f366621b0e97046",
}


def _version_flags(blob: bytes) -> tuple[int, int]:
    return struct.unpack_from("<H", blob, 4)[0], blob[7]


def _v1_zlib(blob: bytes) -> bytes:
    """``blob`` packed by hand as a version-1 zlib blob, the only
    compressed form before zstd."""
    kind, params, payload = ser.decode(blob)
    plen = ser.read_params_length(blob)
    pjson = blob[48 : 48 + plen]
    z = zlib.compress(payload, 1)
    head = struct.pack("<4sHBB32sII", b"PBFS", 1, kind, 1,
                       hashlib.sha256(payload).digest(), plen, len(z))
    return head + pjson + z


def _with_stored(blob: bytes, stored: bytes) -> bytes:
    """``blob`` with its stored section replaced and its header's stored
    length set to match."""
    off = 48 + ser.read_params_length(blob)
    return blob[:44] + struct.pack("<I", len(stored)) + blob[48:off] + stored


def _stored(blob: bytes) -> bytes:
    return blob[48 + ser.read_params_length(blob):]


def test_small_blobs_keep_their_bytes():
    blobs = _small_blobs()
    for name, blob in blobs.items():
        assert len(ser.decode(blob)[2]) < ser.ZSTD_MIN_BYTES, name
        assert _version_flags(blob) == (1, 1), name
        assert hashlib.sha256(blob).hexdigest() == PINNED[name], name


def _large_pair(kind: str):
    """Two fresh builds of a 1M-geometry bloom or of a CMS over disjoint
    keys, each payload above 64 KiB."""
    rng = np.random.default_rng(7)
    keys = rng.permutation(400_000).astype(np.int64)

    def build(part):
        if kind == "bloom":
            return BloomFilter(1_000_000, 0.01).add_ints(part)
        return CountMinSketch(1e-4, 0.01).add_ints(part % 50_000)

    return build(keys[:200_000]), build(keys[200_000:])


@pytest.mark.parametrize("kind", ["bloom", "cms"])
def test_v1_zlib_blob_loads_and_merges_with_v2(kind):
    a, b = _large_pair(kind)
    v1 = _v1_zlib(a.to_bytes())
    v2 = b.to_bytes()
    assert _version_flags(v1) == (1, 1)
    assert _version_flags(v2) == (2, 4)
    assert ser.read_hash(v1) == ser.read_hash(a.to_bytes())
    assert sketch_from_bytes(v1).to_bytes() == a.to_bytes()
    merged = sketch_from_bytes(v1).merge(sketch_from_bytes(v2))
    fresh_a, fresh_b = _large_pair(kind)
    assert merged.to_bytes() == fresh_a.merge(fresh_b).to_bytes()


def test_unknown_version_or_flag_is_refused():
    blob = _large_pair("bloom")[0].to_bytes()
    v3 = blob[:4] + struct.pack("<H", 3) + blob[6:]
    with pytest.raises(ValueError, match="version 3"):
        sketch_from_bytes(v3)
    with pytest.raises(ValueError, match="version 3"):
        ser.read_hash(v3)
    for bit in (8, 16, 128):
        flagged = blob[:7] + bytes([blob[7] | bit]) + blob[8:]
        with pytest.raises(ValueError, match="flags"):
            sketch_from_bytes(flagged)


@pytest.mark.parametrize("codec", ["zlib", "zstd"])
def test_corrupt_payload_is_a_value_error(codec):
    if codec == "zlib":
        blob = _small_blobs()["bloom_12kb"]
        assert _version_flags(blob) == (1, 1)
    else:
        blob = _large_pair("cms")[0].to_bytes()
        assert _version_flags(blob) == (2, 4)
    stored = _stored(blob)
    # every bit-flip position of the stored section, sampled evenly
    for pos in np.linspace(0, len(stored) - 1, 64).astype(int).tolist():
        bad = bytearray(stored)
        bad[pos] ^= 1 << (pos % 8)
        with pytest.raises(ValueError, match="corrupt sketch payload"):
            sketch_from_bytes(_with_stored(blob, bytes(bad)))
    # a truncated stored section, its header length adjusted to match
    for cut in (1, 9, len(stored) // 2):
        with pytest.raises(ValueError, match="corrupt sketch payload"):
            sketch_from_bytes(_with_stored(blob, stored[:-cut]))
    # a truncated blob, its header left as written
    with pytest.raises(ValueError, match="truncated"):
        sketch_from_bytes(blob[:-1])


def test_zstd_raw_length_mismatch_is_a_value_error():
    blob = _large_pair("bloom")[0].to_bytes()
    stored = _stored(blob)
    (n,) = struct.unpack_from("<Q", stored)
    for wrong in (n - 1, n + 1, 0, 1 << 40):
        bad = struct.pack("<Q", wrong) + stored[8:]
        with pytest.raises(ValueError, match="corrupt sketch payload"):
            sketch_from_bytes(_with_stored(blob, bad))


def _payload(n: int, seed: int, zero_share: float) -> bytes:
    """``n`` random bytes whose first ``zero_share`` are one zero run."""
    p = np.random.default_rng(seed).integers(0, 256, n, dtype=np.uint8)
    p[: int(n * zero_share)] = 0
    return p.tobytes()


@settings(max_examples=60, deadline=None)
@given(
    n=st.one_of(st.integers(0, 2 * ser.ZSTD_MIN_BYTES),
                st.sampled_from([ser.ZSTD_MIN_BYTES - 1, ser.ZSTD_MIN_BYTES])),
    seed=st.integers(0, 2**32 - 1),
    zero_share=st.sampled_from([0.0, 0.5, 0.9, 1.0]),
    compress=st.sampled_from(["auto", "always", "none"]),
)
def test_encode_round_trips_and_is_pure(n, seed, zero_share, compress):
    payload = _payload(n, seed, zero_share)
    blob = ser.encode(ser.KIND_BLOOM, {"n": n}, payload, compress)
    assert ser.decode(blob) == (ser.KIND_BLOOM, {"n": n}, payload)
    assert ser.encode(ser.KIND_BLOOM, {"n": n}, bytes(payload), compress) == blob
    assert ser.read_hash(blob) == hashlib.sha256(payload).digest()
    version, flags = _version_flags(blob)
    if flags == 4:
        assert n >= ser.ZSTD_MIN_BYTES and version == 2
    else:
        assert version == 1 and flags in (0, 1)
        assert flags == 0 or n < ser.ZSTD_MIN_BYTES
    if compress == "none":
        assert flags == 0
    if compress == "always":
        assert flags == (4 if n >= ser.ZSTD_MIN_BYTES else 1)
