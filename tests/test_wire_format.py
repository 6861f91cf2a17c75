"""PBFS wire-format pins: the bytes of small blobs, the codec choice by
payload length, version-1 blobs written before zstd existed, the
errors of a corrupt or unknown blob, and the bytes the key rule
(``hashing.key_digests``) gives each hash sketch over every input form."""

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.cbf import CountingBloomFilter
from presto_bloomfilter_spark.functions.cms import CountMinSketch
from presto_bloomfilter_spark.functions.countsketch import CountSketch
from presto_bloomfilter_spark.functions.ddsketch import DDSketch
from presto_bloomfilter_spark.functions.fd import ExactGram, FrequentDirections
from presto_bloomfilter_spark.functions.hll import HyperLogLog
from presto_bloomfilter_spark.functions.kll import KLLSketch
from presto_bloomfilter_spark.functions.mg import MisraGries
from presto_bloomfilter_spark.functions.moments import MomentsSketch
from presto_bloomfilter_spark.functions.multi import MultiSketch
from presto_bloomfilter_spark.functions.sbbf import SplitBlockBloomFilter
from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
from presto_bloomfilter_spark.functions.tdigest import TDigest
from presto_bloomfilter_spark.functions.theta import ThetaSketch
from presto_bloomfilter_spark.functions.xorf import XorFilter, _XorKeyCollector
from presto_bloomfilter_spark.operators.aggregate import SketchSpec


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
        "tdigest": TDigest().add(rng.normal(size=10_000)).to_bytes(),
        "moments": MomentsSketch(0.0, 1.0).add(rng.random(10_000)).to_bytes(),
        "ddsketch": DDSketch().add(rng.lognormal(size=10_000)).to_bytes(),
        "mg_ints": MisraGries(64).add_ints(rng.zipf(1.3, 20_000) % 5_000).to_bytes(),
        "mg_strings": MisraGries(64).add_strings(
            pd.Series([f"w{v}" for v in rng.zipf(1.3, 20_000) % 5_000])).to_bytes(),
        # integer-valued rows: every partial sum is exact, whatever the
        # BLAS summation order
        "gram_ints": ExactGram(8).add(rng.integers(-8, 8, (1_000, 8)).astype(np.float64)).to_bytes(),
        "multi": MultiSketch([BloomFilter(1_000, 0.01), CountMinSketch(0.01, 0.01), HyperLogLog(10)])
        .add_ints(np.arange(1_500), counts=rng.integers(1, 5, 1_500)).to_bytes(),
    }


# sha256 of each whole blob, as written before zstd came in for large
# payloads: a blob below 64 KiB keeps its exact bytes
PINNED = {
    "bloom_12kb": "144b3ce3ce01569ed69ce0494857b717726f5f24b43f67e21a01a1ca8608a856",
    "hll_sparse": "e3145cc7a6e51f8b23a04859892d5de21e6a11d1c58a496cb67bf7fb50d4343d",
    "hll_dense": "63eb061ef282c1dfa5a02e2cafa58c135c11fed722b355e417c482e74b7d70b0",
    "kll": "2019aa7b71b61e12de484b564966b37b7d567444d060aa2a59ef0f0492d01309",
    "cms_small": "4d6f5ca5df6bd72630e435c544db19b0178072f2e2838ea31f366621b0e97046",
    "tdigest": "63dcc8a3b79e6549511a3287b985d3c1201ed3ec2aeebcde6ce0e25c7a1c8745",
    "moments": "ef5af9d4c71a72d8ae0e6d6e3c936e97912ee0945d5569142267b7d0f570edb3",
    "ddsketch": "0d0700158809cec7d4d5cc43af02022bceb99079bda6187b33a27f8d93ebda95",
    "mg_ints": "917f4c6a5eb4f3abf72090b5f0b44571da63f745c989012a036d5a5f94dd7b06",
    "mg_strings": "f2452b139dfac1914317d2f34c54ec7514c4a442040d9f7f28f34308e5326ba5",
    "gram_ints": "317d474e89dfddeaced82a7ad058ab6288098c40bd4f0e918058f8fb26758d24",
    "multi": "867c93907fef4ea3b96dd50574a427df684de7e8d7723069dac3f75be3924631",
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
        payload = ser.decode(blob)[2]
        assert len(payload) < ser.ZSTD_MIN_BYTES, name
        # zlib, or raw where zlib does not shrink the payload
        shrinks = len(zlib.compress(payload, 1)) < len(payload)
        assert _version_flags(blob) == (1, int(shrinks)), name
        assert hashlib.sha256(blob).hexdigest() == PINNED[name], name


@pytest.mark.parametrize("name", sorted(PINNED))
def test_v1_zlib_small_blob_loads(name):
    blob = _small_blobs()[name]
    assert sketch_from_bytes(_v1_zlib(blob)).to_bytes() == blob


def test_frequent_directions_round_trips():
    """FD's rows come out of an SVD, whose bits may change with BLAS
    threading, so its pin is the round trip rather than the bytes."""
    rng = np.random.default_rng(20261019)
    fd = FrequentDirections(8, 4).add(rng.normal(size=(64, 8)))
    blob = fd.to_bytes()
    assert FrequentDirections.from_bytes(blob).to_bytes() == blob
    assert sketch_from_bytes(blob).to_bytes() == blob


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


@pytest.mark.parametrize("codec", ["zlib", "zstd", "raw"])
def test_corrupt_payload_is_a_value_error(codec):
    if codec == "zlib":
        blob = _small_blobs()["bloom_12kb"]
        assert _version_flags(blob) == (1, 1)
    elif codec == "zstd":
        blob = _large_pair("cms")[0].to_bytes()
        assert _version_flags(blob) == (2, 4)
    else:
        # a 1M-geometry bloom filled to capacity: no codec shrinks it
        blob = BloomFilter(1_000_000, 0.01).add_ints(np.arange(1_000_000)).to_bytes()
        assert _version_flags(blob) == (1, 0)
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


# ---- the key rule ------------------------------------------------------------

_STRINGS = [None, "", "a\x00b", "a\x00c", "héllo", "日本", "dup", "dup", "", None, "z", "dup"]
_INTS = [None, -7, 0, 5, 5, 2**31 - 1, -(2**31), None, 2**53 + 1, -(2**63), 2**63 - 1, 5]

_KINDS = {
    "bloom": lambda: BloomFilter(1000, 0.01),
    "sbbf": lambda: SplitBlockBloomFilter(1000, 0.01),
    "cbf": lambda: CountingBloomFilter(1000, 0.01),
    "xor": lambda: _XorKeyCollector(8),
    "hll": lambda: HyperLogLog(10),
    "theta": lambda: ThetaSketch(16),
    "cms": lambda: CountMinSketch(0.01, 0.01),
    "countsketch": lambda: CountSketch(64, 3),
}

# sha256 of each kind's blob over (_STRINGS, _INTS), computed before the
# key rule moved into hashing.key_digests, when each kind wrote its own;
# count-sketch's over the NULL-free batches, as it counted NULL as a key
KEY_RULE_PINS = {
    "bloom": ("556800ce79037b80d8a06b73b117d943c88e0101099d8cf1cc959db90646edc4",
              "bbb18110602a51fe2ba5450e9a457e1db10e09b0ea51556bbdb9d9a02c636ef5"),
    "sbbf": ("8b167c8ae845be89a725a3ee4380d77de9a56f4c63168cf4a7d83a6a4b4b54ea",
             "5cb1fde36bffccecdf76e5d7eeb617f678c69315676fdad462c93a5716e6ba3b"),
    "cbf": ("5412d298cdbca5167e418f5ee03f99c62458b2448d52d691625040c1bdbb6088",
            "cd95bf18ad17ee8de4387d4c5a7cd35128b73d13a61bc07bcc2913e5b2af34f7"),
    "xor": ("9db9f1bab8e8bd7f5e8c5ab1518be468e0ea886e270a6b8da3940f1884277f9e",
            "0e8d29e60d927d6ab9d871720d3b8a353df1f10be73ca47e8cd7b37de83e59b8"),
    "hll": ("9e405e480b0bf08fe66db3172adbb46294120b11d19928da1540307d46e3af55",
            "7fdba994ed02448d1609ab8947f3bdb4a2cf1755305e2872475ef19290222eb8"),
    "theta": ("06595bf4c8903c23866a3618ff63bbc6a4f2271f909a6debb304764aed9d319f",
              "576c130412e68f34f9ca0cdd905096a921c9d3f1bd25a899fc3e52a912022c73"),
    "cms": ("158ebe53b8b2dc9501349e02e7973cfd9cbebbd2bd71f781e7c03d3a713d3226",
            "1ecf9fabf5655e9387ae145a1e126ee5d226f452d1c9bb0a55c779f1e79d2280"),
    "countsketch": ("7267de42ebfdd1350f85ac5a6a5b4271b201a33f29f929209c8c82cb17e56f6c",
                    "4bfe79878f6726ac7434e28ffcd9a867eb11c39e61f5fa33b999c8f14ba16528"),
}


def _key_forms():
    """(domain, form, batches): each test batch in every input form the
    key rule takes; an int32 column cannot hold the wide ints, so those
    follow as a second, int64 batch."""
    arrow = pa.array(_STRINGS, pa.string())
    yield "strings", "arrow string", [arrow]
    yield "strings", "arrow large_string", [pa.array(_STRINGS, pa.large_string())]
    yield "strings", "arrow dictionary", [arrow.dictionary_encode()]
    yield "strings", "pandas", [pd.Series(_STRINGS, dtype=object)]
    yield "strings", "list", [list(_STRINGS)]
    narrow = [v for v in _INTS if v is None or -(2**31) <= v < 2**31]
    wide = [v for v in _INTS if v is not None and not -(2**31) <= v < 2**31]
    yield "ints", "arrow int64", [pa.array(_INTS, pa.int64())]
    yield "ints", "arrow int32", [pa.array(narrow, pa.int32()), pa.array(wide, pa.int64())]
    yield "ints", "numpy", [np.array([v for v in _INTS if v is not None], np.int64)]
    yield "ints", "pandas", [pd.Series(_INTS, dtype="Int64")]
    yield "ints", "list", [list(_INTS)]


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_key_rule_bytes_are_pinned_for_every_input_form(kind):
    make = _KINDS[kind]
    for domain, form, batches in _key_forms():
        pin = KEY_RULE_PINS[kind][domain == "ints"]
        via_spec, via_add = make(), make()
        for b in batches:
            col = b if isinstance(b, pa.Array) else pa.array(b, from_pandas=True)
            SketchSpec("k", make).update(via_spec, pa.record_batch([col], names=["k"]))
            getattr(via_add, "add_" + domain)(b)
        for how, sk in (("SketchSpec.update", via_spec), ("add_" + domain, via_add)):
            assert hashlib.sha256(sk.to_bytes()).hexdigest() == pin, (kind, form, how)
        if kind == "xor" and len(batches) == 1:
            built = getattr(XorFilter, "build_" + domain)(batches[0], 8)
            assert hashlib.sha256(built.to_bytes()).hexdigest() == pin, (form, "build")


def test_key_rule_answers_for_null_and_empty():
    """NULL is never a key; '' is a key of the counting sketches and not
    of the membership filters."""
    probe = [None, "", "dup"]
    for kind in ("bloom", "sbbf", "cbf"):
        sk = _KINDS[kind]().add_strings(_STRINGS)
        assert sk.might_contain_strings(probe).tolist() == [False, False, True], kind
        assert not sk.might_contain(None) and not sk.might_contain(""), kind
        assert sk.approx_items == 8, kind
        on_ints = _KINDS[kind]().add_ints(_INTS)
        assert on_ints.might_contain_ints(pa.array([None, 5, 6])).tolist() == [False, True, False]
        assert on_ints.might_contain(5) and not on_ints.might_contain(None), kind
    xor = XorFilter.build_strings(_STRINGS)
    assert xor.n_keys == 6
    assert xor.might_contain_strings(probe).tolist() == [False, False, True]
    assert not xor.might_contain(None) and not xor.might_contain("")
    assert CountingBloomFilter(1000, 0.01).add_strings(_STRINGS).count_strings(
        probe).tolist() == [0, 0, 3]
    assert CountMinSketch(0.01, 0.01).add_strings(_STRINGS).estimate_strings(
        probe).tolist() == [0, 2, 3]
    assert CountSketch(64, 3).add_strings(_STRINGS).estimate_strings(
        probe).tolist() == [0.0, 2.0, 3.0]
    assert CountMinSketch(0.01, 0.01).add_ints(_INTS).estimate_ints([None, 5]).tolist() == [0, 3]
    assert round(HyperLogLog(10).add_strings(_STRINGS).estimate()) == 7
    assert ThetaSketch(16).add_strings(_STRINGS).estimate() == 7.0
    for make in (HyperLogLog, ThetaSketch):
        assert make().add_strings([None, None]).estimate() == 0.0
        assert round(make().add_strings(["", None]).estimate()) == 1
