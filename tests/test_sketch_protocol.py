"""The one sketch protocol (``serialization.Sketch``), checked over every
registered kind: a kind added to the registry is covered here, and one
without an example below fails loudly."""

import numpy as np
import pytest

import presto_bloomfilter_spark  # noqa: F401  (registers the kinds)
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
from presto_bloomfilter_spark.functions.tdigest import TDigest
from presto_bloomfilter_spark.functions.theta import ThetaSketch
from presto_bloomfilter_spark.functions.xorf import XorFilter


def _ints(salt: int) -> np.ndarray:
    return np.random.default_rng(salt).integers(0, 1 << 20, 500, dtype=np.int64)


def _floats(salt: int) -> np.ndarray:
    return np.random.default_rng(salt).random(500)


def _multi(n: int):
    return MultiSketch([BloomFilter(n, 0.01), CountMinSketch(0.01, 0.01), HyperLogLog(10)])


# kind -> (make(geometry, salt), (geometry, other geometry)): a small
# non-empty sketch whose content depends on ``salt``
EXAMPLES = {
    ser.KIND_BLOOM: (lambda g, s: BloomFilter(g, 0.01).add_ints(_ints(s)), (1_000, 2_000)),
    ser.KIND_HLL: (lambda g, s: HyperLogLog(g).add_ints(_ints(s)), (10, 12)),
    ser.KIND_CMS: (lambda g, s: CountMinSketch(g, 0.01).add_ints(_ints(s)), (0.01, 0.02)),
    ser.KIND_KLL: (lambda g, s: KLLSketch(g).add(_floats(s)), (16, 32)),
    ser.KIND_MULTI: (lambda g, s: _multi(g).add_ints(_ints(s)), (1_000, 2_000)),
    ser.KIND_TDIGEST: (lambda g, s: TDigest(g).add(_floats(s)), (50, 100)),
    ser.KIND_THETA: (lambda g, s: ThetaSketch(g).add_ints(_ints(s)), (16, 32)),
    ser.KIND_MOMENTS: (lambda g, s: MomentsSketch(0.0, g).add(_floats(s)), (1.0, 2.0)),
    ser.KIND_MG: (lambda g, s: MisraGries(g).add_ints(_ints(s) % 50), (8, 16)),
    ser.KIND_SBBF: (lambda g, s: SplitBlockBloomFilter(g, 0.01).add_ints(_ints(s)), (1_000, 5_000)),
    ser.KIND_CBF: (lambda g, s: CountingBloomFilter(g, 0.01).add_ints(_ints(s)), (1_000, 2_000)),
    ser.KIND_XOR: (lambda g, s: XorFilter.build_ints(_ints(s), fp_bits=g), (8, 16)),
    ser.KIND_DDSKETCH: (lambda g, s: DDSketch(g).add(_floats(s)), (0.01, 0.02)),
    ser.KIND_COUNTSKETCH: (lambda g, s: CountSketch(g, 3).add_ints(_ints(s)), (64, 128)),
    ser.KIND_FD: (lambda g, s: FrequentDirections(4, g).add(_floats(s).reshape(-1, 4)), (4, 8)),
    ser.KIND_GRAM: (lambda g, s: ExactGram(g).add(_floats(s)[:400].reshape(-1, g)), (4, 5)),
}

KINDS = sorted(ser._REGISTRY)


def _example(kind: int, salt: int = 0, other_geometry: bool = False):
    assert kind in EXAMPLES, f"kind {kind} ({ser._REGISTRY[kind].__name__}) has no example"
    make, geometries = EXAMPLES[kind]
    return make(geometries[other_geometry], salt)


def _foreign(kind: int):
    """An example of the next registered kind."""
    return _example(KINDS[(KINDS.index(kind) + 1) % len(KINDS)])


def test_every_kind_tag_has_a_class():
    tags = {v for k, v in vars(ser).items() if k.startswith("KIND_")}
    assert set(ser._REGISTRY) == tags
    for kind, cls in ser._REGISTRY.items():
        assert cls.KIND == kind and issubclass(cls, ser.Sketch)


@pytest.mark.parametrize("kind", KINDS, ids=lambda k: ser._REGISTRY[k].__name__)
def test_kind_writes_only_its_state_and_combine(kind):
    cls = ser._REGISTRY[kind]
    shared = {"to_bytes", "from_bytes", "copy", "to_base64", "from_base64", "sha256", "merge"}
    assert not shared & set(vars(cls)), cls.__name__
    for own in ("_state", "_from_parts", "_geometry", "_merge"):
        assert own in vars(cls), (cls.__name__, own)


@pytest.mark.parametrize("kind", KINDS, ids=lambda k: ser._REGISTRY[k].__name__)
def test_protocol(kind):
    cls = ser._REGISTRY[kind]
    sk = _example(kind)
    blob = sk.to_bytes()
    assert type(sk) is cls and ser.read_kind(blob) == kind

    # decode: by the kind's own from_bytes and by the registry
    assert cls.from_bytes(blob).to_bytes() == blob
    back = ser.sketch_from_bytes(blob)
    assert type(back) is cls and back.to_bytes() == blob

    # copy: same bytes, and independent of the original
    c = sk.copy()
    assert type(c) is cls and c.to_bytes() == blob
    for name, value in vars(sk).items():
        if isinstance(value, np.ndarray) and value.size:
            assert not np.shares_memory(value, vars(c)[name]), name
    if kind != ser.KIND_XOR:
        c.merge(_example(kind, salt=1))
        assert c.to_bytes() != blob
        assert sk.to_bytes() == blob

    assert cls.from_base64(sk.to_base64()).to_bytes() == blob
    assert sk.sha256 == ser.read_hash(blob)

    foreign = _foreign(kind)
    with pytest.raises(ValueError, match=f"not a {cls.__name__} blob"):
        cls.from_bytes(foreign.to_bytes())
    with pytest.raises(TypeError, match=f"can only combine {cls.__name__}"):
        sk.merge(foreign)
    if kind == ser.KIND_XOR:
        with pytest.raises(TypeError, match="STATIC"):
            sk.merge(_example(kind, other_geometry=True))
    else:
        with pytest.raises(ValueError, match="geometry"):
            sk.merge(_example(kind, other_geometry=True))
    assert sk.to_bytes() == blob  # a refused merge changes nothing
