"""Bloom core tests — mirrors reference TestBloomFilter.java /
TestBloomFilterSerialization.java / TestBloomFilterAggregation.java."""

import numpy as np
import pandas as pd
import pytest

from presto_bloomfilter_spark import BloomFilter
from presto_bloomfilter_spark.functions import serialization as ser


def test_defaults_match_reference():
    # reference BloomFilter.java:64-65
    bf = BloomFilter()
    assert bf.expected_insertions == 10_000_000
    assert bf.fpp == 0.01


def test_size_goldens_match_reference():
    # reference TestBloomFilter.java:80-94 pins these exact byte sizes
    assert BloomFilter().size_bytes == 11_981_323
    assert BloomFilter(100, 0.01).size_bytes == 120
    assert BloomFilter(100, 0.001).size_bytes == 180


def test_put_might_contain():
    # reference TestBloomFilter.java:37-44
    bf = BloomFilter(1000, 0.01)
    bf.add("robin")
    assert bf.might_contain("robin")
    assert not bf.might_contain("verlangen")


def test_null_and_empty_ignored():
    # reference BloomFilter.java:161-167, TestBloomFilterQueries.java:53-56
    bf = BloomFilter(1000, 0.01)
    bf.add_strings([None, ""])
    assert bf.bits_set == 0
    assert not bf.might_contain(None)
    assert not bf.might_contain("")


def test_merge_union():
    # reference TestBloomFilter.java:46-60 (putAll)
    a = BloomFilter(1000, 0.01).add("alpha")
    b = BloomFilter(1000, 0.01).add("beta")
    a.merge(b)
    assert a.might_contain("alpha") and a.might_contain("beta")


def test_merge_properties():
    xs = [f"x{i}" for i in range(200)]
    parts = [xs[:70], xs[70:150], xs[150:]]

    def build(elems):
        return BloomFilter(1000, 0.01).add_strings(elems)

    ab = build(parts[0]).merge(build(parts[1]))
    ba = build(parts[1]).merge(build(parts[0]))
    assert ab == ba  # commutative at byte level
    abc1 = ab.merge(build(parts[2]))
    abc2 = build(parts[0]).merge(build(parts[1]).merge(build(parts[2])))
    assert abc1 == abc2  # associative
    assert abc1.merge(abc1.copy()) == abc2  # idempotent
    single = build(xs)
    assert single == abc1  # partition-invariant


def test_merge_geometry_mismatch_raises():
    with pytest.raises(ValueError, match="geometry"):
        BloomFilter(1000, 0.01).merge(BloomFilter(2000, 0.01))


def test_merge_with_empty_both_directions():
    # reference TestBloomFilterAggregation.java:50-88
    full = BloomFilter(1000, 0.01).add_strings(["a", "b"])
    empty = BloomFilter(1000, 0.01)
    assert empty.copy().merge(full) == full
    assert full.copy().merge(empty) == full


def test_no_false_negatives():
    rng = np.random.default_rng(42)
    keys = pd.Series([f"key-{i}-{rng.integers(1 << 30)}" for i in range(20_000)])
    bf = BloomFilter(20_000, 0.01).add_strings(keys)
    assert bf.might_contain_strings(keys).all()


def test_strings_with_nul_hash_apart_in_one_batch():
    """Strings that agree up to a NUL byte hash as themselves in a batch
    (the same hash as alone), so a bloom built over them has no false
    negatives."""
    from presto_bloomfilter_spark.functions.hashing import hash_strings64

    vals = ["\x00", "\x000", "\x00a", "ab\x00c", "ab\x00d"]
    batch = hash_strings64(vals)
    assert len(set(batch.tolist())) == len(vals)
    assert batch.tolist() == [int(hash_strings64([v])[0]) for v in vals]
    bf = BloomFilter(1000, 0.001).add_strings(vals)
    assert all(bf.might_contain_strings([v])[0] for v in vals)


def test_fpr_within_bound():
    rng = np.random.default_rng(7)
    n = 50_000
    members = pd.Series([f"m{i}" for i in range(n)])
    bf = BloomFilter(n, 0.01).add_strings(members)
    negatives = pd.Series([f"neg{i}" for i in range(100_000)])
    fpr = bf.might_contain_strings(negatives).mean()
    # statistical margin over the configured bound
    assert fpr <= 0.01 * 1.5, fpr


def test_int_tokens_path():
    toks = np.arange(10_000, dtype=np.int32)
    bf = BloomFilter(10_000, 0.01).add_ints(toks)
    assert bf.might_contain_ints(toks).all()
    miss = bf.might_contain_ints(np.arange(1_000_000, 1_100_000, dtype=np.int32))
    assert miss.mean() <= 0.02


def test_serialization_roundtrip():
    # reference TestBloomFilterSerialization.java:28-50
    bf = BloomFilter(1000, 0.01).add_strings(["robin", "tester"])
    back = BloomFilter.from_bytes(bf.to_bytes())
    assert back == bf
    assert back.might_contain("robin")
    assert not back.might_contain("absent")
    assert back.expected_insertions == 1000 and back.fpp == 0.01


def test_base64_string_form():
    # reference to_string / from_string (BloomFilter.java:154-157)
    bf = BloomFilter(500, 0.01).add("x")
    s = bf.to_base64()
    assert BloomFilter.from_base64(s) == bf


def test_header_readable_without_payload_decode():
    # reference get_expected_insertions / get_false_positive_percentage
    bf = BloomFilter(12345, 0.005)
    buf = bf.to_bytes()
    params = ser.read_params(buf)
    assert params["n"] == 12345 and params["p"] == 0.005
    assert ser.read_kind(buf) == ser.KIND_BLOOM
    assert len(ser.read_hash(buf)) == 32


def test_content_hash_stable():
    # reference TestBloomFilter.java:62-78 (stable content hash)
    a = BloomFilter(1000, 0.01).add("same")
    b = BloomFilter(1000, 0.01).add("same")
    assert a.sha256 == b.sha256
    b.add("different")
    assert a.sha256 != b.sha256


def test_generic_deserialize():
    bf = BloomFilter(100, 0.01).add("q")
    obj = ser.sketch_from_bytes(bf.to_bytes())
    assert isinstance(obj, BloomFilter) and obj == bf
