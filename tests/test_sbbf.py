"""Split-block Bloom filter (functions/sbbf.py)."""

import numpy as np
import pandas as pd
import pytest

from presto_bloomfilter_spark import SplitBlockBloomFilter, sketch_from_bytes
from presto_bloomfilter_spark.functions.sbbf import _blocked_fpr


def test_no_false_negatives_strings_and_ints():
    sk = SplitBlockBloomFilter(5000, 0.01)
    keys = [f"k{i}" for i in range(5000)]
    sk.add_strings(keys)
    assert sk.might_contain_strings(keys).all()
    sk2 = SplitBlockBloomFilter(5000, 0.01).add_ints(np.arange(5000))
    assert sk2.might_contain_ints(np.arange(5000)).all()


def test_fpr_bound_honest_at_capacity():
    """The blocked-analysis sizing keeps measured FPR <= fpp at n
    insertions (the naive lane formula would land ~1.5x over)."""
    for p in (0.01, 0.001):
        sk = SplitBlockBloomFilter(10_000, p).add_ints(np.arange(10_000))
        neg = sk.might_contain_ints(np.arange(10_000, 510_000))
        # 4-sigma slack on the 500k-sample binomial measurement
        assert neg.mean() <= p + 4 * np.sqrt(p * (1 - p) / 500_000)
        assert _blocked_fpr(10_000, sk.n_blocks) <= p


def test_null_and_empty_ignored():
    sk = SplitBlockBloomFilter(100, 0.01)
    sk.add_strings(pd.Series(["a", None, "", "b"]))
    assert sk.approx_items == 2
    got = sk.might_contain_strings(pd.Series(["a", None, "", "b", "c"]))
    assert got.tolist() == [True, False, False, True, False]
    assert sk.might_contain(None) is False


def test_dense_and_sparse_build_paths_agree():
    a = SplitBlockBloomFilter(100_000, 0.01).add_ints(np.arange(50_000))
    b = SplitBlockBloomFilter(100_000, 0.01)
    for s in range(0, 50_000, 1_000):
        b.add_ints(np.arange(s, s + 1_000))
    assert a == b


def test_merge_algebra():
    def build(lo, hi):
        return SplitBlockBloomFilter(1000, 0.01).add_ints(np.arange(lo, hi))

    ab = build(0, 100).merge(build(100, 200))
    ba = build(100, 200).merge(build(0, 100))
    assert ab == ba
    assert ab.might_contain_ints(np.arange(200)).all()
    # associative + idempotent
    c = build(200, 300)
    left = build(0, 100).merge(build(100, 200)).merge(c)
    right = build(0, 100).merge(build(100, 200).merge(build(200, 300)))
    assert left == right
    again = ab.copy().merge(ab)
    assert again == ab
    with pytest.raises(ValueError, match="geometry"):
        build(0, 10).merge(SplitBlockBloomFilter(500_000, 0.01))
    with pytest.raises(TypeError):
        from presto_bloomfilter_spark import BloomFilter

        build(0, 10).merge(BloomFilter(1000, 0.01).add_ints(np.arange(10)))


def test_serialization_roundtrip_and_dispatch():
    sk = SplitBlockBloomFilter(2000, 0.01).add_strings([f"s{i}" for i in range(500)])
    rt = sketch_from_bytes(sk.to_bytes())
    assert type(rt) is SplitBlockBloomFilter
    assert rt == sk and rt.approx_items == 500
    assert SplitBlockBloomFilter.from_base64(sk.to_base64()) == sk
    with pytest.raises(ValueError, match="not a SplitBlockBloomFilter blob"):
        from presto_bloomfilter_spark import BloomFilter

        SplitBlockBloomFilter.from_bytes(BloomFilter(100, 0.5).to_bytes())


def test_estimate_and_fpr_from_fill():
    sk = SplitBlockBloomFilter(50_000, 0.01).add_ints(np.arange(20_000))
    assert sk.estimate() == pytest.approx(20_000, rel=0.05)
    assert 0.0 < sk.estimated_fpr() < 0.01
    assert SplitBlockBloomFilter(100, 0.01).estimate() == 0.0


def test_sizing_monotone_and_guards():
    small = SplitBlockBloomFilter(1_000, 0.01)
    big = SplitBlockBloomFilter(100_000, 0.01)
    tight = SplitBlockBloomFilter(1_000, 0.0001)
    assert small.n_blocks < big.n_blocks
    assert small.n_blocks < tight.n_blocks
    assert small.size_bytes == small.n_blocks * 32
    with pytest.raises(ValueError):
        SplitBlockBloomFilter(0, 0.01)
    with pytest.raises(ValueError):
        SplitBlockBloomFilter(10, 1.5)


def test_aggregate_and_semijoin_in_spark(spark, sf_dir):
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.operators.probe import (
        bloom_semi_join, filter_by_sketch)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = orders.filter("o_totalprice > 100000").select("o_orderkey")
    sk = agg.aggregate_sketch(keys, agg.SketchSpec(
        "o_orderkey", lambda: SplitBlockBloomFilter(50_000, 0.001)))
    assert type(sk) is SplitBlockBloomFilter
    hits = filter_by_sketch(spark, lineitem, "l_orderkey", sk)
    exact = lineitem.join(keys.withColumnRenamed("o_orderkey", "l_orderkey")
                          .distinct(), "l_orderkey", "left_semi")
    assert hits.count() >= exact.count()  # no false negatives
    got = bloom_semi_join(spark, lineitem, "l_orderkey", keys, "o_orderkey",
                          expected_insertions=50_000, fpp=0.001, kind="sbbf")
    assert got.count() == exact.count()
    pre = bloom_semi_join(spark, lineitem, "l_orderkey", keys, "o_orderkey",
                          expected_insertions=50_000, fpp=0.001, kind="sbbf", exact=False)
    assert pre.count() == hits.count()  # the pre-filter is the sbbf probe
    with pytest.raises(ValueError, match="unknown sketch kind"):
        bloom_semi_join(spark, lineitem, "l_orderkey", keys, "o_orderkey",
                        kind="cuckoo")


def test_sbbf_tokens_spec_matches_strings_of_same_ids(spark, sf_dir):
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.sources.corpus import load_tokens

    tokens = load_tokens(spark, sf_dir)
    sk = agg.aggregate_sketch(tokens.limit(200), agg.SketchSpec(
        "tokens", lambda: agg.TokenDedupAccumulator(SplitBlockBloomFilter())))
    flat = [t for r in tokens.limit(200).collect() for t in r.tokens]
    assert sk.might_contain_ints(np.array(sorted(set(flat)))).all()
