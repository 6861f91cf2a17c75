"""Counting Bloom filter (functions/cbf.py)."""

import numpy as np
import pandas as pd
import pytest

from presto_bloomfilter_spark import (
    BloomFilter, CountingBloomFilter, sketch_from_bytes)


def test_add_remove_contains():
    sk = CountingBloomFilter(10_000, 0.01).add_ints(np.arange(2_000))
    assert sk.might_contain_ints(np.arange(2_000)).all()
    sk.remove_ints(np.arange(1_000))
    assert sk.might_contain_ints(np.arange(1_000, 2_000)).all()
    # deleted keys probe out (no lingering hits at this fill)
    assert sk.might_contain_ints(np.arange(1_000)).mean() < 0.02
    assert sk.approx_items == 1_000


def test_strings_null_empty_and_roundtrip():
    sk = CountingBloomFilter(1_000, 0.01)
    sk.add_strings(pd.Series(["a", None, "", "b", "b"]))
    assert sk.approx_items == 3
    sk.remove_strings(pd.Series(["b", None, ""]))
    got = sk.might_contain_strings(pd.Series(["a", "b", None, "", "c"]))
    assert got.tolist() == [True, True, False, False, False]
    sk.remove("b")
    assert sk.might_contain("b") is False
    rt = sketch_from_bytes(sk.to_bytes())
    assert type(rt) is CountingBloomFilter and rt == sk
    assert CountingBloomFilter.from_base64(sk.to_base64()) == sk
    with pytest.raises(ValueError, match="not a CountingBloomFilter blob"):
        CountingBloomFilter.from_bytes(BloomFilter(100, 0.5).to_bytes())


def test_underflow_raises_loud():
    sk = CountingBloomFilter(1_000, 0.01).add_ints(np.arange(100))
    with pytest.raises(ValueError, match="underflow"):
        sk.remove_ints(np.arange(5_000, 5_100))
    with pytest.raises(ValueError, match="underflow"):
        sk.copy().subtract(
            CountingBloomFilter(1_000, 0.01).add_ints(np.arange(50, 150)))


def test_subtract_equals_remove():
    direct = CountingBloomFilter(5_000, 0.01).add_ints(np.arange(1_000))
    direct.remove_ints(np.arange(400))
    dist = CountingBloomFilter(5_000, 0.01).add_ints(np.arange(1_000))
    dist.subtract(CountingBloomFilter(5_000, 0.01).add_ints(np.arange(400)))
    assert direct == dist


def test_merge_is_multiset_addition_not_idempotent():
    a = CountingBloomFilter(1_000, 0.01).add_ints(np.arange(100))
    b = CountingBloomFilter(1_000, 0.01).add_ints(np.arange(50, 150))
    ab = a.copy().merge(b)
    ba = b.copy().merge(a)
    assert ab == ba
    assert ab.might_contain_ints(np.arange(150)).all()
    # overlap region carries count 2 → one removal still leaves it in
    ab.remove_ints(np.arange(50, 100))
    assert ab.might_contain_ints(np.arange(150)).all()
    doubled = a.copy().merge(a)
    assert doubled != a
    assert (doubled.count_ints(np.arange(10)) >= 2).all()
    with pytest.raises(ValueError, match="geometry"):
        a.merge(CountingBloomFilter(999_999, 0.01))
    with pytest.raises(TypeError):
        a.merge(BloomFilter(1_000, 0.01))


def test_count_upper_bound_and_estimate():
    sk = CountingBloomFilter(10_000, 0.01)
    for _ in range(3):
        sk.add_ints(np.array([7]))
    cnt = sk.count_ints(np.array([7, 8]))
    assert cnt[0] >= 3  # never undercounts below saturation
    sk.add_ints(np.arange(100, 2_100))
    assert sk.estimate() == pytest.approx(2_001, rel=0.05)
    assert sk.count_strings(pd.Series(["x", None])).tolist()[1] == 0


def test_saturation_is_sticky_and_safe():
    sk = CountingBloomFilter(10, 0.5)  # tiny m → forced collisions
    v = np.zeros(300, dtype=np.int64)  # same key 300 times → saturates
    sk.add_ints(v)
    assert sk.might_contain_ints(np.array([0])).all()
    sk.remove_ints(v[:260])  # sticky counters never decrement
    assert sk.might_contain_ints(np.array([0])).all()


def test_chunked_paths_agree():
    import presto_bloomfilter_spark.functions.cbf as cbf_mod

    a = CountingBloomFilter(50_000, 0.01).add_ints(np.arange(30_000))
    old = cbf_mod._CHUNK
    try:
        cbf_mod._CHUNK = 777
        b = CountingBloomFilter(50_000, 0.01).add_ints(np.arange(30_000))
        assert a == b
        assert b.might_contain_ints(np.arange(30_000)).all()
    finally:
        cbf_mod._CHUNK = old


def test_aggregate_build_and_distributed_delete(spark, sf_dir):
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.operators.probe import filter_by_sketch

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ins = orders.filter("o_totalprice > 200000").select("o_orderkey")
    dels = orders.filter("o_totalprice > 200000 AND o_orderstatus = 'F'") \
                 .select("o_orderkey")
    spec = lambda: agg.SketchSpec("o_orderkey", lambda: CountingBloomFilter(50_000, 0.001))  # noqa: E731
    sk = agg.aggregate_sketch(ins, spec())
    assert type(sk) is CountingBloomFilter
    sk.subtract(agg.aggregate_sketch(dels, spec()))
    live = orders.filter("o_totalprice > 200000 AND o_orderstatus <> 'F'") \
                 .select("o_orderkey")
    hits = filter_by_sketch(spark, lineitem, "l_orderkey", sk)
    exact = lineitem.join(live.withColumnRenamed("o_orderkey", "l_orderkey")
                          .distinct(), "l_orderkey", "left_semi")
    # no false negatives after the distributed delete
    assert hits.count() >= exact.count()
    assert hits.join(exact, ["l_orderkey"], "left_semi").count() >= exact.count()
