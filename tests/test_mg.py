"""MisraGries: deterministic undercount bound, PODS'12 merge algebra,
heavy-hitter containment, serialization, guards, and the Spark spec."""

import numpy as np
import pandas as pd
import pytest

from presto_bloomfilter_spark import MisraGries, sketch_from_bytes
from presto_bloomfilter_spark.operators import aggregate as agg


def _zipf_stream(rng, n=50_000, a=1.3, vocab=20_000):
    return rng.zipf(a, n) % vocab


def test_undercount_bound_and_sign():
    rng = np.random.default_rng(0)
    data = _zipf_stream(rng)
    sk = MisraGries(k=256).add_ints(data)
    true = pd.Series(data).value_counts()
    est = sk.estimate_ints(true.index.to_numpy())
    diff = true.to_numpy() - est
    assert (diff >= 0).all()  # never overestimates
    assert diff.max() <= sk.error_bound()
    assert sk.error_bound() <= sk.n // (256 + 1)


def test_heavy_hitters_always_present():
    rng = np.random.default_rng(1)
    data = _zipf_stream(rng)
    k = 128
    sk = MisraGries(k=k).add_ints(data)
    true = pd.Series(data).value_counts()
    thresh = sk.n / (k + 1)
    retained = {item for item, _ in sk.topk(k)}
    for item, cnt in true.items():
        if cnt > thresh:
            assert item in retained, (item, cnt, thresh)


def test_merge_preserves_bound_across_tree_shapes():
    rng = np.random.default_rng(2)
    data = _zipf_stream(rng, n=40_000)
    parts = np.array_split(data, 8)
    k = 200
    # left-fold merge
    fold = MisraGries(k)
    for p in parts:
        fold.merge(MisraGries(k).add_ints(p))
    # balanced tree merge
    level = [MisraGries(k).add_ints(p) for p in parts]
    while len(level) > 1:
        level = [level[i].merge(level[i + 1])
                 for i in range(0, len(level), 2)]
    tree = level[0]
    true = pd.Series(data).value_counts()
    for sk in (fold, tree):
        assert sk.n == len(data)
        est = sk.estimate_ints(true.index.to_numpy())
        diff = true.to_numpy() - est
        assert (diff >= 0).all()
        assert diff.max() <= sk.error_bound() <= sk.n // (k + 1)


def test_string_items_and_batch_updates():
    words = (["alpha"] * 500 + ["beta"] * 300 + ["gamma"] * 10
             + [f"rare{i}" for i in range(400)])
    rng = np.random.default_rng(3)
    rng.shuffle(words)
    sk = MisraGries(k=16)
    for chunk in np.array_split(np.array(words, object), 5):
        sk.add_strings(pd.Series(chunk))
    assert sk.n == len(words)
    est = sk.estimate_strings(pd.Series(["alpha", "beta", "nothere"]))
    assert 500 - sk.error_bound() <= est[0] <= 500
    assert 300 - sk.error_bound() <= est[1] <= 300
    assert est[2] <= sk.error_bound()
    top = sk.topk(2)
    assert [t[0] for t in top] == ["alpha", "beta"]


def test_nulls_skipped_and_empty():
    sk = MisraGries(8)
    sk.add_strings(pd.Series(["a", None, "a", None]))
    assert sk.n == 2
    assert sk.estimate_strings(pd.Series(["a"]))[0] == 2
    empty = MisraGries(8)
    assert empty.estimate() == 0
    assert empty.topk(3) == []
    assert empty.error_bound() == 0
    assert empty.estimate_ints([1, 2]).tolist() == [0, 0]


def test_serialization_roundtrip_both_types():
    rng = np.random.default_rng(4)
    si = MisraGries(64).add_ints(_zipf_stream(rng, n=5_000))
    ss = MisraGries(64).add_strings(
        pd.Series([f"w{v}" for v in _zipf_stream(rng, n=5_000)]))
    for sk in (si, ss):
        back = sketch_from_bytes(sk.to_bytes())
        assert isinstance(back, MisraGries)
        assert back == sk
    empty = MisraGries(8)
    assert sketch_from_bytes(empty.to_bytes()) == empty


def test_guards():
    with pytest.raises(ValueError):
        MisraGries(0)
    with pytest.raises(TypeError):
        MisraGries(8).add_ints(np.array([1.5]))
    a = MisraGries(8).add_ints([1])
    with pytest.raises(ValueError):
        a.add_strings(pd.Series(["x"]))
    with pytest.raises(ValueError):
        a.merge(MisraGries(16))
    with pytest.raises(ValueError):
        a.merge(MisraGries(8).add_strings(pd.Series(["x"])))
    with pytest.raises(ValueError):
        a.estimate_strings(pd.Series(["x"]))
    with pytest.raises(TypeError):
        a.merge(object())


def test_spark_spec_matches_local(spark):
    """mg_over_strings through the tree-merge dataflow equals a single
    local build over the same rows (order-insensitive by the algebra
    only up to trims — so use k large enough that nothing trims and
    counts are EXACT, then a small-k build to exercise the trim path's
    bound)."""
    rows = [(f"w{i % 50}",) for i in range(2_000)]
    df = spark.createDataFrame(rows, "w string").repartition(8)
    exact = agg.aggregate_sketch(df, agg.SketchSpec("w", lambda: MisraGries(64)))
    assert exact.n == 2_000
    assert exact.error_bound() == 0
    est = exact.estimate_strings(pd.Series([f"w{i}" for i in range(50)]))
    assert est.tolist() == [40] * 50
    trimmed = agg.aggregate_sketch(df, agg.SketchSpec("w", lambda: MisraGries(8)))
    est2 = trimmed.estimate_strings(pd.Series(["w0"]))
    assert 40 - trimmed.error_bound() <= est2[0] <= 40
