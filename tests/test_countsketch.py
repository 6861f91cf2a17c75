"""Count-Sketch / AMS (Charikar et al. 2002; Thorup-Zhang 2004):
unbiased point/F2/inner-product estimators, lossless merge algebra,
serialization, guards."""

import numpy as np
import pytest

from presto_bloomfilter_spark import CountSketch, sketch_from_bytes


def _zipf_words(rng, n, v=2000):
    ids = rng.zipf(1.3, n)
    ids = ids[ids <= v]
    return np.array([f"w{i}" for i in ids])


def test_point_estimates_unbiased_and_bounded():
    rng = np.random.default_rng(0)
    words = _zipf_words(rng, 60_000)
    sk = CountSketch(width=4096, depth=7).add_strings(words)
    uniq, cnt = np.unique(words, return_counts=True)
    top = np.argsort(cnt)[::-1][:20]
    est = sk.estimate_strings(uniq[top])
    f2 = float((cnt.astype(np.float64) ** 2).sum())
    # per-row std <= sqrt(F2/w); median of 7 rows -> 4x envelope
    bound = 4.0 * np.sqrt(f2 / 4096)
    assert np.all(np.abs(est - cnt[top]) <= bound)


def test_f2_within_published_bound():
    rng = np.random.default_rng(1)
    for data in (
        _zipf_words(rng, 50_000),
        np.array([f"u{i}" for i in rng.integers(0, 30_000, 50_000)]),
    ):
        sk = CountSketch(width=4096, depth=7).add_strings(data)
        _, cnt = np.unique(data, return_counts=True)
        f2 = float((cnt.astype(np.float64) ** 2).sum())
        # Var(row) <= 2 F2^2 / w -> 4-sigma envelope on the median
        assert abs(sk.f2() - f2) <= 4.0 * np.sqrt(2.0 / 4096) * f2


def test_inner_product_estimates_join_size():
    rng = np.random.default_rng(2)
    a = _zipf_words(rng, 40_000)
    b = _zipf_words(rng, 40_000)
    ska = CountSketch().add_strings(a)
    skb = CountSketch().add_strings(b)
    ua, ca = np.unique(a, return_counts=True)
    ub, cb = np.unique(b, return_counts=True)
    common, ia, ib = np.intersect1d(ua, ub, return_indices=True)
    exact = float((ca[ia].astype(np.float64) * cb[ib]).sum())
    f2a = float((ca.astype(np.float64) ** 2).sum())
    f2b = float((cb.astype(np.float64) ** 2).sum())
    bound = 4.0 * np.sqrt(2.0 * f2a * f2b / CountSketch.DEFAULT_WIDTH)
    assert abs(ska.inner_product(skb) - exact) <= bound


def test_merge_lossless_byte_identical_any_tree():
    rng = np.random.default_rng(3)
    words = _zipf_words(rng, 24_000)
    chunks = np.array_split(words, 8)
    parts = [CountSketch(width=1024, depth=5).add_strings(c) for c in chunks]
    seq = parts[0].copy()
    for p in parts[1:]:
        seq.merge(p)
    order = rng.permutation(8)
    layer = [parts[i].copy() for i in order]
    while len(layer) > 1:
        layer = [layer[i].merge(layer[i + 1]) if i + 1 < len(layer) else layer[i]
                 for i in range(0, len(layer), 2)]
    full = CountSketch(width=1024, depth=5).add_strings(words)
    assert seq.to_bytes() == layer[0].to_bytes() == full.to_bytes()
    assert seq.n == len(words)


def test_weighted_inserts_and_int_keys():
    sk = CountSketch(width=256, depth=5)
    sk.add_ints([7, 11], counts=[100, 3])
    est = sk.estimate_ints([7, 11])
    assert abs(est[0] - 100) <= 10
    assert abs(est[1] - 3) <= 10


def test_null_is_not_a_key():
    """NULL keys are skipped, as in CMS, HLL and theta; '' is a key."""
    sk = CountSketch(width=256, depth=5).add_strings([None, None, None, "a"])
    assert sk.n == 1
    assert sk.estimate_strings([None, "a"]).tolist() == [0.0, 1.0]
    assert CountSketch(width=256, depth=5).add_strings(["", None]).n == 1


def test_serialization_roundtrip_and_kind_dispatch():
    rng = np.random.default_rng(4)
    sk = CountSketch(width=512, depth=3).add_strings(_zipf_words(rng, 5_000))
    blob = sk.to_bytes()
    back = sketch_from_bytes(blob)
    assert isinstance(back, CountSketch)
    assert back == sk and back.n == sk.n
    assert back.f2() == sk.f2()


def test_guards():
    with pytest.raises(ValueError):
        CountSketch(width=100)  # not a power of two
    with pytest.raises(ValueError):
        CountSketch(depth=0)
    with pytest.raises(ValueError):
        CountSketch(width=256).merge(CountSketch(width=512))
    with pytest.raises(TypeError):
        CountSketch().merge(object())
    assert CountSketch().add_strings([]).n == 0
