"""DDSketch (Masson et al. VLDB 2019): relative-error guarantee, lossless
byte-identical merge algebra, collapsing bound, serialization, guards."""

import numpy as np
import pytest

from presto_bloomfilter_spark import DDSketch, sketch_from_bytes


def _rel_err(data, sk, q):
    exact = np.quantile(data, q, method="higher")
    est = sk.quantile(q)
    return abs(est - exact) / abs(exact)


def test_relative_error_guarantee_across_distributions():
    rng = np.random.default_rng(0)
    for data in (
        rng.uniform(1, 1e6, 20_000),
        rng.lognormal(3, 2.0, 20_000) + 0.001,
        rng.pareto(1.5, 20_000) + 1.0,
    ):
        sk = DDSketch(alpha=0.01).add(data)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99, 0.999):
            assert _rel_err(data, sk, q) <= 0.0101, (q, _rel_err(data, sk, q))


def test_handles_zeros_and_negatives():
    rng = np.random.default_rng(1)
    data = np.concatenate([
        -rng.lognormal(2, 1, 5_000), np.zeros(1_000), rng.lognormal(2, 1, 5_000)
    ])
    sk = DDSketch(alpha=0.02).add(data)
    assert sk.n == len(data)
    for q in (0.05, 0.25, 0.75, 0.95):
        exact = np.quantile(data, q, method="higher")
        est = sk.quantile(q)
        if exact == 0.0:
            assert est == 0.0
        else:
            assert abs(est - exact) / abs(exact) <= 0.021


def test_merge_is_lossless_and_merge_order_invariant_bytes():
    """The family differentiator: unlike KLL/t-digest, merged bytes are
    identical for ANY merge tree — full associativity at the byte level."""
    rng = np.random.default_rng(2)
    data = rng.lognormal(3, 1, 12_000)
    chunks = np.split(data, 12)
    parts = [DDSketch(alpha=0.01).add(c) for c in chunks]

    left = parts[0].copy()
    for p in parts[1:]:
        left.merge(p)
    # balanced tree merge in a shuffled order
    order = rng.permutation(12)
    layer = [parts[i].copy() for i in order]
    while len(layer) > 1:
        layer = [layer[i].merge(layer[i + 1]) if i + 1 < len(layer) else layer[i]
                 for i in range(0, len(layer), 2)]
    full = DDSketch(alpha=0.01).add(data)
    assert left.to_bytes() == layer[0].to_bytes() == full.to_bytes()
    assert left == full


def test_collapsing_bounds_size_and_keeps_upper_quantiles():
    rng = np.random.default_rng(3)
    data = rng.lognormal(0, 3, 50_000)  # ~1200 buckets at alpha=0.01
    sk = DDSketch(alpha=0.01, max_bins=768).add(data)
    assert len(sk._pos_idx) <= 768
    assert sk.collapsed
    # the folded mass sits below ~p3; everything above is untouched
    for q in (0.1, 0.5, 0.9, 0.99):
        assert _rel_err(data, sk, q) <= 0.0101, q


def test_merge_tree_invariant_bytes_after_collapse():
    """Collapse makes the merge lossy, not order-dependent: partials
    that fold at different points still meet in the same bytes."""
    rng = np.random.default_rng(4)
    chunks = [rng.lognormal(0, 3, 400) * s for s in (1, -1, 1, 1, -1, 1)]
    parts = [DDSketch(alpha=0.01, max_bins=32).add(c) for c in chunks]
    left = parts[0].copy()
    for p in parts[1:]:
        left.merge(p)
    right = parts[-1].copy()
    for p in reversed(parts[:-1]):
        right.merge(p)
    full = DDSketch(alpha=0.01, max_bins=32).add(np.concatenate(chunks))
    assert all(p.collapsed for p in parts)
    assert left.to_bytes() == right.to_bytes() == full.to_bytes()


def test_serialization_roundtrip_and_kind_dispatch():
    rng = np.random.default_rng(4)
    sk = DDSketch(alpha=0.005).add(np.concatenate(
        [rng.uniform(1, 100, 3_000), [-5.0, 0.0, 0.0]]))
    blob = sk.to_bytes()
    back = sketch_from_bytes(blob)
    assert isinstance(back, DDSketch)
    assert back == sk
    assert back.to_bytes() == blob
    assert back.quantile(0.5) == sk.quantile(0.5)


def test_guards():
    with pytest.raises(ValueError):
        DDSketch(alpha=0.0)
    with pytest.raises(ValueError):
        DDSketch(max_bins=4)
    with pytest.raises(ValueError):
        DDSketch().add([np.nan])
    with pytest.raises(ValueError):
        DDSketch().quantile(0.5)
    with pytest.raises(ValueError):
        DDSketch(alpha=0.01).merge(DDSketch(alpha=0.02))
    with pytest.raises(ValueError):
        DDSketch().add([1.0]).quantile(1.5)


def test_vector_quantiles_and_repr():
    sk = DDSketch().add(np.arange(1.0, 1001.0))
    qs = sk.quantile(np.array([0.1, 0.5, 0.9]))
    assert qs.shape == (3,)
    assert np.all(np.diff(qs) > 0)
    assert "DDSketch" in repr(sk)
