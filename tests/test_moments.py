"""MomentsSketch (Gan et al. VLDB 2018): accuracy envelopes, merge
algebra, serialization, guards, and the Spark spec."""

import numpy as np
import pytest

from presto_bloomfilter_spark import MomentsSketch, sketch_from_bytes
from presto_bloomfilter_spark.operators import aggregate as agg


def _rank_err(data, sk, q):
    return abs((data <= sk.quantile(q)).mean() - q)


def test_accuracy_smooth_distributions():
    rng = np.random.default_rng(0)
    for data in (rng.uniform(6, 512, 20_000),
                 np.clip(rng.normal(250, 60, 20_000), 0, 600)):
        sk = MomentsSketch(0.0, 600.0).add(data)
        for q in (0.1, 0.5, 0.9, 0.99):
            assert _rank_err(data, sk, q) <= 0.01, q


def test_log_moments_fix_long_tails():
    rng = np.random.default_rng(1)
    data = rng.lognormal(3, 0.8, 20_000).clip(0.5, 600)
    raw = MomentsSketch(0.4, 600.0).add(data)
    logm = MomentsSketch(0.4, 600.0, log=True).add(data)
    assert _rank_err(data, logm, 0.1) <= 0.01
    # and strictly better than raw moments where raw is known-weak
    assert _rank_err(data, logm, 0.1) < _rank_err(data, raw, 0.1)


def test_merge_is_vector_add_and_partitioning_invariant():
    rng = np.random.default_rng(2)
    data = rng.uniform(0, 100, 9_000)
    full = MomentsSketch(0.0, 100.0).add(data)
    parts = [MomentsSketch(0.0, 100.0).add(c) for c in np.split(data, 9)]
    merged = parts[0].copy()
    for p in parts[1:]:
        merged.merge(p)
    assert merged.estimate() == full.estimate() == 9_000
    assert merged.min == full.min and merged.max == full.max
    # float-add order differs; moments agree to ~1e-12 relative
    np.testing.assert_allclose(merged.sums, full.sums, rtol=1e-9)
    assert abs(merged.quantile(0.5) - full.quantile(0.5)) < 1e-6


def test_roundtrip_and_dispatch():
    sk = MomentsSketch(1.0, 50.0, k=8, log=True).add([2.0, 3.0, 40.0])
    rt = sketch_from_bytes(sk.to_bytes())
    assert isinstance(rt, MomentsSketch)
    assert rt == sk
    assert rt.quantile(0.5) == sk.quantile(0.5)


def test_endpoints_and_degenerate():
    sk = MomentsSketch(0.0, 10.0).add([3.0, 7.0, 5.0])
    assert sk.quantile(0.0) == 3.0
    assert sk.quantile(1.0) == 7.0
    same = MomentsSketch(0.0, 10.0).add([4.0] * 100)
    assert same.quantile(0.5) == 4.0
    qs = sk.quantile(np.array([0.0, 1.0]))
    assert list(qs) == [3.0, 7.0]


def test_guards():
    with pytest.raises(ValueError, match="hi > lo"):
        MomentsSketch(5.0, 5.0)
    with pytest.raises(ValueError, match="lo > 0"):
        MomentsSketch(0.0, 10.0, log=True)
    with pytest.raises(ValueError, match="k must be"):
        MomentsSketch(0.0, 1.0, k=1)
    sk = MomentsSketch(0.0, 10.0)
    with pytest.raises(ValueError, match="outside the sketch range"):
        sk.add([11.0])
    clamped = MomentsSketch(0.0, 10.0, clamp=True).add([11.0, 5.0])
    assert clamped.estimate() == 2
    with pytest.raises(ValueError, match="geometry"):
        MomentsSketch(0.0, 10.0).merge(MomentsSketch(0.0, 11.0))
    with pytest.raises(TypeError):
        MomentsSketch(0.0, 10.0).merge(object())
    with pytest.raises(ValueError, match="empty"):
        MomentsSketch(0.0, 10.0).quantile(0.5)
    with pytest.raises(ValueError, match="q must be"):
        MomentsSketch(0.0, 10.0).add([1.0]).quantile(1.5)
    with pytest.raises(ValueError, match="non-finite"):
        MomentsSketch(0.0, 10.0).add([float("nan")])


def test_spark_spec_grouped_rank_accuracy(spark, sf_dir):
    from presto_bloomfilter_spark.sources.corpus import load_tokens
    from pyspark.sql import functions as F

    tokens = load_tokens(spark, sf_dir).select(
        "source", F.col("n_tok").cast("double").alias("v"))
    grouped = agg.grouped_sketch(
        tokens, "source", agg.SketchSpec("v", lambda: MomentsSketch(0.0, 1024.0)))
    pdf = tokens.toPandas()
    for r in grouped.collect():
        sk = sketch_from_bytes(r["sketch"])
        v = pdf.loc[pdf.source == r["source"], "v"].to_numpy()
        assert sk.estimate() == len(v)
        assert abs((v <= sk.quantile(0.5)).mean() - 0.5) <= 0.08
