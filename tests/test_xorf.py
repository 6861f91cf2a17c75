"""Xor filter (functions/xorf.py + operators/staticfilter.py).

Core: no false negatives ever, FPR ~ 2^-fp_bits, 9.84 bits/key,
byte-deterministic rebuilds over the same key SET, PBFS round trip,
loud non-mergeability.  Spark: executor-side single build, semi-join
parity with the exact join, and a sharded family probed through the
UNMODIFIED sharded_contains.
"""

import numpy as np
import pytest

from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
from presto_bloomfilter_spark.functions.xorf import XorFilter


def test_no_false_negatives_and_fpr_bound():
    rng = np.random.default_rng(11)
    keys = rng.integers(0, 2**62, size=200_000)
    xf = XorFilter.build_ints(keys, fp_bits=8)
    assert xf.might_contain_ints(keys).all()
    probe = rng.integers(2**62, 2**63, size=400_000)
    fpr = xf.might_contain_ints(probe).mean()
    # 2^-8 with generous statistical margin
    assert fpr < 2**-8 * 1.3
    assert xf.bits_per_key == pytest.approx(9.84, abs=0.1)


def test_fp16_tightens_fpr():
    rng = np.random.default_rng(12)
    keys = rng.integers(0, 2**62, size=50_000)
    xf = XorFilter.build_ints(keys, fp_bits=16)
    assert xf.might_contain_ints(keys).all()
    probe = rng.integers(2**62, 2**63, size=500_000)
    assert xf.might_contain_ints(probe).mean() < 2**-16 * 8 + 1e-4


def test_rebuild_same_key_set_is_byte_identical():
    keys = np.arange(10_000, dtype=np.int64)
    a = XorFilter.build_ints(keys)
    b = XorFilter.build_ints(np.concatenate([keys[::-1], keys[:500]]))
    assert a == b
    assert a.to_bytes() == b.to_bytes()


def test_roundtrip_and_registry_dispatch():
    xf = XorFilter.build_strings([f"doc{i}" for i in range(1000)])
    rt = sketch_from_bytes(xf.to_bytes())
    assert type(rt) is XorFilter and rt == xf
    assert rt.might_contain("doc999") and rt.n_keys == 1000
    b64 = XorFilter.from_base64(xf.to_base64())
    assert b64 == xf


def test_null_empty_and_merge_semantics():
    xf = XorFilter.build_strings(["a", "b", None, "", "c"])
    assert xf.n_keys == 3
    assert not xf.might_contain(None)
    assert not xf.might_contain_strings([""])[0]
    empty = XorFilter.build_digests(np.array([], dtype=np.uint64))
    assert not empty.might_contain_ints([1, 2, 3]).any()
    with pytest.raises(TypeError, match="STATIC"):
        xf.merge(xf)
    with pytest.raises(ValueError, match="fp_bits"):
        XorFilter.build_digests(np.array([1], dtype=np.uint64), fp_bits=12)


def test_spark_build_and_semi_join_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from presto_bloomfilter_spark.operators.staticfilter import (
        build_xor_filter,
        xor_semi_join,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = orders.filter(F.col("o_totalprice") > 200_000).select("o_orderkey")

    xf = build_xor_filter(big, "o_orderkey")
    n_distinct = big.distinct().count()
    assert xf.n_keys == n_distinct

    got = xor_semi_join(spark, lineitem, "l_orderkey", big, "o_orderkey").count()
    exact = lineitem.join(
        big.withColumnRenamed("o_orderkey", "l_orderkey").distinct(),
        "l_orderkey", "left_semi").count()
    assert got == exact

    # string-typed keys through the same surface
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    some = docs.filter(F.col("n_chars") > 900).select("doc_id")
    got_s = xor_semi_join(spark, docs, "doc_id", some, "doc_id").count()
    assert got_s == some.distinct().count()


def test_sharded_family_probes_through_sharded_contains(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from presto_bloomfilter_spark.operators.sharded import sharded_contains
    from presto_bloomfilter_spark.operators.staticfilter import (
        build_xor_shards,
        persist_xor_shards,
    )
    from presto_bloomfilter_spark.store import SketchStore

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = orders.filter(F.col("o_totalprice") > 250_000).select("o_orderkey")

    root = str(tmp_path / "xorstore")
    fam = build_xor_shards(big, "o_orderkey", shards=4)
    persist_xor_shards(fam, SketchStore(root), "xorfam", shards=4)

    pre = sharded_contains(spark, lineitem, "l_orderkey", root, "xorfam", shards=4)
    exact = lineitem.join(
        big.withColumnRenamed("o_orderkey", "l_orderkey").distinct(),
        "l_orderkey", "left_semi")
    n_pre, n_exact = pre.count(), exact.count()
    # no false negatives: pre ⊇ exact; FP excess bounded by fp_bits=8
    assert n_pre >= n_exact
    n_probe = lineitem.count()
    assert (n_pre - n_exact) <= (n_probe - n_exact) * (2**-8 * 2 + 0.01)


def test_sql_contains_dispatches_xor_blobs(spark):
    """The SQL scalar surface is kind-agnostic (PBFS registry dispatch),
    so bloom_filter_contains probes an xor blob unchanged."""
    from presto_bloomfilter_spark import compat

    compat.register_sql_functions(spark)
    xf = XorFilter.build_strings(["alpha", "beta", "gamma"])
    compat.publish_sketch_view(spark, xf, "xorv_test")
    got = {r.el: r.hit for r in spark.sql("""
        SELECT el, bloom_filter_contains((SELECT bf FROM xorv_test), el) AS hit
        FROM VALUES ('alpha'),('beta'),('nope') AS t(el)
    """).collect()}
    assert got == {"alpha": True, "beta": True, "nope": False}


def test_semi_joins_keep_empty_string_keys(spark, semi_joins):
    """'' is invisible to the filters (reference empty-element
    semantics) but a legitimate join key: every sketch pre-filter
    (``exact=False``) routes it through the shared sentinel, so its
    superset keeps the '' row (regression for the silent-drop hole),
    and the exact semi join keeps it as well.  A NULL key never
    matches."""
    build = spark.createDataFrame([("",), ("a",)], "k string")
    probe = spark.createDataFrame(
        [("", 1), ("a", 2), ("b", 3), (None, 4)], "k string, v int")
    for kind, join in semi_joins.items():
        assert {r.v for r in join(probe, "k", build, "k").collect()} == {1, 2}, kind
        pre = {r.v for r in join(probe, "k", build, "k", exact=False).collect()}
        assert {1, 2} <= pre and 4 not in pre, (kind, pre)


@pytest.mark.parametrize("probe_type", ["double", "string"])
@pytest.mark.parametrize("kind", ["bloom", "sbbf", "xor", "sharded"])
def test_semi_joins_refuse_incomparable_key_types(spark, semi_joins, kind, probe_type):
    """A double or string probe key against a bigint build key would
    compare string forms ('5.0' vs '5') and silently drop matches:
    every semi join refuses it, naming itself, exact or not (the key
    rule runs first on both paths)."""
    build = spark.createDataFrame([(5,)], "k bigint")
    probe = spark.createDataFrame([("5",)], "k string").selectExpr(f"cast(k as {probe_type}) k")
    caller = {"sbbf": "bloom", "sharded": "sharded_bloom"}.get(kind, kind) + "_semi_join"
    for exact in (True, False):
        with pytest.raises(ValueError, match=f"^{caller} "):
            semi_joins[kind](probe, "k", build, "k", exact=exact)


def _blob_sha(xf) -> str:
    import hashlib

    return hashlib.sha256(xf.to_bytes()).hexdigest()


def test_spark_xor_builds_are_byte_identical_to_local_builds(spark):
    """The Arrow-path builds peel the same filter as a local build over
    the distinct non-NULL keys, for an int and a string column (NULLs,
    duplicates and '' in the input), per shard of a family, and an
    empty input gives an empty filter."""
    from pyspark.sql import functions as F

    from presto_bloomfilter_spark.operators.sharded import _shard_col
    from presto_bloomfilter_spark.operators.staticfilter import (
        build_xor_filter,
        build_xor_shards,
    )

    ints = spark.createDataFrame([(v,) for v in [3, None, 7, 3, 2**53 + 1, -4, 7]], "k bigint")
    assert _blob_sha(build_xor_filter(ints, "k")) == _blob_sha(
        XorFilter.build_ints([3, 7, 2**53 + 1, -4]))
    strs = spark.createDataFrame(
        [(v,) for v in ["x", None, "y", "x", "", "zz", "y"]], "k string").repartition(3)
    assert _blob_sha(build_xor_filter(strs, "k")) == _blob_sha(
        XorFilter.build_strings(["x", "y", "zz"]))

    shards = 3
    fam = {r.shard: XorFilter.from_bytes(bytes(r.sketch))
           for r in build_xor_shards(ints, "k", shards).collect()}
    per_shard: dict = {}
    for r in ints.select(F.col("k").cast("string").alias("k")).dropna().select(
            "k", _shard_col(F.col("k"), shards).alias("s")).collect():
        per_shard.setdefault(r.s, set()).add(r.k)
    assert set(fam) == set(per_shard)
    for s, keys in per_shard.items():
        assert _blob_sha(fam[s]) == _blob_sha(XorFilter.build_strings(sorted(keys)))

    empty = build_xor_filter(spark.createDataFrame([], "k bigint"), "k")
    assert type(empty) is XorFilter and empty.n_keys == 0
