"""Sharded bloom family: bounded per-shard state, shard-local probes,
no false negatives, exact semi-join parity."""

import math

import pytest

from pyspark.sql import functions as F

from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
from presto_bloomfilter_spark.operators.sharded import (
    build_sharded_bloom,
    persist_sharded_bloom,
    sharded_bloom_semi_join,
    sharded_contains,
)
from presto_bloomfilter_spark.store import SketchStore


@pytest.fixture(scope="module")
def keys_df(spark):
    return spark.range(0, 5000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    ).cache()


def test_build_and_probe_no_false_negatives(spark, keys_df, tmp_path):
    store_root = str(tmp_path / "store")
    fam = build_sharded_bloom(keys_df, "k", shards=8,
                              expected_insertions_per_shard=2000, fpp=0.001)
    n = persist_sharded_bloom(fam, SketchStore(store_root), "fam", shards=8,
                              expected_insertions_per_shard=2000, fpp=0.001)
    assert n == 8
    # every shard filter is bounded to the per-shard geometry
    for r in fam.collect():
        sk = sketch_from_bytes(bytes(r.sketch))
        assert sk.expected_insertions == 2000
    # every inserted key must probe true (no false negatives)
    hits = sharded_contains(spark, keys_df, "k", store_root, "fam", 8)
    assert hits.count() == 5000
    # disjoint keys mostly miss (FP bounded)
    neg = spark.range(0, 5000).select(F.concat(F.lit("other-"), F.col("id")).alias("k"))
    fp = sharded_contains(spark, neg, "k", store_root, "fam", 8).count()
    assert fp <= 5000 * 0.001 * 10 + 5  # generous margin over per-shard bound


def test_sharded_semi_join_equals_exact(spark, sf_dir, tmp_path):
    from presto_bloomfilter_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = orders.filter(F.col("o_totalprice") > 300_000).select("o_orderkey")
    got = sharded_bloom_semi_join(
        spark, lineitem, "l_orderkey", big, "o_orderkey",
        store_root=str(tmp_path / "s2"), shards=4,
        expected_insertions_per_shard=10_000, fpp=0.001,
    )
    exact = lineitem.join(big, lineitem.l_orderkey == big.o_orderkey, "left_semi")
    assert got.count() == exact.count()
    pre = sharded_bloom_semi_join(
        spark, lineitem, "l_orderkey", big, "o_orderkey",
        store_root=str(tmp_path / "s2"), shards=4,
        expected_insertions_per_shard=10_000, fpp=0.001, exact=False,
    )
    assert pre.count() >= exact.count()
    assert pre.join(big, pre.l_orderkey == big.o_orderkey, "left_semi").count() == exact.count()
    assert got.select(F.sum("l_quantity")).collect()[0][0] == \
        exact.select(F.sum("l_quantity")).collect()[0][0]


def test_sharded_prefilters_on_one_store_name_do_not_overwrite(spark, sf_dir, tmp_path):
    """Two ``exact=False`` sharded semi joins on the same store_root and
    name, both built before either runs: each persists its family under
    its own content address, so the first (bigint keys) still returns
    the exact semi join's rows after the second (string keys) was built."""
    from presto_bloomfilter_spark.sources.tables import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    big = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300_000).select("o_orderkey")
    kw = dict(store_root=str(tmp_path / "one"), shards=4,
              expected_insertions_per_shard=10_000, fpp=0.001, name="fam", exact=False)
    first = sharded_bloom_semi_join(spark, lineitem, "l_orderkey", big, "o_orderkey", **kw)
    probe_s = spark.createDataFrame([("", 1), ("a", 2), ("b", 3)], "k string, v int")
    build_s = spark.createDataFrame([("",), ("a",)], "k string")
    second = sharded_bloom_semi_join(spark, probe_s, "k", build_s, "k", **kw)
    exact = lineitem.join(big, lineitem.l_orderkey == big.o_orderkey, "left_semi").count()
    assert exact > 0
    assert first.join(big, first.l_orderkey == big.o_orderkey, "left_semi").count() == exact
    assert {1, 2} <= {r.v for r in second.collect()}
    assert len(SketchStore(kw["store_root"]).keys()) == 2 * 4


def test_shard_function_partitioning_invariance(spark, keys_df, tmp_path):
    """Same family regardless of input partitioning (merge algebra per
    shard) — the property that makes the build restartable."""
    f1 = {r.shard: sketch_from_bytes(bytes(r.sketch)).sha256
          for r in build_sharded_bloom(keys_df, "k", 4, 2000).collect()}
    f2 = {r.shard: sketch_from_bytes(bytes(r.sketch)).sha256
          for r in build_sharded_bloom(keys_df.repartition(13), "k", 4, 2000).collect()}
    assert f1 == f2

def test_probe_missing_manifest_raises(spark, keys_df, tmp_path):
    """A wrong / un-shared store_root must fail loudly, not return
    silent false negatives (every probe row dropped)."""
    with pytest.raises(FileNotFoundError, match="manifest"):
        sharded_contains(spark, keys_df, "k", str(tmp_path / "nowhere"),
                         "fam", 8).count()


def test_probe_shard_count_mismatch_raises(spark, keys_df, tmp_path):
    store_root = str(tmp_path / "store")
    fam = build_sharded_bloom(keys_df, "k", shards=4,
                              expected_insertions_per_shard=2000)
    persist_sharded_bloom(fam, SketchStore(store_root), "fam", shards=4,
                          expected_insertions_per_shard=2000)
    with pytest.raises(ValueError, match="4 shards but probed with 8"):
        sharded_contains(spark, keys_df, "k", store_root, "fam", 8).count()


def test_persist_writes_every_shard_even_keyless(spark, tmp_path):
    """Shards that received no build keys still get an (empty) store
    object, so a probe-side missing object is always an error."""
    one = spark.createDataFrame([("only-key",)], "k string")
    store_root = str(tmp_path / "store")
    store = SketchStore(store_root)
    fam = build_sharded_bloom(one, "k", shards=8,
                              expected_insertions_per_shard=100, fpp=0.01)
    assert fam.count() == 1  # only one shard has members
    persist_sharded_bloom(fam, store, "fam", shards=8,
                          expected_insertions_per_shard=100, fpp=0.01)
    for s in range(8):
        assert store.exists(f"fam.s{s}")
    assert store.meta_exists("fam.manifest")
    # probing keys routed to key-less shards returns definite misses,
    # not an error, and the inserted key still hits
    probe = spark.createDataFrame(
        [("only-key",)] + [(f"absent-{i}",) for i in range(50)], "k string")
    hits = [r.k for r in
            sharded_contains(spark, probe, "k", store_root, "fam", 8).collect()]
    assert "only-key" in hits


def test_probe_deleted_shard_object_raises(spark, keys_df, tmp_path):
    """A shard object that vanishes after persist (partial store,
    deleted file) raises inside the task instead of dropping rows."""
    import os
    store_root = str(tmp_path / "store")
    store = SketchStore(store_root)
    fam = build_sharded_bloom(keys_df, "k", shards=4,
                              expected_insertions_per_shard=2000)
    persist_sharded_bloom(fam, store, "fam", shards=4,
                          expected_insertions_per_shard=2000)
    # remove one shard object behind the manifest's back
    victim = [p for p in os.listdir(store_root) if ".s2" in p]
    assert victim
    os.remove(os.path.join(store_root, victim[0]))
    from py4j.protocol import Py4JJavaError
    with pytest.raises(Exception) as ei:
        sharded_contains(spark, keys_df, "k", store_root, "fam", 4).count()
    assert "missing from sketch store" in str(ei.value)


def test_sharded_contains_exact_string_forms_and_parallelism(spark, tmp_path):
    """The probe must use Spark cast('string') forms like the build —
    pandas astype(str) on a NULL-floated int batch probed '12345.0'
    against an inserted '12345' (silent false negatives).  The probe
    rows' other columns pass through exactly: a bigint pass-through
    column holding NULL and 2^53+1 in rows of ONE key (one shard, one
    batch) keeps 2^53+1 in every mode.  Also drives probe_parallelism >
    shards (salted shard spread)."""
    from presto_bloomfilter_spark.operators.sharded import (
        build_sharded_bloom, persist_sharded_bloom, sharded_contains,
    )
    from presto_bloomfilter_spark.store import SketchStore

    root = str(tmp_path / "fam")
    big = 9007199254740993  # > 2^53: floats would round it
    build = spark.createDataFrame([(big,), (5,), (7,)], "k bigint")
    fam = build_sharded_bloom(build, "k", 4, 1000)
    persist_sharded_bloom(fam, SketchStore(root), "f", 4, 1000)
    hit_rows = {(big, 1), (5, None), (5, big)}
    miss_rows = {(None, 2), (999, None), (999, big + 2)}
    probe = spark.createDataFrame(
        sorted(hit_rows | miss_rows, key=str), "k bigint, v bigint").coalesce(1)

    def rows(df):
        return {(r.k, r.v) for r in df.collect()}

    kept = rows(sharded_contains(spark, probe, "k", root, "f", 4))
    assert kept == hit_rows
    # complement mode: the rows that DEFINITELY miss, exact too
    assert rows(sharded_contains(
        spark, probe, "k", root, "f", 4, keep_hits=False)) == miss_rows
    # salted wide probe returns the same row set
    assert rows(sharded_contains(
        spark, probe, "k", root, "f", 4, probe_parallelism=16)) == kept
    # flag mode returns every row with a membership flag
    flagged = {(r.k, r.v): r["__hit"] for r in sharded_contains(
        spark, probe, "k", root, "f", 4, flag_col="__hit").collect()}
    assert flagged == {**{r: True for r in hit_rows}, **{r: False for r in miss_rows}}


def test_allocate_bloom_budget_uniform_and_exact_spend():
    from presto_bloomfilter_spark.operators.sharded import allocate_bloom_budget

    out = allocate_bloom_budget({"a": 1000, "b": 1000}, total_bits=20_000)
    (ba, pa_), (bb, pb) = out["a"], out["b"]
    assert ba == pytest.approx(bb) and pa_ == pytest.approx(pb)
    assert ba + bb == pytest.approx(20_000)
    c = math.exp(-(math.log(2.0) ** 2))
    assert pa_ == pytest.approx(c ** (ba / 1000))


def test_allocate_bloom_budget_weights_shift_bits():
    from presto_bloomfilter_spark.operators.sharded import allocate_bloom_budget

    out = allocate_bloom_budget({"hot": 1000, "cold": 1000},
                                total_bits=20_000,
                                weights={"hot": 100.0, "cold": 1.0})
    assert out["hot"][0] > out["cold"][0]       # more bits where probed
    assert out["hot"][1] < out["cold"][1]       # lower fpp there
    assert out["hot"][0] + out["cold"][0] == pytest.approx(20_000)
    # KKT optimality: moving bits between the two filters only hurts
    def cost(b_hot):
        c = math.exp(-(math.log(2.0) ** 2))
        return (100.0 * c ** (b_hot / 1000)
                + 1.0 * c ** ((20_000 - b_hot) / 1000))
    best = cost(out["hot"][0])
    for d in (-500, -50, 50, 500):
        assert cost(out["hot"][0] + d) >= best - 1e-12


def test_allocate_bloom_budget_floor_clamp_and_guards():
    from presto_bloomfilter_spark.operators.sharded import allocate_bloom_budget

    # one filter "deserves" almost nothing -> pinned at the floor,
    # budget still exactly spent
    out = allocate_bloom_budget({"big": 10_000, "tiny": 100},
                                total_bits=25_000,
                                weights={"big": 1000.0, "tiny": 1e-9},
                                min_bits_per_key=2.0)
    assert out["tiny"][0] == pytest.approx(200.0)   # 2 bits/key floor
    assert out["big"][0] == pytest.approx(24_800.0)
    with pytest.raises(ValueError, match="positive"):
        allocate_bloom_budget({"a": 0}, 100)
    with pytest.raises(ValueError, match="floor"):
        allocate_bloom_budget({"a": 1000}, total_bits=500,
                              min_bits_per_key=1.0)
    with pytest.raises(ValueError, match="positive"):
        allocate_bloom_budget({"a": 10}, 100, weights={"a": 0.0})
