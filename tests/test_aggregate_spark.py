"""Spark dataflow tests: partial build → tree merge → probe, grouped
builds with salting, parallelism invariance (SURVEY.md §5 level 4)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

import pandas as pd
import pyarrow as pa

from presto_bloomfilter_spark import (
    BloomFilter, CountingBloomFilter, CountMinSketch, CountSketch, DDSketch, ExactGram,
    FrequentDirections, HyperLogLog, KLLSketch, MisraGries, MomentsSketch,
    SplitBlockBloomFilter, TDigest, ThetaSketch, sketch_from_bytes,
)
from presto_bloomfilter_spark.functions.hashing import takes_counts
from presto_bloomfilter_spark.functions.multi import MultiSketch
from presto_bloomfilter_spark.functions.xorf import _XorKeyCollector
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.probe import bloom_semi_join, contains_udf, filter_by_sketch
from presto_bloomfilter_spark.operators.staticfilter import build_xor_filter
from presto_bloomfilter_spark.sources.corpus import load_tokens


@pytest.fixture(scope="module")
def tokens(spark, sf_dir):
    return load_tokens(spark, sf_dir).cache()


def _bloom_tokens(n=100_000, p=0.01):
    return agg.SketchSpec("tokens", lambda: agg.TokenDedupAccumulator(BloomFilter(n, p)))


def test_bloom_over_doc_ids(spark, tokens):
    n = tokens.count()
    bf = agg.aggregate_sketch(tokens, agg.bloom_over_strings("doc_id", 10_000, 0.01))
    ids = [r.doc_id for r in tokens.select("doc_id").collect()]
    assert bf.might_contain_strings(ids).all()  # no false negatives
    absent = [f"nope-{i}" for i in range(5000)]
    assert bf.might_contain_strings(absent).mean() <= 0.02
    assert bf.approx_items == n


def test_parallelism_invariance(spark, tokens):
    """Same sketch bytes at 1, 4, 13 partitions — the key invariant for
    a hand-built partial/merge protocol (SURVEY.md §7)."""
    spec = _bloom_tokens()
    digests = set()
    for parts in (1, 4, 13):
        bf = agg.aggregate_sketch(tokens.repartition(parts), spec, fan_in=4)
        digests.add(bf.sha256)
    assert len(digests) == 1


def test_hll_vs_exact_and_spark_builtin(spark, tokens):
    hll = agg.aggregate_sketch(tokens, agg.hll_over_tokens("tokens"))
    exact = tokens.select(F.explode("tokens").alias("t")).agg(
        F.countDistinct("t").alias("d")
    ).collect()[0].d
    assert abs(hll.estimate() - exact) / exact <= 0.03
    spark_est = tokens.select(F.explode("tokens").alias("t")).agg(
        F.approx_count_distinct("t").alias("d")
    ).collect()[0].d
    assert abs(hll.estimate() - spark_est) / exact <= 0.1


def test_cms_token_frequencies(spark, tokens):
    cms = agg.aggregate_sketch(tokens, agg.SketchSpec(
        "tokens", lambda: agg.TokenDedupAccumulator(CountMinSketch(1e-4))))
    top = (
        tokens.select(F.explode("tokens").alias("t"))
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"))
        .limit(20)
        .collect()
    )
    toks = np.array([r.t for r in top])
    true = np.array([r["count"] for r in top])
    est = cms.estimate_ints(toks)
    assert (est >= true).all()
    assert (est <= true + cms.error_bound()).all()


def test_kll_ntok_quantiles(spark, tokens):
    kll = agg.aggregate_sketch(tokens, agg.kll_over_column("n_tok"))
    exact = tokens.approxQuantile("n_tok", [0.5], 0.0)[0]
    n = tokens.count()
    est = kll.quantile(0.5)
    ranks = tokens.filter(F.col("n_tok") <= est).count() / n
    assert abs(ranks - 0.5) <= 5 * kll.rank_error


def test_grouped_sketch_strategies_agree(spark, tokens):
    """map_side partials, plain grouped, and salted grouped must all
    produce byte-identical per-key HLLs (register-max merge is
    order-insensitive)."""
    spec = agg.hll_over_tokens("tokens")
    plain = {r[0]: sketch_from_bytes(r.sketch) for r in agg.grouped_sketch(tokens, "source", spec).collect()}
    grouped = {r[0]: sketch_from_bytes(r.sketch)
               for r in agg.grouped_sketch(tokens, "source", spec, strategy="salted").collect()}
    salted = {r[0]: sketch_from_bytes(r.sketch)
              for r in agg.grouped_sketch(tokens, "source", spec, salt=8, strategy="salted").collect()}
    assert set(plain) == set(salted) == set(grouped)
    for k in plain:
        assert plain[k] == salted[k] == grouped[k]
    # sanity vs exact per-group distinct
    exact = {
        r.source: r.d
        for r in tokens.select("source", F.explode("tokens").alias("t"))
        .groupBy("source")
        .agg(F.countDistinct("t").alias("d"))
        .collect()
    }
    for k, sk in plain.items():
        assert abs(sk.estimate() - exact[k]) / exact[k] <= 0.05


def test_merge_sketch_column(spark, tokens):
    per_source = agg.grouped_sketch(tokens, "source", _bloom_tokens(p=BloomFilter.DEFAULT_FPP))
    merged = agg.merge_sketch_column(per_source, "sketch")
    direct = agg.aggregate_sketch(tokens, _bloom_tokens(p=BloomFilter.DEFAULT_FPP))
    assert merged == direct  # union of per-group = global


def test_filter_by_sketch_and_semi_join(spark, tokens):
    sample_ids = [r.doc_id for r in tokens.select("doc_id").limit(50).collect()]
    bf = BloomFilter(1000, 0.001).add_strings(sample_ids)
    got = filter_by_sketch(spark, tokens, "doc_id", bf).select("doc_id").collect()
    got_ids = {r.doc_id for r in got}
    assert set(sample_ids) <= got_ids  # no FN
    assert len(got_ids) <= len(sample_ids) * 1.1

    build = spark.createDataFrame([(i,) for i in sample_ids], "doc_id string")
    exact = bloom_semi_join(spark, tokens, "doc_id", build, "doc_id", 10_000)
    assert {r.doc_id for r in exact.select("doc_id").collect()} == set(sample_ids)


def test_empty_input_yields_empty_sketch(spark, tokens):
    empty = tokens.filter(F.lit(False))
    bf = agg.aggregate_sketch(empty, agg.bloom_over_strings("doc_id", 1000))
    assert bf.bits_set == 0 and bf.approx_items == 0


def test_fused_parquet_scan_matches_dataframe_path(spark, sf_dir):
    """aggregate_sketch_from_parquet (pyarrow scan inside the worker)
    must produce byte-identical sketches to the DataFrame path."""
    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    path = ensure_tokens_parquet(sf_dir)
    spec = _bloom_tokens()
    via_df = agg.aggregate_sketch(load_tokens(spark, sf_dir), spec)
    via_fused = agg.aggregate_sketch_from_parquet(spark, path, spec, n_tasks=7)
    assert via_fused.sha256 == via_df.sha256


def test_token_family_fused_build(spark, sf_dir):
    """One scan builds bloom+CMS+HLL; estimates agree with exact."""
    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    path = ensure_tokens_parquet(sf_dir)
    fam = agg.aggregate_sketch_from_parquet(
        spark, path, agg.token_family_over_tokens("tokens"), n_tasks=5)
    bloom, cms, hll = fam.parts
    tokens = load_tokens(spark, sf_dir)
    exact = (
        tokens.select(F.explode("tokens").alias("t")).groupBy("t").count()
        .orderBy(F.desc("count")).limit(10).collect()
    )
    for r in exact:
        assert bloom.might_contain_ints([r.t])[0]
        est = int(cms.estimate_ints([r.t])[0])
        assert r["count"] <= est <= r["count"] * 1.01 + 10
    n_distinct = tokens.select(F.explode("tokens").alias("t")).agg(
        F.countDistinct("t").alias("d")).collect()[0].d
    assert abs(hll.estimate() - n_distinct) / n_distinct <= 0.03


def test_dedup_accumulator_range_fallback():
    """Ids wider than RANGE_CAP fall back to direct inserts mid-stream
    and still agree with a direct-built sketch."""
    rng = np.random.default_rng(7)
    small = rng.integers(0, 50_000, size=10_000)
    huge = rng.integers(0, 2**31 - 1, size=10_000)
    spec = _bloom_tokens()
    acc = spec.factory()
    acc.add_ints(small)
    acc.add_ints(huge)  # range blows past cap → flush + direct
    got = acc.finish()
    ref = BloomFilter(100_000, 0.01)
    ref.add_ints(small)
    ref.add_ints(huge)
    assert got.sha256 == ref.sha256


def test_multisketch_roundtrip_and_merge_invariance():
    from presto_bloomfilter_spark.functions.multi import MultiSketch

    rng = np.random.default_rng(11)
    a = rng.integers(0, 30_000, size=50_000)
    b = rng.integers(0, 30_000, size=50_000)
    spec = agg.token_family_over_tokens("tokens")

    whole = spec.factory(); whole.add_ints(np.concatenate([a, b]))
    whole = whole.finish()

    left = spec.factory(); left.add_ints(a)
    right = spec.factory(); right.add_ints(b)
    merged = left.finish().merge(right.finish())

    rt = sketch_from_bytes(merged.to_bytes())
    assert isinstance(rt, MultiSketch)
    # bloom bitsets identical; CMS tables identical (counts are exact sums)
    assert merged.parts[0].sha256 == whole.parts[0].sha256
    assert rt.parts[0].sha256 == whole.parts[0].sha256
    assert int(merged.parts[1].estimate_ints([int(a[0])])[0]) == int(
        whole.parts[1].estimate_ints([int(a[0])])[0])


def test_build_metrics_accumulators(spark, tokens):
    m = agg.BuildMetrics(spark)
    n = tokens.count()
    agg.aggregate_sketch(tokens.repartition(6), _bloom_tokens(), fan_in=4, target_partials=6, metrics=m)
    d = m.as_dict()
    assert d["rows"] == n
    assert d["partial_sketches"] == 6
    # 6 partials -> 2 intermediate (fan_in 4) -> driver: total merges = 5
    assert d["merges"] == d["partial_sketches"] - 1
    assert d["batches"] >= d["partial_sketches"]


def test_build_metrics_partial_encode(spark, sf_dir, tokens):
    """The partial phase reports its encode time and blob bytes, for an
    ungrouped fused build and for a grouped map_side build."""
    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    m = agg.BuildMetrics(spark)
    agg.aggregate_sketch_from_parquet(
        spark, ensure_tokens_parquet(sf_dir), agg.token_family_over_tokens("tokens"),
        n_tasks=3, metrics=m)
    d = m.as_dict()
    assert d["partial_sketches"] >= 1
    assert d["encode_s"] > 0 and d["blob_bytes"] > 0
    g = agg.BuildMetrics(spark)
    rows = agg.grouped_sketch(tokens, "source", agg.hll_over_tokens("tokens"), metrics=g).collect()
    assert rows and g.as_dict()["encode_s"] > 0
    assert g.as_dict()["blob_bytes"] >= len(rows) * 48


def test_grouped_fused_parquet_matches_dataframe_grouped(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    path = ensure_tokens_parquet(sf_dir)
    # the same rows as a directory of 3 files with several row groups each
    tbl = pq.read_table(path)
    n = tbl.num_rows
    for i in range(3):
        lo, hi = i * n // 3, (i + 1) * n // 3
        pq.write_table(tbl.slice(lo, hi - lo), str(tmp_path / f"part-{i}.parquet"),
                       row_group_size=max(1, n // 10))
    spec = agg.hll_over_tokens("tokens")
    via_df = {
        r[0]: sketch_from_bytes(r.sketch).estimate()
        for r in agg.grouped_sketch(load_tokens(spark, sf_dir), "source", spec).collect()
    }
    # HLL merge is register-max: estimates are partitioning-invariant
    for source in (path, str(tmp_path)):
        via_fused = {
            r[0]: sketch_from_bytes(r.sketch).estimate()
            for r in agg.grouped_sketch_from_parquet(spark, source, "source", spec, n_tasks=6).collect()
        }
        assert via_fused == via_df


def test_top_k_tokens_matches_exact_groupby(spark, tokens):
    """Two-phase heavy hitters must equal the full exact top-k,
    including under adversarial repartitioning, and with duplicate
    candidate flushes (direct fallback path exercised via tiny M)."""
    from pyspark.sql import Window

    exploded = tokens.select(F.explode("tokens").alias("token"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    exact = (
        exploded.groupBy("token").agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
        .select(F.col("token").cast("int"), "cnt").collect()
    )
    expected = [(r.token, r.cnt) for r in exact]
    for df in (tokens, tokens.repartition(11)):
        got = [(r.token, r.cnt) for r in agg.top_k_tokens(df, "tokens", k=10).collect()]
        got.sort(key=lambda t: (-t[1], t[0]))
        assert got == expected


def test_top_k_tokens_certification(spark, tokens):
    """certify=True proves the top-k in-band via the standard coverage
    bound (k-th exact count > sum of per-partition M-th local counts)
    and raises TopKNotCertified when the bound cannot certify — no
    silent coverage miss for library callers (ADVICE r02)."""
    certified = agg.top_k_tokens(tokens, "tokens", k=10, certify=True)
    uncertified = agg.top_k_tokens(tokens, "tokens", k=10)
    assert sorted((r.token, r.cnt) for r in certified.collect()) == \
        sorted((r.token, r.cnt) for r in uncertified.collect())
    # adversarially flat distribution + tiny M: every id ties, the
    # bound cannot separate candidates from non-candidates
    flat = spark.range(0, 20_000).selectExpr(
        "array(cast(id % 5000 as int)) as tokens").repartition(8)
    with pytest.raises(agg.TopKNotCertified, match="non-candidate bound"):
        agg.top_k_tokens(flat, "tokens", k=10, m_per_partition=12, certify=True)
    # the same flat corpus certifies once M covers the id space
    ok = agg.top_k_tokens(flat, "tokens", k=10, m_per_partition=5000, certify=True)
    assert ok.count() == 10


def test_top_k_tokens_certifies_when_distinct_below_k(spark):
    """A corpus with fewer than k distinct tokens is provably exact when
    no partition truncated (bound == 0) — certify must NOT raise just
    because len(result) < k."""
    small = spark.range(0, 1000).selectExpr(
        "array(cast(id % 7 as int)) as tokens").repartition(4)
    got = agg.top_k_tokens(small, "tokens", k=20, certify=True)
    rows = got.collect()
    assert len(rows) == 7
    assert {r.token for r in rows} == set(range(7))


def test_int_probe_nullable_and_beyond_2pow53(spark):
    """Regression: a NULL in a probe batch makes Arrow→pandas deliver
    float64, silently corrupting ids above 2^53 (false negatives) and
    NaN-hashing NULLs.  The probe drops NULLs at the Arrow level and
    hashes the exact int64 values: big ids probe exactly, NULLs probe
    False."""
    from presto_bloomfilter_spark.operators.probe import bloom_semi_join, filter_by_sketch

    big_a, big_b = 9007199254740993, 9007199254740995  # 2^53+1, 2^53+3
    build = spark.createDataFrame([(big_a,), (5,)], "k bigint")
    probe = spark.createDataFrame(
        [(big_a,), (big_b,), (None,), (5,)], "k bigint").coalesce(1)
    out = bloom_semi_join(spark, probe, "k", build, "k",
                          expected_insertions=1000, exact=True)
    assert {r.k for r in out.collect()} == {big_a, 5}
    pre = bloom_semi_join(spark, probe, "k", build, "k",
                          expected_insertions=1000, fpp=0.0001, exact=False)
    assert {r.k for r in pre.collect()} == {big_a, 5}
    # direct filter path: NULL rows must drop, the adjacent big id must
    # NOT collide with the inserted one via float rounding
    sk = agg.aggregate_sketch(
        build, agg.bloom_over_ints("k", 1000, 0.0001))
    kept = {r.k for r in filter_by_sketch(spark, probe, "k", sk).collect()}
    assert big_a in kept and 5 in kept and None not in kept
    assert big_b not in kept  # float64 would have rounded both to 2^53+2


_MEMBERSHIP = {
    "bloom": lambda: BloomFilter(1000, 0.001),
    "sbbf": lambda: SplitBlockBloomFilter(1000, 0.001),
    "cbf": lambda: CountingBloomFilter(1000, 0.001),
}


@pytest.mark.parametrize("build_type,probe_type,keys", [
    ("bigint", "bigint", [5, 2**53 + 1, None, -7]),
    ("int", "bigint", [5, 2**31 - 1, None, -7]),
    ("string", "string", ["a", "", None, "ü"]),
], ids=["bigint", "int-build-bigint-probe", "string"])
@pytest.mark.parametrize("kind", ["bloom", "sbbf", "cbf", "xor"])
def test_probe_hash_path_follows_key_type(spark, kind, build_type, probe_type, keys):
    """Build and probe pick the hash path from the column type alone (no
    caller knob): every inserted key probes true; NULL probes false, and
    so does '' (never inserted, reference BloomFilter.java:161-167)."""
    build = spark.createDataFrame([(k,) for k in keys], f"k {build_type}")
    if kind == "xor":
        sk = build_xor_filter(build, "k")
    else:
        sk = agg.aggregate_sketch(build, agg.SketchSpec("k", _MEMBERSHIP[kind]))
    probe = spark.createDataFrame([(k,) for k in keys], f"k {probe_type}").coalesce(1)
    hits = dict(probe.select("k", contains_udf(spark, sk)(F.col("k"))).collect())
    assert hits == {k: k is not None and k != "" for k in keys}


def test_probe_rejects_floating_keys(spark):
    sk = agg.aggregate_sketch(spark.range(10), agg.SketchSpec("id", _MEMBERSHIP["bloom"]))
    with pytest.raises(Exception, match="cast it to an integer or string"):
        filter_by_sketch(spark, spark.range(10).selectExpr("cast(id as double) k"), "k",
                         sk).count()


@pytest.mark.parametrize("side", ["build", "probe"])
@pytest.mark.parametrize("expr, arrow_type", [
    ("id % 2 = 0", "bool"), ("date_add(date'2020-01-01', cast(id as int))", "date32"),
    ("timestamp_seconds(id)", "timestamp"), ("cast(id as decimal(10,2))", "decimal128"),
], ids=["boolean", "date", "timestamp", "decimal"])
def test_hash_sketch_rejects_non_string_keys(spark, side, expr, arrow_type):
    """A key column that is neither integer nor string has no agreed
    hashed form: build and probe both raise a TypeError naming the
    column and its type, and asking for a cast to string."""
    keys = spark.range(3).selectExpr(f"{expr} k")
    spec = agg.SketchSpec("k", _MEMBERSHIP["bloom"])
    match = rf"column 'k' \({arrow_type}.*cast it to string first"
    with pytest.raises(Exception, match=match):
        if side == "build":
            agg.aggregate_sketch(keys, spec)
        else:
            sk = agg.aggregate_sketch(spark.range(3).selectExpr("cast(id as string) k"), spec)
            filter_by_sketch(spark, keys, "k", sk).count()


def test_hash_sketch_decodes_dictionary_string_keys():
    """A dictionary-encoded string column hashes as its plain strings."""
    words = pa.array(["a", "b", "a", "c"])
    plain, coded = BloomFilter(100, 0.01), BloomFilter(100, 0.01)
    agg.hash_dispatch(plain, "add", words, "k")
    agg.hash_dispatch(coded, "add", words.dictionary_encode(), "k")
    assert plain == coded
    assert agg.hash_dispatch(coded, "might_contain", words.dictionary_encode(), "k").all()


def test_hash_ints64_rejects_float_arrays():
    import numpy as np
    import pytest as _pytest

    from presto_bloomfilter_spark.functions.hashing import hash_ints64

    with _pytest.raises(ValueError, match="floating"):
        hash_ints64(np.array([1.0, np.nan]))


def test_bloom_over_ints_ignores_nulls(spark):
    """Nulls in an int column are ignored like add_strings ignores
    None — previously the Arrow→numpy float conversion crashed the
    whole build via the hash_ints64 float guard."""
    df = spark.createDataFrame([(1,), (None,), (3,)], "k bigint").coalesce(1)
    sk = agg.aggregate_sketch(df, agg.bloom_over_ints("k", 1000, 0.01))
    assert sk.might_contain(1) and sk.might_contain(3)


def test_grouped_sketch_salted_nullable_int_column(spark):
    """A nullable long column through the salted path: the NULL is
    skipped and the ints take the exact int hash (no float detour,
    2**53 + 1 included), the same blobs as the map_side path."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2**53 + 1), ("b", 7), ("b", None)],
        "g string, k bigint").coalesce(1)
    for spec in (agg.SketchSpec("k", HyperLogLog), agg.bloom_over_ints("k", 1000, 0.01)):
        map_side = {r["g"]: bytes(r["sketch"]) for r in agg.grouped_sketch(df, "g", spec).collect()}
        salted = {r["g"]: bytes(r["sketch"]) for r in agg.grouped_sketch(
            df, "g", spec, strategy="salted", salt=2).collect()}
        assert salted == map_side
    bf = sketch_from_bytes(salted["a"])
    assert bf.might_contain(1) and bf.might_contain(2**53 + 1)


def test_grouped_sketch_null_keys_both_strategies(spark):
    """A NULL group key must neither crash the map_side Arrow split
    (np.unique can't sort None vs str) nor diverge between strategies:
    both emit a NULL-keyed row covering the null group's values."""
    df = spark.createDataFrame(
        [("a", "x1"), (None, "x2"), ("a", "x3"), (None, "x4")],
        "g string, v string").coalesce(1)
    for strategy, kw in (("map_side", {}), ("salted", {"salt": 2})):
        out = {r["g"]: r["sketch"] for r in agg.grouped_sketch(
            df, "g", agg.SketchSpec("v", HyperLogLog), strategy=strategy, **kw).collect()}
        assert set(out) == {"a", None}, (strategy, set(out))
        from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
        assert round(sketch_from_bytes(out[None]).estimate()) == 2, strategy


def test_grouped_sketch_salted_int_key(spark):
    """Non-string group keys through the salted path: the declared
    '{key} string' schema previously made pyarrow refuse the int→string
    conversion."""
    df = spark.createDataFrame(
        [(2021, "a"), (2021, "b"), (2022, "c")], "year int, v string")
    out = {r["year"]: r["sketch"] for r in agg.grouped_sketch(
        df, "year", agg.SketchSpec("v", HyperLogLog), strategy="salted", salt=2).collect()}
    assert set(out) == {"2021", "2022"}


def test_grouped_from_parquet_rejects_diverging_key_types(spark, tmp_path):
    """The fused parquet dataflow labels keys with Python str(); for
    double/boolean keys that diverges from grouped_sketch's JVM
    cast-to-string, so it must refuse rather than silently emit
    mismatched labels."""
    p = str(tmp_path / "dbl")
    spark.createDataFrame(
        [(1e-07, "a"), (0.5, "b")], "k double, v string").write.parquet(p)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cast-to-string"):
        agg.grouped_sketch_from_parquet(spark, p + "/" +
                                        next(f for f in __import__("os").listdir(p)
                                             if f.endswith(".parquet")),
                                        "k", agg.SketchSpec("v", HyperLogLog))


def test_grouped_sketch_key_labels_agree_across_strategies(spark):
    """Double/boolean group keys stringify identically through both
    strategies (one JVM cast-to-string for both) — previously map_side
    used Python str() ('1e-07', 'True') while salted used Spark's cast
    ('1.0E-7', 'true')."""
    df = spark.createDataFrame(
        [(1e-07, "a"), (1e-07, "b"), (0.5, "c"), (1e-07, "d")],
        "k double, v string")
    bools = spark.createDataFrame(
        [(True, "a"), (False, "b")], "k boolean, v string")
    for frame in (df, bools):
        spec = agg.SketchSpec("v", HyperLogLog)
        m = {r["k"] for r in agg.grouped_sketch(frame, "k", spec).collect()}
        s = {r["k"] for r in agg.grouped_sketch(
            frame, "k", spec, strategy="salted", salt=2).collect()}
        assert m == s, (m, s)


def test_grouped_merge_edge_cases_match_dict_fold(spark):
    """grouped_merge_sketch_column against a pure-Python dict fold: a
    NULL key is one row, a bigint key stays bigint, runs of one key span
    several 7-row Arrow batches, and a double key groups as ``groupBy``
    does (every NaN together, -0.0 with 0.0)."""
    from pyspark.sql.types import DoubleType, LongType

    rng = np.random.default_rng(11)
    nan = float("nan")
    cases = {
        "bigint": ([None, 1, 2**40 + 3, -5], LongType()),
        "double": ([None, nan, -0.0, 0.0, 1.5], DoubleType()),
    }
    prev = spark.conf.get(agg._ARROW_BATCH_KEY)
    spark.conf.set(agg._ARROW_BATCH_KEY, "7")
    try:
        for name, (keys, dtype) in cases.items():
            rows = []
            for i in range(90):
                sk = HyperLogLog(10)
                sk.add_ints(rng.integers(0, 10**6, 20))
                rows.append((keys[i % len(keys)], sk.to_bytes()))
            expected: dict = {}
            for k, blob in rows:
                label = "nan" if k != k else k  # NaN != NaN; -0.0 == 0.0 already
                sk = sketch_from_bytes(blob)
                expected[label] = sk if label not in expected else expected[label].merge(sk)
            df = spark.createDataFrame(rows, f"k {dtype.simpleString()}, sketch binary")
            out = agg.grouped_merge_sketch_column(df, "k")
            assert out.schema["k"].dataType == dtype, name
            got = [("nan" if r.k != r.k else r.k, bytes(r.sketch)) for r in out.collect()]
            assert len(got) == len(expected), (name, [k for k, _ in got])
            assert dict(got) == {k: sk.to_bytes() for k, sk in expected.items()}, name
    finally:
        spark.conf.set(agg._ARROW_BATCH_KEY, prev)


def _dense_reference(sketch, batches, weighted: bool):
    """What a dense-only accumulator pushes into ``sketch``: one
    bincount over the whole stream, then its nonzero (id, count) pairs
    in id order."""
    ids = np.concatenate(batches).astype(np.int64)
    base = int(ids.min())
    counts = np.bincount(ids - base)
    nz = np.flatnonzero(counts)
    if weighted:
        sketch.add_ints(nz + base, counts=counts[nz])
    else:
        sketch.add_ints(nz + base)
        if hasattr(sketch, "approx_items"):
            sketch.approx_items += int(counts.sum()) - int(nz.size)
    return sketch


def _dedup_streams(dtype):
    """(name, batches, mode before flush) for the three stream shapes."""
    rng = np.random.default_rng(5)

    def zipf(n, vocab):
        return np.minimum(rng.zipf(1.3, n) - 1, vocab - 1).astype(dtype)

    # sparse: 5 x 300 ids over a 50k-id range (4 x 1500 < range)
    sparse = [np.append(zipf(299, 50_000), 50_000 - 1).astype(dtype) for _ in range(5)]
    # dense: the first batch already has 4 x ids >= its range
    dense = [zipf(20_000, 5_000) for _ in range(4)]
    # turns dense at the 7th batch (4 x 7 x 2000 >= 50k)
    turning = [np.append(zipf(1999, 50_000), 49_999).astype(dtype) for _ in range(10)]
    return [("sparse", sparse, "sparse"), ("dense", dense, "dense"),
            ("turning", turning, "dense")]


_DEDUP_SKETCHES = {
    "bloom": lambda: BloomFilter(100_000, 0.01),
    "sbbf": lambda: SplitBlockBloomFilter(100_000, 0.01),
    "cbf": lambda: CountingBloomFilter(100_000, 0.01),
    "hll": lambda: HyperLogLog(),
    "cms": lambda: CountMinSketch(1e-3, 0.01),
    "theta": lambda: ThetaSketch(),
    "token_family": lambda: agg.token_family_over_tokens().factory().sketch,
    "top_k_sink": agg._CandidateSink,
}


@pytest.mark.parametrize("dtype", [np.int32, np.int64])
@pytest.mark.parametrize("kind", sorted(_DEDUP_SKETCHES))
def test_token_dedup_sparse_mode_matches_dense_reference(kind, dtype):
    """Sparse mode must push the dense flush's exact (id, count) stream:
    for streams that stay sparse, stay dense, or turn dense midway, the
    wrapped sketch's bytes and approx_items equal a dense-only
    reference's."""
    make = _DEDUP_SKETCHES[kind]
    for name, batches, mode in _dedup_streams(dtype):
        acc = agg.TokenDedupAccumulator(make())
        for b in batches:
            acc.add_ints(b)
        assert (acc._counts is None) == (mode == "sparse"), (kind, name)
        got = acc.finish()
        ref = _dense_reference(make(), batches, takes_counts(got))
        if kind == "top_k_sink":
            assert np.array_equal(got._ids, ref._ids), name
            assert np.array_equal(got._counts, ref._counts), name
            continue
        assert got.to_bytes() == ref.to_bytes(), (kind, name)
        assert getattr(got, "approx_items", None) == getattr(ref, "approx_items", None), (kind, name)


def test_token_dedup_counts_reach_every_weighted_part():
    """The accumulator passes each id's count to every sketch that
    takes counts, inside a MultiSketch too, by the one rule
    (``hashing.takes_counts``)."""
    ids = np.array([7] * 100 + [8] * 3, np.int64)
    acc = agg.TokenDedupAccumulator(MultiSketch([CountSketch(), CountMinSketch()]))
    acc.add_ints(ids)
    for part in acc.finish().parts:
        assert part.estimate_ints([7, 8]).tolist() == [100, 3], type(part).__name__
    sink = agg.TokenDedupAccumulator(agg._CandidateSink())
    sink.add_ints(ids)
    assert takes_counts(sink.sketch)
    assert sorted(zip(*sink.finish().top(2))) == [(7, 100), (8, 3)]
    cbf = agg.TokenDedupAccumulator(CountingBloomFilter(1000, 0.01))
    cbf.add_ints(ids)
    assert not takes_counts(cbf.sketch)
    assert cbf.finish().count_ints([7, 8]).tolist() == [1, 1]


def test_token_dedup_sparse_buffer_survives_caller_reuse():
    """Sparse mode holds ids until flush, so it must not alias an array
    the caller refills between calls."""
    buf = np.empty(2, np.int64)
    acc = agg.TokenDedupAccumulator(agg._CandidateSink())
    for batch in ([5, 40_000], [7, 30_000]):
        buf[:] = batch
        acc.add_ints(buf)
    assert acc.finish()._ids.tolist() == [5, 7, 30_000, 40_000]


def test_token_spec_over_strings_equals_plain_spec(spark):
    """A token spec over a list<string> column inserts the strings into
    the wrapped sketch: the bytes of the plain spec over that column."""
    df = spark.createDataFrame(
        [(["a", "b", None],), (None,), (["b", "", "c"],), ([f"w{i}" for i in range(300)],)],
        "tokens array<string>")
    tok = agg.aggregate_sketch(df, agg.hll_over_tokens("tokens"))
    plain = agg.aggregate_sketch(df, agg.SketchSpec("tokens", HyperLogLog))
    assert tok.to_bytes() == plain.to_bytes()
    assert abs(tok.estimate() - 304) < 304 * 3 * tok.relative_error  # a, b, '', c, w0..w299


def test_string_column_into_an_id_sink_names_the_column():
    spec = agg.SketchSpec("words", lambda: agg.TokenDedupAccumulator(agg._CandidateSink()))
    batch = pa.record_batch([pa.array([["a", "b"]], pa.list_(pa.string()))], names=["words"])
    with pytest.raises(TypeError, match="column 'words'.*integer keys only"):
        spec.update(spec.factory(), batch)


# ---- SketchSpec type dispatch (Spark-free) ------------------------------------

# three batches per Arrow input type, NULLs included
_RAW = {
    "list<int>": ([[3, 1, None, 3], None, [7]], [[2**20 + 5, 1], [], [None]], [[9, 9, 9], [4]]),
    "int": ([5, None, 2**53 + 1], [None, None], [-7, 0, 11]),
    "string": (["a", None, "b", ""], ["b", "c"], [None]),
    "float": ([1.5, None, 2.0], [0.25, 3.0], [None, 8.0]),
    "list<float>": ([[1.0, 0.0], None, [0.5, 2.0]], [[3.0, -1.0]], [None]),
}
_ARROW_TYPES = {
    "list<int>": pa.list_(pa.int32()), "int": pa.int64(), "string": pa.string(),
    "float": pa.float64(), "list<float>": pa.list_(pa.float64()),
}


def _native(arrow_type, rows):
    """A batch's non-null values in the form the sketch's own insert
    method takes, built from the Python lists (not through Arrow)."""
    rows = [r for r in rows if r is not None]
    if arrow_type == "list<int>":
        return np.array([x for r in rows for x in r if x is not None], dtype=np.int64)
    if arrow_type == "int":
        return np.array(rows, dtype=np.int64)
    if arrow_type == "string":
        return pd.Series(rows, dtype=object)
    if arrow_type == "float":
        return np.array(rows, dtype=np.float64)
    return np.array(rows, dtype=np.float64).reshape(-1, 2)


def _family():
    return MultiSketch([BloomFilter(1000, 0.01), CountMinSketch(0.01, 0.05), HyperLogLog(10)])


def _dedup(make):
    return lambda: agg.TokenDedupAccumulator(make())


# (sketch kind, Arrow input type, factory, own insert method): every pair
# a retired ``*_over_*`` factory served
_DISPATCH = [
    *[(kind, "list<int>", _dedup(make), "add_ints") for kind, make in [
        ("bloom", lambda: BloomFilter(1000, 0.01)),
        ("sbbf", lambda: SplitBlockBloomFilter(1000, 0.01)),
        ("hll", lambda: HyperLogLog(10)),
        ("cms", lambda: CountMinSketch(0.01, 0.05)),
        ("theta", lambda: ThetaSketch(64)),
        ("family", _family)]],
    ("mg", "list<int>", lambda: MisraGries(4), "add_ints"),
    *[(kind, "int", make, "add_ints") for kind, make in [
        ("bloom", lambda: BloomFilter(1000, 0.01)),
        ("sbbf", lambda: SplitBlockBloomFilter(1000, 0.01)),
        ("cbf", lambda: CountingBloomFilter(1000, 0.01)),
        ("cms", lambda: CountMinSketch(0.01, 0.05)),
        ("countsketch", lambda: CountSketch(64, 3))]],
    *[(kind, "string", make, "add_strings") for kind, make in [
        ("bloom", lambda: BloomFilter(1000, 0.01)),
        ("sbbf", lambda: SplitBlockBloomFilter(1000, 0.01)),
        ("cbf", lambda: CountingBloomFilter(1000, 0.01)),
        ("hll", lambda: HyperLogLog(10)),
        ("cms", lambda: CountMinSketch(0.01, 0.05)),
        ("countsketch", lambda: CountSketch(64, 3)),
        ("theta", lambda: ThetaSketch(64)),
        ("mg", lambda: MisraGries(4))]],
    *[(kind, "float", make, "add") for kind, make in [
        ("kll", lambda: KLLSketch(8)),
        ("tdigest", lambda: TDigest(50)),
        ("moments", lambda: MomentsSketch(-1.0, 10.0)),
        ("ddsketch", lambda: DDSketch(0.05))]],
    ("fd", "list<float>", lambda: FrequentDirections(2, 2), "add"),
    ("gram", "list<float>", lambda: ExactGram(2), "add"),
]


@pytest.mark.parametrize(
    "kind,arrow_type,make,method", _DISPATCH,
    ids=[f"{k}-{t}" for k, t, _, _ in _DISPATCH])
def test_sketch_spec_update_matches_native_insert(kind, arrow_type, make, method):
    """SketchSpec.update picks the insert path from the column's Arrow
    type and skips NULLs: over three batches (NULLs inside lists and
    NULL rows included) it yields the bytes of calling the sketch's own
    insert method on each batch's non-null values."""
    spec = agg.SketchSpec("c", make)
    got, want = spec.factory(), make()
    for rows in _RAW[arrow_type]:
        batch = pa.RecordBatch.from_arrays([pa.array(rows, _ARROW_TYPES[arrow_type])], ["c"])
        spec.update(got, batch)
        getattr(want, method)(_native(arrow_type, rows))
    assert agg._unwrap(got).to_bytes() == agg._unwrap(want).to_bytes()


def test_sketch_spec_real_nan_still_reaches_the_sketch():
    """Only NULLs are dropped: a real NaN is the sketch's to handle, as
    on direct use (DDSketch rejects it, KLL skips it)."""
    batch = pa.RecordBatch.from_arrays([pa.array([1.0, float("nan"), None])], ["c"])
    with pytest.raises(ValueError, match="NaN"):
        agg.SketchSpec("c", DDSketch).update(DDSketch(), batch)
    kll = KLLSketch()
    agg.SketchSpec("c", KLLSketch).update(kll, batch)
    assert kll.n == 1


@pytest.mark.parametrize("make", [
    lambda: BloomFilter(1000, 0.01), lambda: SplitBlockBloomFilter(1000, 0.01),
    lambda: CountingBloomFilter(1000, 0.01), HyperLogLog, lambda: CountMinSketch(0.01, 0.05),
    lambda: ThetaSketch(64), lambda: MisraGries(4), lambda: CountSketch(64, 3),
    lambda: agg.TokenDedupAccumulator(HyperLogLog(10)), _XorKeyCollector,
], ids=["bloom", "sbbf", "cbf", "hll", "cms", "theta", "mg", "countsketch", "dedup", "xor"])
def test_sketch_spec_rejects_floats_into_hash_sketch(make):
    """A hash sketch has no float insert: a floating column (or a list
    of floats) is a TypeError, not a one-element ``add(array)`` that
    inserts ``str(array)`` or an AttributeError."""
    for arr in (pa.array([1.0, None, 3.0]), pa.array([[1.0], None], pa.list_(pa.float64()))):
        batch = pa.RecordBatch.from_arrays([arr], ["c"])
        with pytest.raises(TypeError, match="cast it to an integer or string"):
            agg.SketchSpec("c", make).update(make(), batch)


def test_sketch_spec_rejects_ragged_or_null_vectors():
    """A vector with a NULL element or the wrong length cannot become an
    (m, d) matrix row: loud error, not a silently shifted matrix."""
    for rows in ([[1.0, None]], [[1.0, 2.0, 3.0]]):
        batch = pa.RecordBatch.from_arrays([pa.array(rows, pa.list_(pa.float64()))], ["c"])
        with pytest.raises(ValueError, match="ragged or null"):
            agg.SketchSpec("c", lambda: ExactGram(2)).update(ExactGram(2), batch)
