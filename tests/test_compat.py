"""Reference-parity tests over the compat surface, mirroring the
golden-answer SQL queries of TestBloomFilterQueries.java:48-136."""

import pytest

from pyspark.sql import functions as F

from presto_bloomfilter_spark import compat
from presto_bloomfilter_spark.functions.bloom import BloomFilter


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [("alice",), ("bob",), ("carol",), (None,), ("",)], "name string"
    )


def test_empty_and_null_elements_ignored(spark, names):
    """bloom_filter('')/bloom_filter(NULL) produce an empty filter
    (TestBloomFilterQueries.java:53-56; BloomFilter.java:161-167)."""
    empty = names.filter(F.col("name") == "")
    bf = compat.bloom_filter(empty, "name", 1000, 0.01)
    assert bf.bits_set == 0
    assert not bf.might_contain("anything")


def test_contains_positive_negative(spark, names):
    bf = compat.bloom_filter(names, "name", 1000, 0.01)
    probed = names.withColumn("hit", compat.bloom_filter_contains(spark, bf, "name"))
    rows = {r.name: r.hit for r in probed.collect()}
    assert rows["alice"] and rows["bob"] and rows["carol"]
    assert rows[None] is False  # null element → false (scalar fn contract)
    miss = spark.createDataFrame([("zebra-xyz",)], "name string")
    assert not miss.withColumn(
        "hit", compat.bloom_filter_contains(spark, bf, "name")
    ).collect()[0].hit


def test_int_column_build_probes_with_contains(spark):
    """The reference's bloom_filter takes varchar: an int column is
    built and probed as its strings, so bloom_filter_contains finds
    every key instead of missing them all."""
    ids = spark.createDataFrame([(1,), (42,), (None,), (2**40,)], "id bigint")
    bf = compat.bloom_filter(ids, "id", 1000, 0.01)
    hits = ids.filter(F.col("id").isNotNull()).withColumn(
        "hit", compat.bloom_filter_contains(spark, bf, "id")).collect()
    assert len(hits) == 3 and all(r.hit for r in hits)
    assert bf.might_contain("42")


def test_custom_params_roundtrip(spark, names):
    """params survive serialization and read back via the header
    (TestBloomFilterQueries params query; get_* scalar fns)."""
    bf = compat.bloom_filter(names, "name", 12345, 0.007)
    blob = bf.to_bytes()
    assert compat.get_expected_insertions(blob) == 12345
    assert compat.get_false_positive_percentage(blob) == 0.007
    assert compat.get_expected_insertions(bf) == 12345


def test_from_string_merges_prebuilt_filters(spark):
    """bloom_filter_from_string aggregation = union of pre-built
    filters (BloomFilterFromString.java:23-38)."""
    a = BloomFilter(1000, 0.01).add("x1").add("x2")
    b = BloomFilter(1000, 0.01).add("y1")
    df = spark.createDataFrame([(compat.to_string(a),), (compat.to_string(b),)], "s string")
    merged = compat.bloom_filter_from_string(df, "s")
    for el in ("x1", "x2", "y1"):
        assert merged.might_contain(el)
    assert not merged.might_contain("z-absent")


def test_persist_and_load_roundtrip(tmp_path, spark, names):
    """persist → load → membership preserved (reference
    TestBloomFilterQueries.java:98-136 against the HTTP service)."""
    bf = compat.bloom_filter(names, "name", 1000, 0.01)
    p1 = str(tmp_path / "vips")
    assert compat.bloom_filter_persist(bf, p1)
    other = BloomFilter(1000, 0.01).add("dave")
    p2 = str(tmp_path / "extra")
    compat.bloom_filter_persist(other, p2)

    loaded = compat.bloom_filter_load(p1)
    assert loaded.might_contain("alice")
    merged = compat.bloom_filter_load([p1, p2])
    assert merged.might_contain("alice") and merged.might_contain("dave")


def test_grouped_bloom_filter(spark):
    df = spark.createDataFrame(
        [("a", "k1"), ("a", "k2"), ("b", "k3")], "g string, v string"
    )
    per = {r.g: r.sketch for r in compat.bloom_filter(df, "v", 1000, 0.01, group_by="g").collect()}
    from presto_bloomfilter_spark import sketch_from_bytes

    assert sketch_from_bytes(per["a"]).might_contain("k1")
    assert not sketch_from_bytes(per["b"]).might_contain("k1")


def test_to_string_col_matches_driver_side(spark, names):
    bf = compat.bloom_filter(names, "name", 1000, 0.01)
    df = spark.createDataFrame([(bf.to_bytes(),)], "sketch binary")
    jvm_b64 = df.select(compat.to_string_col("sketch").alias("s")).collect()[0].s
    assert jvm_b64 == compat.to_string(bf)


def test_sql_surface_scalar_functions(spark):
    """The reference's scalar functions usable from spark.sql TEXT
    (reference README.md:21-29 probe shape; BloomFilterPlugin.java:42-55
    registration)."""
    from presto_bloomfilter_spark.functions.bloom import BloomFilter

    compat.register_sql_functions(spark)
    bf = BloomFilter(1000, 0.01).add_strings(["alice", "bob"])
    compat.publish_sketch_view(spark, bf, "tv_bf")
    row = spark.sql(
        """
        SELECT bloom_filter_contains((SELECT bf FROM tv_bf), 'alice') AS hit,
               bloom_filter_contains((SELECT bf FROM tv_bf), 'not-there-xyz') AS miss,
               get_expected_insertions((SELECT bf FROM tv_bf)) AS n,
               get_false_positive_percentage((SELECT bf FROM tv_bf)) AS p,
               to_string((SELECT bf FROM tv_bf)) AS s
        """
    ).collect()[0]
    assert row.hit is True
    assert row.miss is False
    assert row.n == 1000
    assert row.p == 0.01
    assert row.s == compat.to_string(bf)
    # decode path: from_string(to_string(bf)) probes identically
    rt = spark.sql(
        "SELECT bloom_filter_contains(bloom_filter_from_string((SELECT s FROM "
        "(SELECT to_string((SELECT bf FROM tv_bf)) AS s))), 'bob') AS hit"
    ).collect()[0]
    assert rt.hit is True


def test_sql_sketch_estimate_family_generic(spark):
    """sketch_estimate(blob) works on ANY PBFS family from SQL text and
    NULL blobs yield NULL."""
    from presto_bloomfilter_spark import CountMinSketch, HyperLogLog

    compat.register_sql_functions(spark)
    hll = HyperLogLog().add_strings([f"u{i}" for i in range(1000)])
    cms = CountMinSketch(eps=1e-3).add_ints([1, 2, 3], counts=[5, 6, 7])
    compat.publish_sketch_view(spark, hll, "tv_hll")
    compat.publish_sketch_view(spark, cms, "tv_cms")
    row = spark.sql(
        """
        SELECT sketch_estimate((SELECT bf FROM tv_hll)) AS hll_est,
               sketch_estimate((SELECT bf FROM tv_cms)) AS cms_n,
               sketch_estimate(CAST(NULL AS binary)) AS nul
        """
    ).collect()[0]
    assert row.hll_est == float(hll.estimate())
    assert row.cms_n == 18.0  # CMS estimate() = total stream weight
    assert row.nul is None


def test_sql_aggregate_udafs(spark):
    """The reference's AGGREGATE surface from SQL text: bloom_filter /
    bloom_filter_sized / hll_sketch / sketch_merge as grouped-agg
    pandas UDFs (round 3 documented this as impossible; pyspark 4.x
    grouped-agg registration does it)."""
    import pandas as pd

    from presto_bloomfilter_spark.functions.serialization import (
        read_params,
        sketch_from_bytes,
    )

    compat.register_sql_functions(spark)
    spark.createDataFrame(
        [(i, f"g{i % 3}", f"k{i}") for i in range(90)],
        "id long, g string, k string").createOrReplaceTempView("tv_agg")
    rows = spark.sql(
        "SELECT g, bloom_filter_sized(k, 1000, 0.01) AS bf, "
        "hll_sketch(k) AS h FROM tv_agg GROUP BY g").collect()
    assert len(rows) == 3
    for r in rows:
        bf = sketch_from_bytes(bytes(r.bf))
        assert all(bf.might_contain_strings(
            pd.Series([f"k{i}" for i in range(90) if i % 3 == int(r.g[1])])))
        h = sketch_from_bytes(bytes(r.h))
        assert abs(h.estimate() - 30) <= 3
    # default-parameter form carries the reference defaults (n=10M)
    one = spark.sql(
        "SELECT bloom_filter(k) AS bf FROM tv_agg LIMIT 1").collect()[0]
    assert read_params(bytes(one.bf))["n"] == 10_000_000
    # sketch_merge re-aggregates the pre-built per-group blobs (the
    # reference's bloom_filter(bf) over prebuilt filters)
    spark.sql(
        "SELECT g, bloom_filter_sized(k, 1000, 0.01) AS bf FROM tv_agg "
        "GROUP BY g").createOrReplaceTempView("tv_blobs")
    merged = spark.sql(
        "SELECT sketch_merge(bf) AS m FROM tv_blobs").collect()[0]
    msk = sketch_from_bytes(bytes(merged.m))
    assert all(msk.might_contain_strings(
        pd.Series([f"k{i}" for i in range(90)])))


def test_sql_sketch_quantile(spark):
    """sketch_quantile(blob, q) queries KLL/t-digest from SQL text;
    non-quantile families fail loud."""
    from presto_bloomfilter_spark import KLLSketch

    compat.register_sql_functions(spark)
    kll = KLLSketch().add(list(range(1001)))
    compat.publish_sketch_view(spark, kll, "tv_kll")
    row = spark.sql(
        "SELECT sketch_quantile((SELECT bf FROM tv_kll), 0.5) AS med, "
        "sketch_quantile((SELECT bf FROM tv_kll), CAST(NULL AS DOUBLE)) AS nul"
    ).collect()[0]
    assert row.med == float(kll.quantile(0.5))
    assert row.nul is None
    from presto_bloomfilter_spark import HyperLogLog

    compat.publish_sketch_view(spark, HyperLogLog().add_strings(["x"]), "tv_h2")
    with pytest.raises(Exception, match="quantile sketch"):
        spark.sql(
            "SELECT sketch_quantile((SELECT bf FROM tv_h2), 0.5)").collect()


def test_sql_contains_null_filter_is_null(spark):
    """SQL semantics (and the reference's @SqlNullable scalar,
    BloomFilterContainsScalarFunction.java:33-42): a NULL filter
    argument yields NULL, never false."""
    compat.register_sql_functions(spark)
    row = spark.sql(
        "SELECT bloom_filter_contains(CAST(NULL AS binary), 'alice') AS r"
    ).collect()[0]
    assert row.r is None
    # mixed batch: null rows -> NULL, real rows still probe
    from presto_bloomfilter_spark.functions.bloom import BloomFilter

    bf = BloomFilter(100, 0.01).add_strings(["alice"])
    compat.publish_sketch_view(spark, bf, "tv_bf_null")
    rows = spark.sql(
        """
        SELECT bloom_filter_contains(
                 CASE WHEN id = 1 THEN NULL ELSE (SELECT bf FROM tv_bf_null) END,
                 'alice') AS r, id
        FROM RANGE(3) ORDER BY id
        """
    ).collect()
    assert [r.r for r in rows] == [True, None, True]


def test_sql_surface_varchar_rule_matches_python_api(spark):
    """A bigint column with NULLs through SQL bloom_filter / hll_sketch /
    bloom_filter_contains equals the Python API on the same column (the
    ints are built and probed as their decimal strings, 2^53+1 exactly);
    a double element is a loud TypeError that says CAST."""
    from presto_bloomfilter_spark import HyperLogLog

    compat.register_sql_functions(spark)
    big = 2**53 + 1
    vals = [big, None, 5, -7, None, 123456789012]
    df = spark.createDataFrame(list(enumerate(vals)), "id bigint, v bigint").coalesce(1)
    df.createOrReplaceTempView("tv_varchar")
    bf = compat.bloom_filter(df, "v", 1000, 0.001)
    row = spark.sql("SELECT bloom_filter_sized(v, 1000, 0.001) AS bf, bloom_filter(v) AS d, "
                    "hll_sketch(v) AS h FROM tv_varchar").collect()[0]
    assert bytes(row.bf) == bf.to_bytes()
    assert bytes(row.d) == compat.bloom_filter(df, "v").to_bytes()
    strs = [str(v) for v in vals if v is not None]
    assert bytes(row.h) == HyperLogLog().add_strings(strs).to_bytes()

    compat.publish_sketch_view(spark, bf, "tv_varchar_bf")
    probe = spark.createDataFrame(list(enumerate(vals + [2**53, 999])), "id bigint, v bigint")
    probe.createOrReplaceTempView("tv_varchar_probe")
    sql = {r.id: r.hit for r in spark.sql(
        "SELECT id, bloom_filter_contains((SELECT bf FROM tv_varchar_bf), v) AS hit "
        "FROM tv_varchar_probe").collect()}
    api = {r.id: r.hit for r in probe.select(
        "id", compat.bloom_filter_contains(spark, bf, "v").alias("hit")).collect()}
    assert sql == api
    assert [sql[i] for i in range(len(vals))] == [v is not None for v in vals]

    for q in ["SELECT bloom_filter_contains((SELECT bf FROM tv_varchar_bf), "
              "CAST(v AS DOUBLE)) FROM tv_varchar",
              "SELECT hll_sketch(CAST(v AS DOUBLE)) FROM tv_varchar"]:
        with pytest.raises(Exception, match="CAST"):
            spark.sql(q).collect()


def test_sql_contains_picks_each_rows_filter(spark):
    """'' and NULL elements probe false, a NULL blob gives NULL, and two
    different filters chosen per row with CASE inside one batch each
    probe against their own filter."""
    compat.register_sql_functions(spark)
    compat.publish_sketch_view(spark, BloomFilter(100, 0.001).add_strings(["a"]), "tv_case_a")
    compat.publish_sketch_view(spark, BloomFilter(100, 0.001).add_strings(["b"]), "tv_case_b")
    spark.createDataFrame(
        [(0, "a", "a"), (1, "b", "a"), (2, "a", "b"), (3, "b", "b"),
         (4, None, "a"), (5, "a", ""), (6, "b", None), (7, "a", "a")],
        "id int, f string, el string").coalesce(1).createOrReplaceTempView("tv_case_rows")
    rows = spark.sql(
        """
        SELECT id, bloom_filter_contains(
                 CASE WHEN f = 'a' THEN (SELECT bf FROM tv_case_a)
                      WHEN f = 'b' THEN (SELECT bf FROM tv_case_b) END, el) AS r
        FROM tv_case_rows
        """).collect()
    assert {r.id: r.r for r in rows} == {0: True, 1: False, 2: False, 3: True,
                                         4: None, 5: False, 6: False, 7: True}


def test_probe_metrics_miss_rate(spark):
    """Mirror of the reference's probe-counter sanity (reference
    TestBloomFilterPerformanceContains.java:42): build over half the
    keys, probe all, expect ~50% misses and an exact probe count."""
    from presto_bloomfilter_spark.operators.probe import ProbeMetrics, contains_udf
    from pyspark.sql import functions as F

    n = 2000
    df = spark.range(n).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    keys = spark.range(0, n, 2).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    bf = compat.bloom_filter(keys, "k", 10_000, 0.01)
    m = ProbeMetrics(spark)
    probed = df.withColumn("hit", contains_udf(spark, bf, metrics=m)(F.col("k")))
    n_hits = probed.agg(F.sum(F.col("hit").cast("long"))).collect()[0][0]
    assert m.probe_count == n
    assert m.miss_count == n - n_hits
    # no false negatives: every inserted key hits, so misses <= n/2;
    # FPR 0.01 bounds how far below n/2 the misses can fall
    assert 0.45 <= m.miss_rate <= 0.5, m.as_dict()


def test_bloom_filter_load_http(tmp_path):
    """bloom_filter_load over http(s) — reference BloomFilter.fromUrl
    (BloomFilter.java:116-138) against a local server, raw and base64
    bodies (the persist-service wire form)."""
    import http.server
    import threading

    from presto_bloomfilter_spark.functions.bloom import BloomFilter

    bf = BloomFilter(1000, 0.01).add_strings(["x", "y"])
    (tmp_path / "raw.sketch").write_bytes(bf.to_bytes())
    (tmp_path / "b64.sketch").write_text(bf.to_base64())

    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
        *a, directory=str(tmp_path), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        got_raw = compat.bloom_filter_load(f"http://127.0.0.1:{port}/raw.sketch")
        got_b64 = compat.bloom_filter_load(f"http://127.0.0.1:{port}/b64.sketch")
        assert got_raw == bf and got_b64 == bf
        # merge of a URL and a store path, as the aggregation form does
        store_p = tmp_path / "local.sketch"
        bf2 = BloomFilter(1000, 0.01).add_strings(["z"])
        compat.bloom_filter_persist(bf2, str(store_p))
        merged = compat.bloom_filter_load(
            [f"http://127.0.0.1:{port}/raw.sketch", str(store_p)]
        )
        assert merged.might_contain("x") and merged.might_contain("z")
    finally:
        srv.shutdown()


def test_sql_cms_and_kll_aggregates(spark, sf_dir):
    """The sibling sketches exist as SQL-text aggregates too: build in
    GROUP BY, decode with the registered scalar surface."""
    from pyspark.sql import functions as F

    from presto_bloomfilter_spark import compat

    compat.register_sql_functions(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("cmpt_docs")
    rows = spark.sql("""
        SELECT source,
               sketch_quantile(kll_sketch(CAST(n_chars AS DOUBLE)), 0.5) AS med
        FROM cmpt_docs GROUP BY source
    """).collect()
    exact = {r["source"]: r["m"] for r in docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("m")).collect()}
    assert len(rows) == len(exact)
    for r in rows:
        assert abs(r.med - exact[r.source]) / max(exact[r.source], 1) < 0.1
    blob = spark.sql(
        "SELECT cms_sketch(lang) AS b FROM cmpt_docs").collect()[0].b
    from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
    cms = sketch_from_bytes(bytes(blob))
    top_lang, top_n = docs.groupBy("lang").count().orderBy(
        F.desc("count")).first()
    est = cms.estimate_strings([top_lang])[0]
    assert top_n <= est <= top_n * 1.05 + 50


def test_sql_new_family_scalars(spark):
    """Round-5 families through the same SQL scalar surface: DDSketch
    answers sketch_quantile / sketch_estimate, Count-Sketch answers
    sketch_f2, and sketch_f2 is loud on a non-F2 family."""
    import numpy as np
    import pytest as _pytest

    from presto_bloomfilter_spark import CountSketch, DDSketch

    compat.register_sql_functions(spark)
    dds = DDSketch(alpha=0.01).add(np.arange(1.0, 2001.0))
    cs = CountSketch(width=1024, depth=5).add_strings(
        [f"w{i % 50}" for i in range(3000)])
    compat.publish_sketch_view(spark, dds, "tv_dds")
    compat.publish_sketch_view(spark, cs, "tv_cs")
    row = spark.sql(
        """
        SELECT sketch_quantile((SELECT bf FROM tv_dds), 0.5) AS med,
               sketch_estimate((SELECT bf FROM tv_dds)) AS n,
               sketch_f2((SELECT bf FROM tv_cs)) AS f2,
               sketch_f2(CAST(NULL AS binary)) AS nul
        """
    ).collect()[0]
    assert row.med == float(dds.quantile(0.5))
    assert row.n == 2000.0
    assert row.f2 == cs.f2()
    assert row.nul is None
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException
    with _pytest.raises((Py4JJavaError, PythonException)):
        spark.sql("SELECT sketch_f2((SELECT bf FROM tv_dds)) AS x").collect()


def test_published_view_reference_is_invisible_to_callers(spark, tmp_path):
    """A published view holds a by-reference blob, and every SQL scalar
    over it returns exactly what it returns over the literal full blob;
    a collected view value persists as the full blob; two sketches
    published one after the other under one view name, or under two
    names read in one query, each probe correctly; publishing one
    sketch twice ships one file."""
    import numpy as np

    from presto_bloomfilter_spark import CountMinSketch, CountSketch, HyperLogLog, KLLSketch
    from presto_bloomfilter_spark.functions import serialization as ser

    compat.register_sql_functions(spark)
    sketches = {
        "tv_ref_bf": BloomFilter(1000, 0.01).add_strings(["alice", "bob"]),
        "tv_ref_hll": HyperLogLog().add_strings([f"u{i}" for i in range(500)]),
        "tv_ref_cms": CountMinSketch(eps=1e-2).add_strings(["a", "b", "a"]),
        "tv_ref_kll": KLLSketch().add(np.arange(1.0, 1001.0)),
        "tv_ref_cs": CountSketch(width=256, depth=3).add_strings(["w", "w", "x"]),
    }
    scalars = {
        "to_string": "to_string({})",
        "sketch_estimate": "sketch_estimate({})",
        "sketch_merge": "sketch_merge({})",
        "get_expected_insertions": "get_expected_insertions({})",
        "get_false_positive_percentage": "get_false_positive_percentage({})",
        "sketch_quantile": "sketch_quantile({}, 0.5)",
        "sketch_f2": "sketch_f2({})",
    }
    applies = {"get_expected_insertions": {"tv_ref_bf"},
               "get_false_positive_percentage": {"tv_ref_bf"},
               "sketch_quantile": {"tv_ref_kll"}, "sketch_f2": {"tv_ref_cs"}}
    for view, sk in sketches.items():
        compat.publish_sketch_view(spark, sk, view)
        full = sk.to_bytes()
        ref = bytes(spark.table(view).first().bf)
        assert ref != full and len(ref) < 256
        assert ser.read_params(ref) == ser.read_params(full)
        for fn, expr in scalars.items():
            if view not in applies.get(fn, {view}):
                continue
            published = spark.sql(
                f"SELECT {expr.format('bf')} AS v FROM {view}").first().v
            literal = spark.sql(
                f"SELECT {expr.format(f'X{full.hex()!r}')} AS v").first().v
            assert published == literal, (view, fn)
            if fn in ("to_string", "sketch_merge"):
                assert published == (compat.to_string(full) if fn == "to_string"
                                     else bytearray(full)), (view, fn)
        path = str(tmp_path / view)
        compat.bloom_filter_persist(spark.table(view).first().bf, path)
        with open(path + ".sketch", "rb") as f:
            assert f.read() == full

    a = BloomFilter(100, 0.001).add_strings(["only-a"])
    b = BloomFilter(100, 0.001).add_strings(["only-b"])
    probe = ("SELECT bloom_filter_contains((SELECT bf FROM tv_ref_swap), 'only-a') AS a, "
             "bloom_filter_contains((SELECT bf FROM tv_ref_swap), 'only-b') AS b")
    compat.publish_sketch_view(spark, a, "tv_ref_swap")
    assert tuple(spark.sql(probe).first()) == (True, False)
    compat.publish_sketch_view(spark, b, "tv_ref_swap")
    assert tuple(spark.sql(probe).first()) == (False, True)
    compat.publish_sketch_view(spark, a, "tv_ref_a")
    assert tuple(spark.sql(
        "SELECT bloom_filter_contains((SELECT bf FROM tv_ref_a), 'only-a') AS a, "
        "bloom_filter_contains((SELECT bf FROM tv_ref_swap), 'only-a') AS b").first()
    ) == (True, False)

    name, _ = ser._by_reference(a.to_bytes())
    compat.publish_sketch_view(spark, a, "tv_ref_again")
    assert sum(f.endswith("/" + name) for f in spark.sparkContext.listFiles) == 1
