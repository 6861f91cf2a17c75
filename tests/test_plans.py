"""Physical-plan assertions: the scale properties SURVEY §4 promises
(pushdown, pruning, broadcast, no stray shuffles) must be visible in
`.explain`, not just intended."""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.util import PythonEvalType

from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.probe import bloom_semi_join
from presto_bloomfilter_spark.plans import queries as Q
from presto_bloomfilter_spark.sources.corpus import load_tokens
from presto_bloomfilter_spark.sources.tables import load_table


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(Q.q_pricing_summary(spark, sf_dir))
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), plan
    # the scan must not read all 16 lineitem columns for a 7-column agg
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 7, read_cols
    assert "l_comment" not in read_cols


def test_sketch_build_scan_prunes_to_spec_columns(spark, sf_dir):
    # another module may have .cache()d this table: a matching cached
    # plan would swap in InMemoryTableScan and hide the parquet scan
    spark.catalog.clearCache()
    tokens = load_tokens(spark, sf_dir)
    pruned = tokens.select(*agg.hll_over_tokens("tokens").columns)
    plan = _plan(pruned)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    assert m.group(1).split(":")[0] == "tokens", m.group(1)
    assert "doc_id" not in m.group(1)


def test_top_customers_uses_broadcast_join(spark, sf_dir):
    plan = _plan(Q.q_top_customers(spark, sf_dir))
    # customer side is small → Catalyst must broadcast, not shuffle both
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_bloom_semi_join_probe_side_has_no_shuffle(spark, sf_dir):
    """The bloom pre-filter (``exact=False``) is a map-only pipeline on
    the probe side: the probe UDF inside the scan's stage and no
    Exchange over the probe table's rows."""
    tokens = load_tokens(spark, sf_dir)
    build = tokens.filter(F.col("source") == "books").select("doc_id")
    out = bloom_semi_join(spark, tokens, "doc_id", build, "doc_id",
                          expected_insertions=10_000, exact=False)
    plan = _plan(out)
    assert _PROBE_NODE.search(plan), plan
    for m in re.finditer(r"\(\d+\) Exchange\n((?:.+\n)+?)\n", plan):
        body = m.group(1)
        assert "tokens" not in body and "n_tok" not in body, body


def test_bigint_bloom_semi_join_probes_the_raw_key(spark, sf_dir):
    """An integer key pair hashes natively: the probe UDF reads the raw
    bigint column, with no JVM string cast beneath it."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100_000)
    plan = _plan(bloom_semi_join(spark, lineitem, "l_orderkey", orders, "o_orderkey",
                                 expected_insertions=10_000, exact=False))
    assert re.search(r"Arguments: \[probe\(l_orderkey#\d+L\)#\d+\]", plan), plan
    assert "as string" not in plan, plan


def _sketch_jobs(spark, call):
    """``call()`` under a fresh job group: its result and the number of
    Spark jobs it ran before any action on that result."""
    import uuid

    sc = spark.sparkContext
    group = f"semi-join-plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "semi join plan choice")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_PROBE_NODE = re.compile(r"ArrowEvalPython|MapInArrow")


def _exact_semi_join_plan(spark, semi_joins, kind, tmp_path):
    """The plan of an exact semi join of 200 string keys against every
    third one, after checking that the call ran no Spark job, that no
    probe UDF sits in the plan, that nothing was persisted and that the
    result is the exact semi join."""
    probe = spark.range(200).select(F.col("id").cast("string").alias("k"))
    build = spark.range(0, 200, 3).select(F.col("id").cast("string").alias("k"))
    out, jobs = _sketch_jobs(spark, lambda: semi_joins[kind](probe, "k", build, "k"))
    plan = _plan(out)
    assert jobs == 0
    assert not _PROBE_NODE.search(plan), plan
    assert not (tmp_path / "fam").exists()
    assert out.count() == 67
    return plan


@pytest.mark.parametrize("kind", ["bloom", "sbbf", "xor", "sharded"])
def test_exact_semi_join_verify_is_not_forced_to_broadcast(spark, tmp_path, semi_joins, kind):
    """``exact=True`` is the plain semi join with no join hint: with
    broadcasting switched off no BroadcastExchange may carry the build
    keys (a forced broadcast of a build side too large for one executor
    is the failure this rules out), and no sketch is built."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        plan = _exact_semi_join_plan(spark, semi_joins, kind, tmp_path)
    finally:
        spark.conf.set(conf, old)
    assert "LeftSemi" in plan, plan
    assert "BroadcastExchange" not in plan, plan


@pytest.mark.parametrize("kind", ["bloom", "sbbf", "xor", "sharded"])
def test_small_build_side_gets_a_plain_broadcast_semi_join(spark, tmp_path, semi_joins, kind):
    """At the session's default threshold Catalyst broadcasts a small
    build side of the plain semi join: a ``BroadcastHashJoin`` and no
    sketch built, broadcast or persisted."""
    plan = _exact_semi_join_plan(spark, semi_joins, kind, tmp_path)
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan


@pytest.mark.parametrize("kind", ["bloom", "sbbf", "xor", "sharded"])
def test_inexact_semi_join_is_the_sketch_prefilter(spark, semi_joins, kind):
    """``exact=False`` builds the sketch when called and probes it in
    the plan, with no join: its result is a superset of the semi join
    that an exact semi join cuts back to it."""
    probe = spark.range(200).select(F.col("id").alias("k"))
    build = spark.range(0, 200, 3).select(F.col("id").alias("k"))
    out, jobs = _sketch_jobs(spark, lambda: semi_joins[kind](probe, "k", build, "k",
                                                              exact=False))
    plan = _plan(out)
    assert jobs > 0
    assert _PROBE_NODE.search(plan), plan
    assert "LeftSemi" not in plan, plan
    assert out.count() >= 67
    assert out.join(build, "k", "left_semi").count() == 67


@pytest.mark.parametrize("path", ["map_side", "salted", "merge", "xor_filter", "xor_shards"])
def test_grouped_sketch_map_side_shuffles_only_blobs(spark, sf_dir, path, monkeypatch):
    """Every grouped path, and both xor builds, plan their per-key (per
    filter) step as Arrow, never as a pandas group UDF.  The map_side
    build must also shuffle sketch blobs, not raw token rows: its one
    exchange has to sit ABOVE the partial-build python node, not between
    scan and python."""
    from presto_bloomfilter_spark.operators import staticfilter

    tokens = load_tokens(spark, sf_dir)
    spec = agg.hll_over_tokens("tokens")
    if path == "merge":
        blobs = spark.createDataFrame([("a", b"")], "source string, sketch binary")
        out = agg.grouped_merge_sketch_column(blobs, "source")
    elif path == "salted":
        out = agg.grouped_sketch(tokens, "source", spec, salt=8, strategy="salted")
    elif path == "xor_shards":
        out = staticfilter.build_xor_shards(tokens, "doc_id", 4)
    elif path == "xor_filter":
        # the single-filter build is eager: plan the partials it folds
        partials = []
        fold = agg._tree_merge_collect
        monkeypatch.setattr(agg, "_tree_merge_collect",
                            lambda df, *a, **k: partials.append(df) or fold(df, *a, **k))
        staticfilter.build_xor_filter(tokens, "doc_id")
        [out] = partials
    else:
        out = agg.grouped_sketch(tokens, "source", spec)
    plan = _plan(out)
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "MapInArrow" in plan, plan
    if path != "map_side":
        return
    # tree shape: Scan → MapInArrow(partial build) → Exchange → Sort →
    # MapInArrow(sorted-run merge); formatted trees print parents
    # first, so the partial build is the MapInArrow after the exchange
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    ex_i = tree.find("Exchange")
    map_i = tree.find("MapInArrow", ex_i)
    scan_i = tree.find("Scan parquet")
    assert -1 not in (scan_i, map_i, ex_i), tree
    assert ex_i < map_i < scan_i, tree
    # and the exchanged rows are (key, sketch) blobs, not token rows
    m = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "tokens" not in m.group(1), m.group(1)
    assert "sketch" in m.group(1), m.group(1)


_PANDAS_EVAL_TYPES = {v for k, v in vars(PythonEvalType).items()
                      if k.startswith("SQL_") and "PANDAS" in k}


@pytest.mark.parametrize("surface", ["sharded_contains", "sketch_estimates",
                                     "sql_contains", "sql_aggregate"])
def test_sketch_surface_plans_arrow_not_pandas(spark, tmp_path, surface):
    """The sharded probe, the sketch-table decode and the SQL surface
    run Arrow python nodes (MapInArrow, or ArrowEvalPython /
    ArrowAggregatePython with an Arrow eval type), never a pandas one."""
    from presto_bloomfilter_spark import HyperLogLog, compat
    from presto_bloomfilter_spark.operators.sharded import (
        build_sharded_bloom, persist_sharded_bloom, sharded_contains,
    )
    from presto_bloomfilter_spark.store import SketchStore

    keys = spark.range(100).select(F.col("id").cast("string").alias("k"))
    if surface == "sharded_contains":
        root = str(tmp_path / "fam")
        persist_sharded_bloom(build_sharded_bloom(keys, "k", 2, 100),
                              SketchStore(root), "f", 2, 100)
        out = sharded_contains(spark, keys, "k", root, "f", 2)
    elif surface == "sketch_estimates":
        out = agg.sketch_estimates(spark.createDataFrame(
            [("a", HyperLogLog().to_bytes())], "key string, sketch binary"))
    else:
        compat.register_sql_functions(spark)
        keys.createOrReplaceTempView("tv_plan_keys")
        compat.publish_sketch_view(spark, compat.bloom_filter(keys, "k", 100), "tv_plan_bf")
        out = spark.sql(
            "SELECT k FROM tv_plan_keys WHERE bloom_filter_contains((SELECT bf FROM tv_plan_bf), k)"
            if surface == "sql_contains" else "SELECT bloom_filter(k) AS bf FROM tv_plan_keys")
    plan = _plan(out)
    assert re.search(r"MapInArrow|ArrowEvalPython|ArrowAggregatePython", plan), plan
    assert not re.search(r"InPandas|Pandas\(", plan), plan
    eval_types = [int(t) for t in re.findall(
        r"\) Arrow(?:EvalPython|AggregatePython)\n(?:[^\n]*\n)*?Arguments: [^\n]*, (\d+)\n", plan)]
    assert not _PANDAS_EVAL_TYPES & set(eval_types), plan
    if surface.startswith("sql"):
        assert eval_types, plan


@pytest.mark.parametrize("op", ["ngram_jaccard_pairs", "ngram_containment_pairs"])
def test_ngram_pairs_stop_gram_filter_has_no_window(spark, op):
    """The max_gram_docs document-frequency filter is a groupBy count
    plus a broadcast anti join: no per-gram Window that would put a
    stop-gram's every row on one task."""
    from presto_bloomfilter_spark.operators import dedup

    df = spark.createDataFrame([("a", "x y z w")], "doc_id string, text string")
    plan = _plan(getattr(dedup, op)(df, max_gram_docs=3))
    assert "Window" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_adaptive_query_execution_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_cap_per_key_pretruncates_before_shuffle(spark):
    """cap_per_key's rank<=N predicate must plan a WindowGroupLimit
    BELOW the exchange: each input partition ships at most N rows per
    key, so a giant key cannot flood the shuffle."""
    from presto_bloomfilter_spark.operators.sampling import cap_per_key

    d = spark.range(0, 1000).selectExpr(
        "cast(id as string) as doc_id", "cast(id % 3 as string) as source")
    plan = cap_per_key(d, "source", 7)._jdf.queryExecution().executedPlan().toString()
    pre, _, post = plan.partition("Exchange")
    assert "WindowGroupLimit" in post, plan  # below (after) the exchange in tree order


def test_pmi_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """pmi_bigrams' docstring claims the final top-k is a
    TakeOrderedAndProject over the filtered bigram table, not a global
    sort of anything corpus-sized."""
    from presto_bloomfilter_spark.operators import stats
    from presto_bloomfilter_spark.sources.corpus import load_tokens

    plan = _plan(stats.pmi_bigrams(load_tokens(spark, sf_dir), k=10))
    assert "TakeOrderedAndProject" in plan


def test_divergence_branches_read_cached_counts(spark, sf_dir):
    """source_token_divergence persists the unigram-count table so its
    marginal/total branches read the cache instead of re-running the
    corpus-sized explode+aggregate (stats.py module docstring)."""
    from presto_bloomfilter_spark.operators import stats
    from presto_bloomfilter_spark.sources.corpus import load_tokens

    df = stats.source_token_divergence(load_tokens(spark, sf_dir))
    df.collect()
    plan = _plan(df)
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_round5_session4_ops_avoid_row_sorts_and_nested_loops(spark, sf_dir):
    """The session's stats/web/dedup additions keep their scale
    promises in the physical plan: no CartesianProduct, no
    BroadcastNestedLoopJoin (the one-row totals cross joins must
    compile to broadcast), and the histogram-based ops never global-
    sort row data (Sort only inside bounded windows/TakeOrdered)."""
    docs = load_table(spark, sf_dir, "documents")
    from presto_bloomfilter_spark.operators import stats as S

    plans = {
        "percentile_normalize": _plan(
            S.percentile_normalize(docs.select("doc_id", "source", "n_chars"),
                                   "n_chars", by="source")),
        "winsorize": _plan(
            S.winsorize(docs.select("doc_id", "source", "n_chars"),
                        "n_chars", by="source")),
        "vocab_coverage": _plan(S.vocab_coverage(docs, budgets=[10])),
        "psi": _plan(S.psi_drift(docs.select("lang"),
                                 docs.select("lang"), "lang")),
        "blocklist": _plan(__import__(
            "presto_bloomfilter_spark.operators.web", fromlist=["web"]
        ).filter_blocked_domains(
            docs.selectExpr("cast(doc_id as string) id",
                            "concat('http://x.com/', doc_id) url"),
            spark.createDataFrame([("x.com",)], "domain string"))),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        # one-row totals joins must be broadcast, not nested-loop over rows
        if "BroadcastNestedLoopJoin" in plan:
            # acceptable ONLY for single-row broadcast totals (no shuffle
            # of row data); reject if a SortMergeJoin-scale exchange feeds it
            assert "Exchange rangepartitioning" not in plan, name
    # no global row-range sort anywhere in these ops
    for name, plan in plans.items():
        assert "Exchange rangepartitioning" not in plan, (name, plan[:2000])


def _python_nodes(plan):
    """The Python-evaluating nodes of an executed JVM plan, through AQE
    and its query stages."""
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return _python_nodes(plan.executedPlan())
    if "QueryStage" in name:
        return _python_nodes(plan.plan())
    out = [plan] if plan.metrics().contains("pythonDataSent") else []
    children = plan.children().iterator()
    while children.hasNext():
        out += _python_nodes(children.next())
    return out


def test_published_view_is_driver_local(spark):
    """A published sketch view is one driver-local literal row: its plan
    reads no RDD, the optimizer inlines the scalar subquery that reads
    it, and the SQL probe runs no more Spark jobs than filter_by_sketch
    over the same rows."""
    from presto_bloomfilter_spark import compat
    from presto_bloomfilter_spark.functions.bloom import BloomFilter
    from presto_bloomfilter_spark.operators.probe import filter_by_sketch

    compat.register_sql_functions(spark)
    keys = spark.range(2000).select(F.col("id").cast("string").alias("doc_id"))
    keys.createOrReplaceTempView("tv_local_slice")
    bf = BloomFilter(1000, 0.01).add_strings([str(i) for i in range(0, 2000, 2)])
    compat.publish_sketch_view(spark, bf, "tv_local_bf")
    plan = spark.table("tv_local_bf")._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"LocalRelation|OneRowRelation", plan), plan
    assert not re.search(r"LogicalRDD|ExternalRDD", plan), plan

    sql = ("SELECT count(*) AS c FROM tv_local_slice "
           "WHERE bloom_filter_contains((SELECT bf FROM tv_local_bf), doc_id)")
    plan = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
    assert "subquery" not in plan.lower(), plan
    n_sql, jobs_sql = _sketch_jobs(spark, lambda: spark.sql(sql).collect()[0].c)
    n_py, jobs_py = _sketch_jobs(spark, lambda: filter_by_sketch(
        spark, keys, "doc_id", bf).agg(F.count("*").alias("c")).collect()[0].c)
    assert n_sql == n_py >= 1000
    assert 0 < jobs_sql <= jobs_py, (jobs_sql, jobs_py)


def test_sql_probe_ships_a_reference_not_the_filter(spark):
    """A 1 MB bloom probed from SQL text over 10k rows feeds the probe
    UDF at most 256 bytes per row (the by-reference blob and the key),
    not the filter, and returns the rows filter_by_sketch returns."""
    from presto_bloomfilter_spark import compat
    from presto_bloomfilter_spark.functions.bloom import BloomFilter
    from presto_bloomfilter_spark.operators.probe import filter_by_sketch

    compat.register_sql_functions(spark)
    rows = 10_000
    keys = spark.range(rows).select(F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"))
    keys.createOrReplaceTempView("tv_ref_keys")
    # half full, so no codec can shrink the blob below its 1.2 MB bitset
    bf = BloomFilter(1_000_000, 0.01).add_strings(
        [f"k{i}" for i in range(0, rows, 3)] + [f"x{i}" for i in range(1_000_000)])
    assert len(bf.to_bytes()) > 1_000_000
    compat.publish_sketch_view(spark, bf, "tv_ref_big")
    df = spark.sql("SELECT k FROM tv_ref_keys "
                   "WHERE bloom_filter_contains((SELECT bf FROM tv_ref_big), k)")
    got = sorted(r.k for r in df.collect())
    [udf] = _python_nodes(df._jdf.queryExecution().executedPlan())
    assert udf.metrics().apply("pythonNumRowsReceived").value() == rows
    assert udf.metrics().apply("pythonDataSent").value() <= 256 * rows
    assert got == sorted(r.k for r in filter_by_sketch(spark, keys, "k", bf).collect())
