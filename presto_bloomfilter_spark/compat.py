"""Reference-parity API: every SQL function presto-bloomfilter registers
(reference BloomFilterPlugin.java:42-55), one Python callable each, so a
reference user can switch query-for-query (SURVEY.md §2.1 rows 1-14).

The reference functions operate inside Presto SQL; here the aggregation
forms take a DataFrame + column and return either a sketch object
(ungrouped — Presto's single accumulator state) or a DataFrame of
(key, sketch) rows (grouped — Presto's grouped state,
BloomFilterStateFactory.java:48-91), and scalar forms return either
Spark Columns (row-wise) or plain Python values (filter-wise).
"""

from __future__ import annotations

import base64
import os

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.probe import contains_udf
from presto_bloomfilter_spark.store import SketchStore


def _as_blob(bf) -> bytes:
    return bf.to_bytes() if hasattr(bf, "to_bytes") else bytes(bf)


# ---- aggregation functions ---------------------------------------------------


def bloom_filter(
    df: DataFrame,
    col: str,
    expected_insertions: int = BloomFilter.DEFAULT_EXPECTED_INSERTIONS,
    fpp: float = BloomFilter.DEFAULT_FPP,
    group_by: str | None = None,
    target_partials: int | None = None,
):
    """``bloom_filter(el[, n[, p]])`` aggregation (reference
    BloomFilterAggregation.java:31-62; defaults BloomFilter.java:64-65).

    Inserts each non-null, non-empty element of ``col``; returns the
    merged BloomFilter (ungrouped) or a DataFrame[group_by, sketch]
    (grouped).  Null/'' elements are silently ignored
    (BloomFilter.java:161-167).  The reference takes varchar, so the
    column is cast to string: ``bloom_filter_contains`` probes strings.
    """
    df = df.withColumn(col, F.col(col).cast("string"))
    spec = agg.bloom_over_strings(col, expected_insertions, fpp)
    if group_by is None:
        return agg.aggregate_sketch(df, spec, target_partials=target_partials)
    return agg.grouped_sketch(df, group_by, spec)


def bloom_filter_from_string(df: DataFrame, col: str) -> BloomFilter:
    """``bloom_filter_from_string(base64)`` aggregation — deserializes
    each input string and unions them (reference
    BloomFilterFromString.java:23-38).  Base64 decode happens JVM-side
    (F.unbase64); only tiny sketch blobs reach Python."""
    blobs = df.select(F.unbase64(F.col(col)).alias("sketch"))
    return agg.merge_sketch_column(blobs, "sketch")


def bloom_filter_load(source, timeout: float = 10.0) -> BloomFilter:
    """``bloom_filter_load(url)`` aggregation — loads persisted filters
    and unions them (reference BloomFilterLoad.java:23-40 /
    BloomFilter.fromUrl BloomFilter.java:116-138).  ``source`` is one
    path/URL or a list of them: ``http(s)://`` URLs are fetched with the
    reference's 10 s timeout (BloomFilter.java:126) and accept either
    raw PBFS bytes or base64 text (the persist-service wire form,
    server.go:30-41); anything else is a sketch-store path."""
    paths = [source] if isinstance(source, (str, os.PathLike)) else list(source)
    if not paths:
        raise ValueError("no paths to load")
    out = None
    for p in paths:
        p = os.fspath(p)
        if p.startswith(("http://", "https://")):
            sk = _sketch_from_url(p, timeout)
        else:
            # pure read — do NOT construct a SketchStore here: its
            # __init__ makedirs the parent, which fails on read-only
            # mounts and leaves junk directories behind on typo'd paths
            fp = p if p.endswith(".sketch") else p + ".sketch"
            if not os.path.exists(fp) and os.path.exists(p):
                fp = p  # a store path without the suffix convention
            with open(fp, "rb") as f:
                sk = ser.sketch_from_bytes(f.read())
        out = sk if out is None else out.merge(sk)
    return out


def _sketch_from_url(url: str, timeout: float):
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310 — explicit http(s) scheme
        body = resp.read()
    try:
        return ser.sketch_from_bytes(body)
    except ValueError:
        # persist-service stores base64 text; decode and retry
        return ser.sketch_from_bytes(base64.b64decode(body))


# ---- scalar functions --------------------------------------------------------


def bloom_filter_contains(spark: SparkSession, bf, col) -> Column:
    """``bloom_filter_contains(bf, el)`` scalar (reference
    BloomFilterContainsScalarFunction.java:33-42): false ⇒ definitely
    absent, true ⇒ probably present; null element → false.  The filter
    rides a broadcast; probes are vectorized per Arrow batch with an
    executor-local LRU keyed by the blob's sha256 (the reference's Guava
    cache, BloomFilterScalarFunctions.java:25,46-61).  The element is
    cast to string, as ``bloom_filter`` builds over strings."""
    c = F.col(col) if isinstance(col, str) else col
    return contains_udf(spark, bf)(c.cast("string"))


def to_string(bf) -> str:
    """``to_string(bf)`` scalar — base64 of the serialized filter
    (reference BloomFilterToStringScalarFunction.java:37-44)."""
    return base64.b64encode(_as_blob(bf)).decode("ascii")


def to_string_col(col) -> Column:
    """Column form of ``to_string`` over a binary sketch column — pure
    JVM, no Python round trip.  Spark's base64 emits MIME line breaks
    every 76 chars; strip them for RFC-4648 parity with to_string()."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(F.base64(c), "\r\n", "")


def get_expected_insertions(bf) -> int:
    """``get_expected_insertions(bf)`` scalar (reference
    BloomFilterGetExpectedInsertionsScalarFunction.java:36-43) — read
    from the serialized header without decoding the payload."""
    if isinstance(bf, BloomFilter):
        return bf.expected_insertions
    return int(ser.read_params(_as_blob(bf))["n"])


def get_false_positive_percentage(bf) -> float:
    """``get_false_positive_percentage(bf)`` scalar (reference
    BloomFilterGetFalsePositivePercentageScalarFunction.java:36-44)."""
    if isinstance(bf, BloomFilter):
        return bf.fpp
    return float(ser.read_params(_as_blob(bf))["p"])


def bloom_filter_persist(bf, path: str) -> bool:
    """``bloom_filter_persist(bf, url)`` scalar (reference
    BloomFilterPersistScalarFunction.java:38-63 → persist-service
    server.go:30-41): atomic write into a sketch-store directory;
    errors raise to the caller for retry."""
    store = SketchStore(os.path.dirname(path) or ".")
    key = os.path.basename(path).removesuffix(".sketch")
    return store.put(key, bf)


# ---- SQL surface ---------------------------------------------------------------
#
# Every reference use-site is SQL text (reference README.md:21-29,
# run_tests.sh:123-125).  PySpark can register SCALAR functions but not
# UDAFs, so the surface is a documented hybrid: aggregations
# (bloom_filter, bloom_filter_from_string, bloom_filter_load) run
# through the Python API above and publish their result as a one-row
# temp view / binary literal; every scalar function then works inside
# spark.sql text, so the reference's CTE probe query shape runs as-is.


def register_sql_functions(spark: SparkSession) -> None:
    """Register the reference's scalar functions for spark.sql text:

    - ``bloom_filter_contains(bf binary, el string) -> boolean``
    - ``to_string(bf binary) -> string`` (base64)
    - ``get_expected_insertions(bf binary) -> bigint``
    - ``get_false_positive_percentage(bf binary) -> double``
    - ``bloom_filter_from_string(s string) -> binary`` (scalar decode)
    - ``sketch_estimate(bf binary) -> double`` (family-generic
      ``estimate()`` — works on ANY PBFS blob: HLL/theta distinct
      count, bloom fill-derived insertions, CMS total weight, KLL/
      t-digest n — so a persisted sketch table is queryable from pure
      SQL text)
    - ``sketch_quantile(bf binary, q double) -> double`` (quantile
      family — KLL / t-digest / moments / DDSketch — from SQL text;
      loud ValueError on a non-quantile family)
    - ``sketch_f2(bf binary) -> double`` (Count-Sketch second moment
      Σ f² — self-join size from SQL text; loud on other families)

    ``bloom_filter_contains`` is an Arrow-vectorized pandas UDF with the
    executor-local sha256-keyed LRU (same dedup cache as the Python-API
    probe); the header getters read only the serialized header.  Safe to
    call more than once (re-registration replaces)."""
    from pyspark.sql.functions import pandas_udf

    from presto_bloomfilter_spark.operators.probe import _cached_sketch

    @pandas_udf("boolean")
    def _sql_contains(blobs: pd.Series, els: pd.Series) -> pd.Series:
        import numpy as np

        # nullable boolean: SQL semantics (and the reference scalar,
        # BloomFilterContainsScalarFunction.java:33-42 via @SqlNullable)
        # return NULL for a NULL filter argument, never false
        out = pd.array(np.zeros(len(els), dtype=bool), dtype="boolean")
        if len(els):
            # the blob is usually a scalar subquery (one distinct value
            # per batch); factorize handles the general case.  Group by
            # the PBFS header+params PREFIX (48-byte header whose
            # digest covers the payload, plus the params json it
            # declares) — a multi-MB filter would otherwise be memcpy'd
            # once PER ROW just to build a hashable group key.  NULL
            # blobs get code -1 (factorize drops None from uniques).
            def prefix(b):
                if b is None:
                    return None
                mv = memoryview(b)
                hdr = ser._HEADER.size
                plen = ser.read_params_length(bytes(mv[:hdr]))
                return bytes(mv[: hdr + plen])

            codes, uniques = pd.factorize(blobs.map(prefix))
            out[codes == -1] = None
            for u in range(len(uniques)):
                mask = codes == u
                # one full-blob copy per GROUP, not per row
                first = int(np.flatnonzero(mask)[0])
                sk = _cached_sketch(bytes(blobs.iloc[first]))
                out[mask] = sk.might_contain_strings(els[mask])
        return pd.Series(out, dtype="boolean")

    @pandas_udf("string")
    def _sql_to_string(blobs: pd.Series) -> pd.Series:
        return blobs.map(
            lambda b: None if b is None else base64.b64encode(bytes(b)).decode("ascii")
        )

    @pandas_udf("long")
    def _sql_n(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: None if b is None else int(ser.read_params(bytes(b))["n"]))

    @pandas_udf("double")
    def _sql_p(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: None if b is None else float(ser.read_params(bytes(b))["p"]))

    @pandas_udf("binary")
    def _sql_from_string(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else base64.b64decode(x))

    @pandas_udf("double")
    def _sql_quantile(blobs: pd.Series, qs: pd.Series) -> pd.Series:
        # quantile-family scalar (KLL / t-digest): sketch_quantile(bf, q)
        def one(b, q):
            # a NULL double reaches the pandas UDF as NaN, not None
            if b is None or q is None or q != q:
                return None
            sk = _cached_sketch(bytes(b))
            if not hasattr(sk, "quantile"):
                raise ValueError(
                    f"sketch_quantile needs a quantile sketch, got "
                    f"{type(sk).__name__}")
            return float(sk.quantile(float(q)))

        return pd.Series([one(b, q) for b, q in zip(blobs, qs)],
                         dtype="float64")

    @pandas_udf("double")
    def _sql_f2(blobs: pd.Series) -> pd.Series:
        # second-moment scalar (Count-Sketch): sketch_f2(bf) -> Σ f²
        def one(b):
            if b is None:
                return None
            sk = _cached_sketch(bytes(b))
            if not hasattr(sk, "f2"):
                raise ValueError(
                    f"sketch_f2 needs a Count-Sketch, got {type(sk).__name__}")
            return float(sk.f2())

        return pd.Series([one(b) for b in blobs], dtype="float64")

    @pandas_udf("double")
    def _sql_estimate(blobs: pd.Series) -> pd.Series:
        # family-generic: every PBFS sketch defines estimate() (HLL/
        # theta distinct count, bloom fill-derived insertions, CMS
        # total weight, KLL/t-digest n); decode through the executor-
        # local sha256 LRU so a broadcast blob deserializes once
        return blobs.map(
            lambda b: None if b is None
            else float(_cached_sketch(bytes(b)).estimate()))

    spark.udf.register("bloom_filter_contains", _sql_contains)
    spark.udf.register("to_string", _sql_to_string)
    spark.udf.register("get_expected_insertions", _sql_n)
    spark.udf.register("get_false_positive_percentage", _sql_p)
    spark.udf.register("bloom_filter_from_string", _sql_from_string)
    spark.udf.register("sketch_estimate", _sql_estimate)
    spark.udf.register("sketch_quantile", _sql_quantile)
    spark.udf.register("sketch_f2", _sql_f2)
    register_sql_aggregates(spark)


def register_sql_aggregates(spark: SparkSession) -> None:
    """Register the reference's AGGREGATE functions for spark.sql text
    (called by ``register_sql_functions`` — one call covers both):

    - ``bloom_filter(el string) -> binary`` (reference defaults: n=10M,
      p=0.01, BloomFilter.java:64-65)
    - ``bloom_filter_sized(el string, n bigint, p double) -> binary``
      (the reference's ``bloom_filter(el, n, p)`` overloads — Spark UDF
      names cannot overload by arity, so the sized form is its own name)
    - ``hll_sketch(el string) -> binary``
    - ``cms_sketch(el string) -> binary`` / ``kll_sketch(v double) ->
      binary`` — the sibling sketches in SQL text; decode with the
      registered ``sketch_estimate`` / ``sketch_quantile`` scalars
    - ``sketch_merge(bf binary) -> binary`` (the reference's
      ``bloom_filter(bf)`` aggregation of PRE-BUILT filters,
      BloomFilterAggregation.java — family-generic here)

    These are grouped-agg pandas UDFs: Spark ships each group's rows to
    one task (complete-mode aggregation, no partial/merge combine), so
    this is the SQL-TEXT PARITY surface, not the scale path — corpus-
    scale builds belong to operators/aggregate's partial/tree-merge
    dataflow, whose blobs these same SQL scalars can then probe/decode.
    NULL elements are skipped, like the reference's null handling.
    """
    from pyspark.sql.functions import pandas_udf

    from presto_bloomfilter_spark.functions.hll import HyperLogLog

    @pandas_udf("binary")
    def _agg_bloom(els: pd.Series) -> bytes:
        return BloomFilter().add_strings(els).to_bytes()

    @pandas_udf("binary")
    def _agg_bloom_sized(els: pd.Series, n: pd.Series, p: pd.Series) -> bytes:
        if not len(els):
            return None
        return (BloomFilter(int(n.iloc[0]), float(p.iloc[0]))
                .add_strings(els).to_bytes())

    @pandas_udf("binary")
    def _agg_hll(els: pd.Series) -> bytes:
        return HyperLogLog().add_strings(els).to_bytes()

    @pandas_udf("binary")
    def _agg_cms(els: pd.Series) -> bytes:
        from presto_bloomfilter_spark.functions.cms import CountMinSketch

        return CountMinSketch().add_strings(els).to_bytes()

    @pandas_udf("binary")
    def _agg_kll(vals: pd.Series) -> bytes:
        import numpy as np

        from presto_bloomfilter_spark.functions.kll import KLLSketch

        # KLLSketch.add drops NaN itself; only the NULL→NaN conversion
        # is needed here
        return KLLSketch().add(
            vals.to_numpy(dtype=np.float64, na_value=np.nan)).to_bytes()

    @pandas_udf("binary")
    def _agg_merge(blobs: pd.Series) -> bytes:
        sk = ser.merge_blobs(bytes(b) for b in blobs if b is not None)
        return None if sk is None else sk.to_bytes()

    spark.udf.register("bloom_filter", _agg_bloom)
    spark.udf.register("bloom_filter_sized", _agg_bloom_sized)
    spark.udf.register("hll_sketch", _agg_hll)
    spark.udf.register("cms_sketch", _agg_cms)
    spark.udf.register("kll_sketch", _agg_kll)
    spark.udf.register("sketch_merge", _agg_merge)


def publish_sketch_view(spark: SparkSession, bf, view: str = "bloom_bf") -> None:
    """Publish an aggregated sketch as a one-row temp view (``bf``
    binary column) so SQL text can reference it via a scalar subquery —
    the hybrid hand-off from the Python-API aggregation to the SQL
    probe surface."""
    spark.createDataFrame([(bytearray(_as_blob(bf)),)], "bf binary").createOrReplaceTempView(view)
