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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.functions import arrow_udf

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.cms import CountMinSketch
from presto_bloomfilter_spark.functions.hll import HyperLogLog
from presto_bloomfilter_spark.functions.kll import KLLSketch
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.probe import _cached_sketch, _probe_keys, contains_udf
from presto_bloomfilter_spark.store import SketchStore


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
    return base64.b64encode(ser._as_blob(bf)).decode("ascii")


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
    return int(ser.read_params(ser._as_blob(bf))["n"])


def get_false_positive_percentage(bf) -> float:
    """``get_false_positive_percentage(bf)`` scalar (reference
    BloomFilterGetFalsePositivePercentageScalarFunction.java:36-44)."""
    if isinstance(bf, BloomFilter):
        return bf.fpp
    return float(ser.read_params(ser._as_blob(bf))["p"])


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
# run_tests.sh:123-125): every function registers for spark.sql text,
# so the reference's CTE probe query shape runs as-is.


def _varchar(els: pa.Array, fn: str) -> pa.Array:
    """The SQL element rule (the reference takes VARCHAR): a string stays
    a string and an integer becomes its decimal string — Arrow's cast
    gives the same string as Spark's, so it matches what
    ``bloom_filter`` inserts.  Any other type is a TypeError: Arrow and
    Spark write floats differently, so the caller must cast."""
    t = els.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return els
    if pa.types.is_integer(t) or pa.types.is_null(t):
        return els.cast(pa.string())
    raise TypeError(
        f"{fn} takes a VARCHAR element, got {t}: pass CAST(el AS STRING) "
        f"(integers are cast for you)")


def _insert(sk, els: pa.Array, fn: str) -> bytes:
    """A SQL aggregate's build: the non-NULL VARCHAR elements into
    ``sk`` through the same ``hash_dispatch`` every build takes."""
    keys = agg._non_null(_varchar(els, fn))
    if len(keys):
        agg.hash_dispatch(sk, "add", keys, fn)
    return sk.to_bytes()


def _sql_build(make, fn: str):
    """Arrow grouped-agg UDF ``fn(el) -> blob`` over ``make()``."""

    def udf(els: pa.Array) -> bytes:
        return _insert(make(), els, fn)

    return arrow_udf(udf, "binary")


def _blob_groups(blobs: pa.Array) -> tuple[np.ndarray, list[tuple[bytes, np.ndarray]]]:
    """Group rows by blob at the Arrow level: ``(codes, groups)`` with
    ``groups[codes[i]] = (blob, row indices)`` for row i, code -1 for a
    NULL blob.  The group key is the blob's identity prefix — the
    48-byte header (whose digest covers the payload) plus the params
    json it declares, both dictionary-encoded — so a multi-MB filter is
    copied once per distinct blob, never once per row."""
    hdr = ser._HEADER.size
    heads = pc.binary_slice(blobs, 0, hdr).dictionary_encode().dictionary
    width = hdr + max((ser.read_params_length(h) for h in heads.to_pylist()), default=0)
    enc = pc.binary_slice(blobs, 0, width).dictionary_encode()
    codes = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
    order = np.argsort(codes, kind="stable")
    ends = np.cumsum(np.bincount(codes + 1)).tolist()  # ends[0]: the NULL rows
    return codes, [(blobs[int(order[lo])].as_py(), order[lo:hi])
                   for lo, hi in zip(ends, ends[1:])]


def _per_blob(fn, out_type: pa.DataType):
    """Arrow UDF ``blob -> fn(blob)``: ``fn`` runs once per distinct
    blob of a batch, and a NULL blob gives NULL."""
    from pyspark.sql.pandas.types import from_arrow_type

    def udf(blobs: pa.Array) -> pa.Array:
        codes, groups = _blob_groups(blobs)
        return pa.array([fn(b) for b, _ in groups], out_type).take(
            pa.array(codes, mask=codes < 0))

    return arrow_udf(udf, from_arrow_type(out_type))


def _sketch_with(blob: bytes, attr: str, fn: str, want: str):
    sk = _cached_sketch(blob)
    if not hasattr(sk, attr):
        raise ValueError(f"{fn} needs a {want}, got {type(sk).__name__}")
    return sk


def register_sql_functions(spark: SparkSession) -> None:
    """Register the reference's scalar functions for spark.sql text:

    - ``bloom_filter_contains(bf binary, el varchar) -> boolean``
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

    Every one is an Arrow UDF that groups a batch's rows by blob at the
    Arrow level and decodes each distinct blob once, through the
    executor-local sha256-keyed LRU of the Python-API probe (the
    reference's cache, BloomFilterScalarFunctions.java:25,46-61); the
    header getters read only the serialized header.  A NULL blob gives
    NULL.  ``bloom_filter_contains`` probes with the same kernel as
    ``contains_udf``; its element follows the VARCHAR rule: a string, or
    an integer (probed as its decimal string, as ``bloom_filter``
    inserts it); cast any other type to STRING first.  NULL and ''
    elements probe false.  Safe to call more than once (re-registration
    replaces)."""

    @arrow_udf("boolean")
    def _sql_contains(blobs: pa.Array, els: pa.Array) -> pa.Array:
        # nullable boolean: SQL semantics (and the reference scalar,
        # BloomFilterContainsScalarFunction.java:33-42 via @SqlNullable)
        # return NULL for a NULL filter argument, never false
        els = _varchar(els, "bloom_filter_contains")
        codes, groups = _blob_groups(blobs)
        hits = np.zeros(len(els), dtype=bool)
        for blob, rows in groups:
            keys = els if len(rows) == len(els) else els.take(rows)
            hits[rows] = _probe_keys(_cached_sketch(blob), keys)
        return pa.array(hits, mask=codes < 0)

    @arrow_udf("binary")
    def _sql_from_string(s: pa.Array) -> pa.Array:
        return pa.array([None if x is None else base64.b64decode(x) for x in s.to_pylist()],
                        pa.binary())

    @arrow_udf("double")
    def _sql_quantile(blobs: pa.Array, qs: pa.Array) -> pa.Array:
        codes, groups = _blob_groups(blobs)
        null = (codes < 0) | qs.is_null().to_numpy(zero_copy_only=False)
        out = np.zeros(len(qs))
        for blob, rows in groups:
            sk = _sketch_with(blob, "quantile", "sketch_quantile", "quantile sketch")
            rows = rows[~null[rows]]
            out[rows] = [float(sk.quantile(q)) for q in qs.take(rows).to_pylist()]
        return pa.array(out, mask=null)

    spark.udf.register("bloom_filter_contains", _sql_contains)
    spark.udf.register("to_string", _per_blob(
        lambda b: base64.b64encode(ser._full_blob(b)).decode("ascii"), pa.string()))
    spark.udf.register("get_expected_insertions", _per_blob(
        lambda b: int(ser.read_params(b)["n"]), pa.int64()))
    spark.udf.register("get_false_positive_percentage", _per_blob(
        lambda b: float(ser.read_params(b)["p"]), pa.float64()))
    spark.udf.register("bloom_filter_from_string", _sql_from_string)
    spark.udf.register("sketch_estimate", _per_blob(
        lambda b: float(_cached_sketch(b).estimate()), pa.float64()))
    spark.udf.register("sketch_f2", _per_blob(
        lambda b: float(_sketch_with(b, "f2", "sketch_f2", "Count-Sketch").f2()),
        pa.float64()))
    spark.udf.register("sketch_quantile", _sql_quantile)
    register_sql_aggregates(spark)


def register_sql_aggregates(spark: SparkSession) -> None:
    """Register the reference's AGGREGATE functions for spark.sql text
    (called by ``register_sql_functions`` — one call covers both):

    - ``bloom_filter(el varchar) -> binary`` (reference defaults: n=10M,
      p=0.01, BloomFilter.java:64-65)
    - ``bloom_filter_sized(el varchar, n bigint, p double) -> binary``
      (the reference's ``bloom_filter(el, n, p)`` overloads — Spark UDF
      names cannot overload by arity, so the sized form is its own name)
    - ``hll_sketch(el varchar) -> binary``
    - ``cms_sketch(el varchar) -> binary`` / ``kll_sketch(v double) ->
      binary`` — the sibling sketches in SQL text; decode with the
      registered ``sketch_estimate`` / ``sketch_quantile`` scalars
    - ``sketch_merge(bf binary) -> binary`` (the reference's
      ``bloom_filter(bf)`` aggregation of PRE-BUILT filters,
      BloomFilterAggregation.java — family-generic here)

    These are Arrow grouped-agg UDFs: Spark ships each group's rows to
    one task (complete-mode aggregation, no partial/merge combine), so
    this is the SQL-TEXT PARITY surface, not the scale path — corpus-
    scale builds belong to operators/aggregate's partial/tree-merge
    dataflow, whose blobs these same SQL scalars can then probe/decode.
    Elements follow the VARCHAR rule of ``bloom_filter_contains`` and
    insert through the build's ``hash_dispatch``; NULL elements are
    skipped, like the reference's null handling.  An aggregate over
    empty input gives no rows.
    """

    @arrow_udf("binary")
    def _agg_bloom_sized(els: pa.Array, n: pa.Array, p: pa.Array) -> bytes:
        return _insert(BloomFilter(int(n[0].as_py()), float(p[0].as_py())), els,
                       "bloom_filter_sized")

    @arrow_udf("binary")
    def _agg_kll(vals: pa.Array) -> bytes:
        return KLLSketch().add(agg._non_null(vals).to_numpy(zero_copy_only=False)).to_bytes()

    @arrow_udf("binary")
    def _agg_merge(blobs: pa.Array) -> bytes:
        sk = ser.merge_blobs(agg._non_null(blobs).to_pylist())
        return None if sk is None else sk.to_bytes()

    for fn, make in [("bloom_filter", BloomFilter), ("hll_sketch", HyperLogLog),
                     ("cms_sketch", CountMinSketch)]:
        spark.udf.register(fn, _sql_build(make, fn))
    spark.udf.register("bloom_filter_sized", _agg_bloom_sized)
    spark.udf.register("kll_sketch", _agg_kll)
    spark.udf.register("sketch_merge", _agg_merge)


def publish_sketch_view(spark: SparkSession, bf, view: str = "bloom_bf") -> None:
    """Publish an aggregated sketch as a one-row temp view (``bf``
    binary column) so SQL text can reference it via a scalar subquery —
    the hybrid hand-off from the Python-API aggregation to the SQL
    probe surface.

    The view is one literal row (``SELECT <blob> AS bf``), so the
    optimizer inlines ``(SELECT bf FROM view)`` into the query as that
    literal: no subquery and no Spark job read it.  The value is a
    by-reference blob (the header, the params and the full blob's
    content-addressed file name: about 150 bytes), so a probe carries
    the name, not the filter, in every row.  The full blob is written
    and shipped with ``SparkContext.addFile`` once per application (a
    sketch already shipped is not written again), and each executor
    reads it once into its sha256-keyed sketch cache.
    Every function that returns or persists blob bytes (``to_string``,
    ``sketch_merge``, ``SketchStore.put``) gives the full blob, never
    the reference."""
    from pyspark import SparkFiles

    sc = spark.sparkContext
    blob = ser._as_blob(bf)
    name, ref = ser._by_reference(blob)
    if not any(f.endswith("/" + name) for f in sc.listFiles):
        # under the driver's SparkFiles root, which Spark deletes when
        # the context stops; addFile copies it up into that root
        root = os.path.join(SparkFiles.getRootDirectory(), "published")
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, name), "wb") as f:
            f.write(blob)
        sc.addFile(os.path.join(root, name))
    # a literal row, not a one-row Arrow LocalRelation (which also plans
    # without a job): two scalar subqueries over two such relations feed
    # one Python UDF node the same value
    spark.sql("SELECT :bf AS bf", args={"bf": ref}).createOrReplaceTempView(view)
