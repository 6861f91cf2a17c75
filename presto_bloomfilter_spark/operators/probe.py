"""Broadcast sketch probes — the scalar-function side of the reference.

The reference evaluates ``bloom_filter_contains(bf, el)`` per row with a
Guava LRU keyed by the blob's sha256 prefix
(BloomFilterScalarFunctions.java:25,46-61).  Spark-native translation
(SURVEY.md §3.2): the sketch bytes ride a torrent broadcast to every
executor; an *iterator* Arrow UDF deserializes once per task (plus an
executor-local LRU keyed by the same sha256 header) and probes whole
Arrow batches vectorized.  No cross join against a 1-row aggregate —
a broadcast variable is the idiomatic Spark form of that pattern.

At 100 TB the probe is a map-only stage: no shuffle, filter evaluated
inside the scan pipeline, bloom FP rate bounds the extra rows that the
(optional) exact verification join must process.  Every sketch-backed
semi join runs one dataflow, :func:`_sketch_semi_join`: with ``exact``
it is the plain semi join, planned by Catalyst (broadcast or shuffled,
with Spark's own runtime bloom filter where that is enabled), since a
Python sketch pre-filter in front of that join was measured slower at
every scale tried; without ``exact`` it is the sketch pre-filter alone,
which returns a superset.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import arrow_udf

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.sbbf import SplitBlockBloomFilter
from presto_bloomfilter_spark.operators.aggregate import (
    DEFAULT_FAN_IN,
    SketchSpec,
    _non_null,
    aggregate_sketch,
    hash_dispatch,
)

# membership sketch per `kind` arg of bloom_semi_join; the key column's
# Arrow type picks the string or int hash path (hash_dispatch)
_SEMI_JOIN_SPECS = {"bloom": BloomFilter, "sbbf": SplitBlockBloomFilter}

# '' is invisible to every membership filter (reference empty-element
# semantics, BloomFilter.java:161-167) but a legitimate JOIN KEY: a
# semi join that silently drops ''-keyed matches would return a strict
# subset of the exact join.  The semi joins therefore map '' to this
# sentinel on BOTH build and probe (same trick as contamination.py's
# empty-gram token); the exact-verify join still compares the ORIGINAL
# values, so the sentinel never leaks into results.
_EMPTY_KEY_TOKEN = "\x00<empty-key>"


def map_empty_to(col, token: str):
    """The shared ''→sentinel mapping every filter consumer uses
    (semi joins here, contamination grams in contamination.py) — one
    place for the scheme, parameterized by the sentinel."""
    return F.when(col == "", F.lit(token)).otherwise(col)

# executor-local deserialization cache, keyed by the 32-byte sha256
# header (reference cache: max 40 entries, BloomFilterScalarFunctions.java:25)
_CACHE_MAX = 40
_sketch_cache: "OrderedDict[bytes, object]" = OrderedDict()


def _cached_sketch(blob: bytes):
    # key = sha256 of the WHOLE blob, not the header's payload-only
    # digest: two sketches with byte-identical payloads but different
    # kind/params (two empty filters of equal word count and different
    # k; an empty HLL vs an equal-length zero bitset) must not collide
    # into one cached object.  A by-reference blob (publish_sketch_view)
    # is keyed by its own ~150 bytes and resolved to the shipped full
    # blob only on a miss (serialization.decode)
    import hashlib

    key = hashlib.sha256(blob).digest()
    sk = _sketch_cache.get(key)
    if sk is None:
        sk = ser.sketch_from_bytes(blob)
        _sketch_cache[key] = sk
        if len(_sketch_cache) > _CACHE_MAX:
            _sketch_cache.popitem(last=False)
    else:
        _sketch_cache.move_to_end(key)
    return sk


class ProbeMetrics:
    """Probe-side counters over Spark accumulators — parity with the
    reference's two-stage probe counters (``preMiss``/``mightContain``
    counts, reference BloomFilter.java:58,184-205,306-313; asserted in
    TestBloomFilterPerformanceContains.java:42).  The two-stage
    pre-filter itself is deliberately dropped (the vectorized probe is
    already cheap, functions/bloom.py module docs); this keeps its
    observability: probe_count, miss_count, and miss_rate per job.

    Semantics note (standard Spark accumulator caveat): updates happen
    inside the probe UDF, which is a TRANSFORMATION — counts reflect
    UDF executions, not logical rows.  Running multiple actions over
    the same un-cached result, stage retries, or speculative tasks
    re-execute the UDF and inflate the counters (the ratio miss_rate
    stays meaningful).  For exact per-job counts, read the metrics
    after exactly one action, or call reset() between actions — the
    bench and tests do the former.
    """

    def __init__(self, spark: SparkSession):
        # hold only the accumulators (picklable into UDF closures), not
        # the session — a SparkSession reference would break pickling
        self.reset(spark)

    def reset(self, spark: SparkSession) -> None:
        """Fresh counters; call between actions for exact per-job counts."""
        sc = spark.sparkContext
        self._probes = sc.accumulator(0)
        self._misses = sc.accumulator(0)

    @property
    def probe_count(self) -> int:
        return self._probes.value

    @property
    def miss_count(self) -> int:
        return self._misses.value

    @property
    def miss_rate(self) -> float:
        n = self.probe_count
        return self.miss_count / n if n else 0.0

    def as_dict(self) -> dict:
        return {
            "probe_count": self.probe_count,
            "miss_count": self.miss_count,
            "miss_rate": self.miss_rate,
        }


def _probe_keys(sk, keys: pa.Array, name: str = "probe key") -> np.ndarray:
    """The one membership kernel: ``keys`` (the column ``name``) probed
    against ``sk`` through :func:`hash_dispatch` (the hash path the build
    takes for the same Arrow type), NULL keys dropped at the Arrow level
    and probing False.  Serves ``contains_udf``, SQL
    ``bloom_filter_contains`` and ``sharded_contains``."""
    hits = hash_dispatch(sk, "might_contain", _non_null(keys), name)
    if not keys.null_count:
        return hits
    out = np.zeros(len(keys), dtype=bool)
    out[keys.is_valid().to_numpy(zero_copy_only=False)] = hits
    return out


def contains_udf(spark: SparkSession, sketch, metrics: ProbeMetrics | None = None,
                 name: str = "probe key"):
    """Vectorized membership predicate over a broadcast sketch.

    Returns a column function usable in ``df.filter`` — the Spark form
    of ``WHERE bloom_filter_contains(bf, col)`` (reference README.md:28).
    The key column's Arrow type picks the hash path through the same
    :func:`hash_dispatch` the build uses (integer → exact int hash,
    string → string hash, any other type → TypeError), so a column probes the
    filter built over it.  NULLs are dropped at the Arrow level (no
    float64 round trip for nullable ints) and probe False, as in the
    reference (BloomFilterContainsScalarFunction.java:33-42).  Pass
    ``metrics`` to count probes/misses executor-side (the reference's
    preMiss-style counters); ``name`` is the column a type error names.
    """
    blob = sketch.to_bytes() if hasattr(sketch, "to_bytes") else bytes(sketch)
    bv = spark.sparkContext.broadcast(blob)

    @arrow_udf("boolean")
    def probe(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        sk = _cached_sketch(bv.value)
        for keys in it:
            hits = _probe_keys(sk, keys, name)
            if metrics is not None:
                metrics._probes.add(len(hits))
                metrics._misses.add(int(len(hits) - hits.sum()))
            yield pa.array(hits)

    return probe


def filter_by_sketch(spark: SparkSession, df: DataFrame, col: str, sketch) -> DataFrame:
    """df rows whose `col` is (probably) in the sketch; no false negatives."""
    return df.filter(contains_udf(spark, sketch, name=col)(F.col(col)))


_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def resolve_key_mode(probe_df: DataFrame, probe_col: str,
                     build_df: DataFrame, build_col: str,
                     caller: str = "bloom_semi_join") -> bool:
    """Decide whether a build/probe key pair hashes as integers (True)
    or through the lossless string cast (False), refusing pairs whose
    string forms would silently diverge.  Shared by every sketch-backed
    semi join (bloom/sbbf/xor/sharded)."""
    pt, bt = dict(probe_df.dtypes)[probe_col], dict(build_df.dtypes)[build_col]
    ints = pt in _INT_TYPES and bt in _INT_TYPES
    numeric = _INT_TYPES | {"float", "double", "decimal"}
    if not ints and pt != bt and numeric & {pt.split("(")[0], bt.split("(")[0]}:
        # a numeric key against any other type falls through to the
        # string path, where '5.0' != '5' silently DROPS matching rows
        # that a plain semi join (numeric coercion) would keep — refuse
        # instead of returning a wrong subset
        raise ValueError(
            f"{caller} key types are incomparable as strings: probe "
            f"{probe_col}:{pt} vs build {build_col}:{bt} — their string "
            f"forms differ ('5.0' vs '5'), which would silently drop "
            f"matches; cast both keys to a common type first")
    return ints


def bloom_semi_join(
    spark: SparkSession,
    probe_df: DataFrame,
    probe_col: str,
    build_df: DataFrame,
    build_col: str,
    expected_insertions: int = 1_000_000,
    fpp: float = BloomFilter.DEFAULT_FPP,
    exact: bool = True,
    fan_in: int = DEFAULT_FAN_IN,
    kind: str = "bloom",
) -> DataFrame:
    """The reference's motivating pattern (README.md:8-38): replace an
    expensive join with build-side bloom + probe-side filter.

    With ``exact=True`` the result is the exact semi join, run as the
    plain ``left_semi`` join and planned by Catalyst: it broadcasts a
    small build side, shuffles a large one, and injects its own runtime
    bloom filter where ``spark.sql.optimizer.runtime.bloomFilter.enabled``
    allows (InjectRuntimeFilter, SURVEY.md §4).  No bloom is built: a
    Python bloom pre-filter in front of that join was measured slower
    on both sides of the broadcast threshold (ROADMAP item 2).  With
    ``exact=False`` the bloom is built over the build keys and the
    result is the probe rows it passes — a superset of the semi join
    with no false negatives, for a caller that verifies (or tolerates
    the false positives) itself.

    ``kind`` picks the membership sketch: ``"bloom"`` (reference-parity
    classic filter) or ``"sbbf"`` (split-block/Parquet blocked variant
    — one-cache-line probes, same no-false-negative contract).
    """
    if kind not in _SEMI_JOIN_SPECS:
        raise ValueError(f"unknown sketch kind {kind!r}; "
                         f"one of {sorted(_SEMI_JOIN_SPECS)}")
    cls = _SEMI_JOIN_SPECS[kind]
    spec = SketchSpec(build_col, lambda: cls(expected_insertions, fpp))
    return _sketch_semi_join(
        probe_df, probe_col, build_df, build_col,
        _sketch_filter(spark, lambda keys: aggregate_sketch(keys, spec, fan_in)), exact)


def _sketch_filter(spark: SparkSession, build):
    """The pre-filter step of a broadcast-sketch semi join:
    ``build(keys)`` turns the build-key frame into a membership sketch,
    and the probe rows are filtered by it (:func:`filter_by_sketch`)."""
    return lambda keys, probe, col: filter_by_sketch(spark, probe, col, build(keys))


def _sketch_semi_join(probe_df: DataFrame, probe_col: str, build_df: DataFrame,
                      build_col: str, prefilter, exact: bool,
                      caller: str = "bloom_semi_join") -> DataFrame:
    """The one semi-join dataflow every sketch-backed semi join shares.

    With ``exact`` the result is the plain semi join of ``probe_df``
    against the build keys, with no join hint, and ``prefilter`` is never
    called: nothing is built, broadcast or persisted, and Catalyst plans
    the join from its size statistics.  Without ``exact``,
    ``prefilter(keys, probe, "__pk")`` filters ``probe`` (``probe_df``
    plus the keyed probe column ``__pk``) by a membership structure it
    builds over ``keys`` (the keyed build column, named ``build_col``),
    and the result is that superset.

    Integer key pairs hash natively: the build and the probe read the
    raw columns, and the exact join compares native longs.  Other pairs
    go through the lossless string cast, with '' mapped to the
    empty-key sentinel on both sides of the filter; the exact join
    compares the original (cast) values, so '' is a key and NULL never
    matches.  Key pairs whose forms would silently diverge are refused
    first, on both paths (:func:`resolve_key_mode`)."""
    ints = resolve_key_mode(probe_df, probe_col, build_df, build_col, caller)

    def key(c):
        return F.col(c) if ints else F.col(c).cast("string")

    if exact:
        build_keys = build_df.select(key(build_col).alias("__bk"))
        return probe_df.join(build_keys, key(probe_col) == F.col("__bk"), "left_semi")

    def hashed_key(c):
        return key(c) if ints else map_empty_to(key(c), _EMPTY_KEY_TOKEN)

    # the build reads raw (non-distinct) keys: inserts are idempotent, so
    # skipping .distinct() skips a whole shuffle of the build side
    return prefilter(build_df.select(hashed_key(build_col).alias(build_col)),
                     probe_df.withColumn("__pk", hashed_key(probe_col)), "__pk").drop("__pk")
