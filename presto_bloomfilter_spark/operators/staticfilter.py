"""Distributed xor-filter construction and probing — static key sets.

The xor filter (functions/xorf.py, Graf & Lemire JEA 2020) needs its
COMPLETE key set at construction, so its partials cannot merge the way
Bloom/SBBF/CBF partials do.  It still rides the same Arrow build path:
its build state is a key collector (``xorf._XorKeyCollector``) whose
blob is the peeled filter, and each filter is exactly one such state.
The distributed shape is:

- single filter (``build_xor_filter``): deduplicate keys in Spark, then
  ONE executor task (``aggregate_sketch`` with one partial) peels the
  filter and ships one blob to the driver — the whole key set must fit
  that task, so this is the ≲10^8-key form (an eval set, a blocklist,
  a per-snapshot id set);
- sharded family (``build_xor_shards`` + ``persist_xor_shards``): route
  keys by the SAME ``xxhash64(string key) mod S`` function the sharded
  bloom family uses, peel each shard as one sorted run of the grouped
  fold (``grouped_sketch(strategy="salted")``), persist one store
  object per shard plus a manifest.  Because probing only needs the
  string probe (the shared ``probe._probe_keys`` kernel) on whatever
  blob the store returns, the EXISTING ``operators/sharded.py:sharded_contains`` probes an xor
  family unchanged — shard routing, executor-local LRU, loud missing-
  object semantics and all.  That is the 10^12-key posture: no task
  ever holds more than one shard's keys at build or one shard's filter
  at probe.

Why bother next to Bloom: the pipeline's hottest membership sets are
FROZEN (contamination probe grams, stop-lists, completed snapshots),
and for those the xor filter is ~32% smaller at equal FPR — at 10^12
keys that is the difference between a 1.5 TB and a 1.0 TB family, i.e.
a third less store traffic on every executor cache miss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from presto_bloomfilter_spark.functions.xorf import XorFilter, _XorKeyCollector
from presto_bloomfilter_spark.operators.aggregate import SketchSpec, aggregate_sketch, grouped_sketch
from presto_bloomfilter_spark.operators.probe import _sketch_filter, _sketch_semi_join
from presto_bloomfilter_spark.operators.sharded import _shard_col, persist_family
from presto_bloomfilter_spark.store import SketchStore

__all__ = [
    "build_xor_filter",
    "build_xor_shards",
    "persist_xor_shards",
    "xor_semi_join",
]


def _xor_keys(df: DataFrame, key, fp_bits: int) -> tuple[DataFrame, SketchSpec]:
    """The non-NULL distinct values of ``key`` as column ``__k``, and the
    spec that peels an xor filter over them.  The dedup runs in Spark
    (map-side partial distinct), so a peel task receives each key once."""
    keys = df.select(key.alias("__k")).filter(F.col("__k").isNotNull()).dropDuplicates()
    return keys, SketchSpec("__k", lambda: _XorKeyCollector(fp_bits))


def build_xor_filter(df: DataFrame, col: str, fp_bits: int = 8) -> XorFilter:
    """Build ONE xor filter over the distinct values of ``df[col]``.

    The dedup happens in Spark (map-side partial distinct); the peel
    runs in a single executor task (``aggregate_sketch`` with one
    partial, on the Arrow build path) and only the finished blob crosses
    to the driver — the driver never sees keys.  The distinct key set
    must fit one task (8 bytes/key of digests plus the peel's working
    set); beyond that use :func:`build_xor_shards`.

    The column's Arrow type picks the hash path exactly as for every
    other hash sketch (``hash_dispatch``): an integer column hashes as
    exact ints, a string one as strings, any other type is a TypeError
    — probe with a column of the same kind.  NULLs and '' are
    not keys.  An empty input gives an empty filter.
    """
    return aggregate_sketch(*_xor_keys(df, F.col(col), fp_bits), target_partials=1)


def build_xor_shards(
    df: DataFrame, col: str, shards: int, fp_bits: int = 8,
) -> DataFrame:
    """One job → DataFrame[shard int, sketch binary]: S xor filters,
    each peeled over its shard's distinct string keys as one sorted run
    of the grouped fold (``grouped_sketch(strategy="salted")``).

    Shard routing is ``xxhash64(cast(key as string)) mod S`` — the SAME
    function ``sharded.py`` uses, so a persisted family is probed by
    the existing ``sharded_contains`` unchanged.  Keys are string-cast
    JVM-side because that probe hashes the same JVM string cast.
    """
    keys, spec = _xor_keys(df, F.col(col).cast("string"), fp_bits)
    keyed = keys.withColumn("__shard", _shard_col(F.col("__k"), shards))
    return grouped_sketch(keyed, "__shard", spec, strategy="salted").select(
        F.col("__shard").cast("int").alias("shard"), "sketch")


def persist_xor_shards(
    family: DataFrame,
    store: SketchStore,
    name: str,
    shards: int,
    fp_bits: int = 8,
) -> int:
    """Persist DataFrame[shard, sketch] as one store object per shard
    plus a ``{name}.manifest`` readable by ``sharded_contains``.

    Shards that received no keys get an explicit EMPTY xor filter so a
    missing store object always means store breakage, never "empty
    shard" (the persist contract shared with persist_sharded_bloom via
    sharded.persist_family).
    """
    return persist_family(
        family.collect(), store, name, shards,
        empty_blob=lambda: XorFilter.build_digests([], fp_bits).to_bytes(),
        fmt="pbfs-xor-sharded-v1",
    )


def xor_semi_join(
    spark: SparkSession,
    probe_df: DataFrame,
    probe_col: str,
    build_df: DataFrame,
    build_col: str,
    fp_bits: int = 8,
    exact: bool = True,
) -> DataFrame:
    """bloom_semi_join's shape on a static xor filter.  With ``exact``
    the result is the plain semi join, planned by Catalyst, and no filter
    is built (``probe._sketch_semi_join``).  With ``exact=False`` the
    filter is built once over the (frozen) build keys and the probe side
    is pre-filtered with the 3-load membership test: a superset of the
    semi join with ~2^-fp_bits false positives and no false negatives
    by construction."""
    return _sketch_semi_join(
        probe_df, probe_col, build_df, build_col,
        _sketch_filter(spark, lambda keys: build_xor_filter(keys, build_col, fp_bits)),
        exact, caller="xor_semi_join")
