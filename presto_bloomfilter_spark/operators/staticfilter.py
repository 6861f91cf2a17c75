"""Distributed xor-filter construction and probing — static key sets.

The xor filter (functions/xorf.py, Graf & Lemire JEA 2020) needs its
COMPLETE key set at construction, so it cannot ride the mergeable
partial/tree dataflow that builds Bloom/SBBF/CBF.  The distributed
shape instead is:

- single filter (``build_xor_filter``): deduplicate keys in Spark, then
  ONE executor task peels the filter and ships one blob to the driver —
  the whole key set must fit that task, so this is the ≲10^8-key form
  (an eval set, a blocklist, a per-snapshot id set);
- sharded family (``build_xor_shards`` + ``persist_xor_shards``): route
  keys by the SAME ``xxhash64(string key) mod S`` function the sharded
  bloom family uses, peel each shard in its own task, persist one store
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

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from presto_bloomfilter_spark.functions.xorf import XorFilter
from presto_bloomfilter_spark.operators.probe import _INT_TYPES, _sketch_semi_join
from presto_bloomfilter_spark.operators.sharded import _shard_col
from presto_bloomfilter_spark.store import SketchStore

__all__ = [
    "build_xor_filter",
    "build_xor_shards",
    "persist_xor_shards",
    "xor_semi_join",
]


def build_xor_filter(df: DataFrame, col: str, fp_bits: int = 8) -> XorFilter:
    """Build ONE xor filter over the distinct values of ``df[col]``.

    The dedup happens in Spark (map-side partial distinct); the peel
    runs in a single executor task via ``applyInPandas`` and only the
    finished blob crosses to the driver — the driver never sees keys.
    The distinct key set must fit one task (~8-16 bytes/key working
    set); beyond that use :func:`build_xor_shards`.

    An integer column hashes as exact ints, as the probe hashes an
    integer column; anything else is cast to string JVM-side, so probe
    it with a string column.  NULLs are dropped JVM-side (reference null semantics — and on the int path
    this also keeps Arrow from floating the batch, the silent->2^53
    corruption hash_ints64 refuses).
    """
    ints = dict(df.dtypes)[col] in _INT_TYPES
    keys = (df.select((F.col(col) if ints else F.col(col).cast("string")).alias("__k"))
            .filter(F.col("__k").isNotNull()).dropDuplicates())
    build_keys = XorFilter.build_ints if ints else XorFilter.build_strings

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"sketch": [build_keys(pdf["__k"], fp_bits).to_bytes()]})

    rows = (
        keys.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(build, "sketch binary")
        .collect()
    )
    if not rows:
        return XorFilter.build_digests([], fp_bits)
    return XorFilter.from_bytes(bytes(rows[0].sketch))


def build_xor_shards(
    df: DataFrame, col: str, shards: int, fp_bits: int = 8,
) -> DataFrame:
    """One job → DataFrame[shard int, sketch binary]: S xor filters,
    each peeled in its own task over its shard's distinct string keys.

    Shard routing is ``xxhash64(cast(key as string)) mod S`` — the SAME
    function ``sharded.py`` uses, so a persisted family is probed by
    the existing ``sharded_contains`` unchanged.  Keys are string-cast
    JVM-side for the same reason that probe casts JVM-side: pandas
    stringification diverges on floated/boolean batches.
    """
    keyed = (
        df.select(F.col(col).cast("string").alias("__k"))
        .filter(F.col("__k").isNotNull())
        .withColumn("__shard", _shard_col(F.col("__k"), shards))
        .dropDuplicates(["__k"])
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        xf = XorFilter.build_strings(pdf["__k"], fp_bits)
        return pd.DataFrame({"shard": [int(pdf["__shard"].iloc[0])],
                             "sketch": [xf.to_bytes()]})

    return keyed.groupBy("__shard").applyInPandas(build, "shard int, sketch binary")


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
    from presto_bloomfilter_spark.operators.sharded import persist_family

    return persist_family(
        family, store, name, shards,
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
    """bloom_semi_join's shape on a static xor filter: build once over
    the (frozen) build keys, pre-filter the probe side with the 3-load
    membership test, then (optionally) remove the ~2^-fp_bits false
    positives with a broadcast exact semi join — equals the exact semi
    join, no false negatives by construction."""
    return _sketch_semi_join(spark, probe_df, probe_col, build_df, build_col,
                            lambda keys: build_xor_filter(keys, build_col, fp_bits),
                            exact, caller="xor_semi_join")
