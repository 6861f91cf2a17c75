"""Sharded bloom filters — membership state beyond one machine.

The north-star scale is 10^12 sequences.  A single bloom at n=10^12,
p=0.01 is a ~1.5 TB bitset: it cannot be built in one accumulator,
broadcast to executors, or merged on a driver.  The scale shape is a
FAMILY of S independent filters sharded by key hash:

- build: route each key to shard = xxhash64(key) mod S, then the
  existing grouped machinery (map-side per-(partition, shard) partials,
  blob-only shuffle) builds all S filters in one job; each filter is
  sized n/S so every task and every store object stays bounded;
- persist: one store object per shard (``{name}.s{shard}``) — the
  sketch-table/store layer already handles atomic publish;
- probe: repartition probe rows by the SAME shard function, so each
  task touches exactly one shard; the task lazily loads that one
  filter from the store (executor-local sha256-keyed LRU), cuts each
  Arrow batch into per-shard slices and probes them with the shared
  ``probe._probe_keys`` kernel, passing the probe rows' own columns
  through.  No executor ever holds more than one shard (plus cache),
  no broadcast of the full family exists.

Union semantics per shard are unchanged (bitset OR), so the family
keeps the merge algebra: two sharded families with identical (S, n, p)
merge shard-wise.  Reference parity: this is ``bloom_filter`` /
``bloom_filter_contains`` (BloomFilterAggregation.java:31-62,
BloomFilterContainsScalarFunction.java:33-42) lifted to a key space no
single filter can hold.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.aggregate import _key_slices
from presto_bloomfilter_spark.operators.probe import _cached_sketch, _probe_keys, _sketch_semi_join
from presto_bloomfilter_spark.store import SketchStore


def _shard_col(col, shards: int):
    return F.pmod(F.xxhash64(col), F.lit(shards)).cast("int")


def build_sharded_bloom(
    df: DataFrame,
    col: str,
    shards: int,
    expected_insertions_per_shard: int,
    fpp: float = BloomFilter.DEFAULT_FPP,
) -> DataFrame:
    """One job → DataFrame[shard string, sketch binary] with S filters.

    Uses the grouped map-side partial path: raw rows never shuffle,
    only (partitions x shards) sketch blobs do; a skewed key column
    cannot skew shards because the shard function is a hash."""
    keyed = df.select(F.col(col).cast("string").alias("__k")).withColumn(
        "__shard", _shard_col(F.col("__k"), shards)
    )
    return agg.grouped_sketch(
        keyed, "__shard", agg.bloom_over_strings("__k", expected_insertions_per_shard, fpp)
    ).withColumnRenamed("__shard", "shard")


def persist_sharded_bloom(
    family: DataFrame,
    store: SketchStore,
    name: str,
    shards: int,
    expected_insertions_per_shard: int = BloomFilter.DEFAULT_EXPECTED_INSERTIONS,
    fpp: float = BloomFilter.DEFAULT_FPP,
) -> int:
    """Persist DataFrame[shard, sketch] as one store object per shard,
    plus a ``{name}.manifest`` JSON describing the family; returns the
    number of shards written (always ``shards``).

    Every shard id in [0, shards) gets a store object — shards that
    received no build keys get a freshly-constructed EMPTY filter — so
    a probe-side missing object is always an ERROR (wrong/un-shared
    store_root, partial persist, deleted file), never "empty shard".
    Without this, a mis-routed probe silently drops every row sent to
    the absent shard, violating the no-false-negatives guarantee.

    The rows are S small blobs — collecting them is
    O(S * filter_bytes/S) = O(total filter bytes) streamed through the
    driver once at build time; probes never do this."""
    return persist_family(
        family.collect(), store, name, shards,
        empty_blob=lambda: BloomFilter(expected_insertions_per_shard, fpp).to_bytes(),
        fmt="pbfs-sharded-v1",
    )


def persist_family(
    rows: list,
    store: SketchStore,
    name: str,
    shards: int,
    empty_blob,
    fmt: str,
) -> int:
    """The shared persist contract for every sharded filter family
    (bloom here, xor in operators/staticfilter.py): one store object
    per shard id in [0, shards) of the collected ``(shard, sketch)``
    rows — absent shards backfilled with ``empty_blob()`` so a
    probe-side missing object always means store breakage, never
    "empty shard" — plus the ``{name}.manifest`` that
    ``sharded_contains`` validates before any task launches."""
    written = set()
    for r in rows:
        store.put(f"{name}.s{int(r.shard)}", bytes(r.sketch))
        written.add(int(r.shard))
    for s in range(shards):
        if s not in written:
            store.put(f"{name}.s{s}", empty_blob())
    manifest = json.dumps(
        {"name": name, "shards": shards, "format": fmt}
    ).encode()
    store.put_meta(f"{name}.manifest", manifest)
    return shards


def sharded_contains(
    spark: SparkSession,
    probe_df: DataFrame,
    probe_col: str,
    store_root: str,
    name: str,
    shards: int,
    keep_hits: bool = True,
    probe_parallelism: int | None = None,
    flag_col: str | None = None,
) -> DataFrame:
    """Filter probe_df to rows whose key (probably) belongs to the
    family — no false negatives, per-shard FP bound.  With
    ``keep_hits=False`` the complement is returned (rows that
    DEFINITELY do not belong — the streaming-dedup "fresh rows" shape).
    With ``flag_col`` set, EVERY row is returned with a boolean
    membership column instead — the one-scan shape for callers that
    need both totals and hits (contamination_sharded).

    The probe repartitions by shard so each task owns exactly one
    shard by default, lazily loads THAT filter from the store
    (executor-local LRU keyed by blob sha256), and probes the whole
    partition vectorized — peak executor memory: one shard filter,
    regardless of S.  ``probe_parallelism`` > shards lifts the S-task
    cap for huge probe streams by salting within shards; a task may
    then hold several shards' rows and loads each filter through the
    LRU (peak memory: the filters present in the task, ≤ LRU cap).

    Fails LOUDLY on store misconfiguration: the family manifest
    (written by :func:`persist_sharded_bloom`) is validated on the
    driver before any task launches, and a missing shard object inside
    a task raises instead of treating it as an empty shard — on a real
    cluster a driver-local ``store_root`` that executors can't see
    must be an error, not silent false negatives.
    """
    driver_store = SketchStore(store_root)
    manifest_key = f"{name}.manifest"
    if not driver_store.meta_exists(manifest_key):
        raise FileNotFoundError(
            f"sharded bloom family '{name}' has no manifest under "
            f"{store_root!r}; persist with persist_sharded_bloom first "
            f"(or the store_root is wrong / not shared)"
        )
    manifest = json.loads(driver_store.get_meta(manifest_key))
    if int(manifest["shards"]) != shards:
        raise ValueError(
            f"sharded bloom family '{name}' was persisted with "
            f"{manifest['shards']} shards but probed with {shards}; "
            f"the shard routing function would disagree with the build"
        )
    # v2 manifests (written by epoch-atomic updaters such as
    # ShardedStreamingBloomDedup) map each shard to a VERSIONED store
    # key; the manifest swap is the single atomic publish point, so the
    # probe must resolve keys through it rather than assume the v1
    # fixed naming.
    shard_keys = {
        int(s): str(k) for s, k in manifest.get("shard_keys", {}).items()
    } or {s: f"{name}.s{s}" for s in range(shards)}
    missing = [s for s in range(shards) if s not in shard_keys]
    if missing:
        raise ValueError(
            f"sharded bloom family '{name}' manifest lacks keys for "
            f"shards {missing}; the family was not published atomically"
        )

    # the probe key is Spark-cast to string ONCE, JVM-side, and carried
    # through the shuffle: the build inserted Spark cast("string")
    # forms, so the probe hashes exactly those strings (a Python-side
    # stringification would differ: 'True' vs 'true', '1.0E-7')
    with_shard = probe_df.withColumn(
        "__k", F.col(probe_col).cast("string")
    ).withColumn("__shard", _shard_col(F.col("__k"), shards))
    if probe_parallelism and probe_parallelism > shards:
        # spread each shard's rows over many tasks: hash-partitioning
        # on (shard, salt) means a task may hold rows of SEVERAL
        # shards, each loaded lazily through the executor LRU — peak
        # memory is bounded by the filters actually present in the
        # task (≤ min(S, LRU capacity)), traded for full parallelism
        with_shard = with_shard.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.coalesce(F.col("__k"), F.lit(""))),
                   F.lit(max(1, probe_parallelism // shards))),
        ).repartition(probe_parallelism, "__shard", "__salt")
    else:
        with_shard = with_shard.repartition(shards, "__shard")
    keep_cols = probe_df.columns
    out_schema = StructType(list(probe_df.schema.fields))
    if flag_col is not None:
        out_schema.add(flag_col, "boolean")

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        store = SketchStore(store_root)
        for b in batches:
            for shard, sub in _key_slices(b, "__shard"):
                key = shard_keys[int(shard)]
                if not store.exists(key):
                    # persist_sharded_bloom writes EVERY shard in
                    # [0, S) (empty filters included) — an absent
                    # object means the store is broken or unreachable
                    # from this executor, and returning "no rows"
                    # here would be a silent false negative
                    raise FileNotFoundError(
                        f"shard object {key!r} missing from sketch store "
                        f"{store_root!r} (manifest says {shards} shards "
                        f"exist); store unreachable or partially persisted"
                    )
                hits = _probe_keys(_cached_sketch(store.get_bytes(key)), sub.column("__k"))
                out = sub.select(keep_cols)
                if flag_col is not None:
                    yield out.append_column(flag_col, pa.array(hits))
                else:
                    yield out.filter(pa.array(hits if keep_hits else ~hits))

    return with_shard.mapInArrow(probe, out_schema)


def sharded_bloom_semi_join(
    spark: SparkSession,
    probe_df: DataFrame,
    probe_col: str,
    build_df: DataFrame,
    build_col: str,
    store_root: str,
    shards: int = 16,
    expected_insertions_per_shard: int = 1_000_000,
    fpp: float = BloomFilter.DEFAULT_FPP,
    name: str = "sharded_bloom",
    exact: bool = True,
) -> DataFrame:
    """bloom_semi_join for key spaces beyond one filter.  The shared
    ``probe._sketch_semi_join`` dataflow supplies the key rule (refused
    incomparable key types, '' keys kept) and the plan.  With ``exact``
    the result is the plain semi join, planned by Catalyst, and no family
    is built or persisted under ``store_root``.  With ``exact=False`` the
    sharded family is built (one grouped job) and persisted one object
    per shard when this is called, and the probe side is pre-filtered
    shard-locally when the result runs: a superset of the semi join with
    no false negatives.  The family is persisted under the content
    address ``{name}-{digest}`` (the digest covers the geometry and the
    shard blobs), so a later call on the same ``store_root`` and
    ``name`` with other build keys cannot overwrite the family an
    earlier, not yet run result probes."""

    def prefilter(keys: DataFrame, probe: DataFrame, col: str) -> DataFrame:
        rows = sorted(build_sharded_bloom(keys, build_col, shards,
                                          expected_insertions_per_shard, fpp).collect(),
                      key=lambda r: int(r.shard))
        digest = hashlib.sha256(repr((shards, expected_insertions_per_shard, fpp)).encode())
        for r in rows:
            digest.update(b"%d:" % int(r.shard) + bytes(r.sketch))
        family = f"{name}-{digest.hexdigest()[:16]}"
        persist_family(rows, SketchStore(store_root), family, shards,
                       empty_blob=lambda: BloomFilter(expected_insertions_per_shard, fpp).to_bytes(),
                       fmt="pbfs-sharded-v1")
        return sharded_contains(spark, probe, col, store_root, family, shards)

    return _sketch_semi_join(probe_df, probe_col, build_df, build_col, prefilter,
                             exact, caller="sharded_bloom_semi_join")


def allocate_bloom_budget(counts, total_bits: float, weights=None,
                          min_bits_per_key: float = 1.0):
    """Allocate a total bit budget across a COLLECTION of bloom filters
    to minimize the weighted sum of false-positive rates — the KKT
    water-filling shape of "Optimizing Collections of Bloom Filters
    within a Space Budget" (VLDB 2024).  Heterogeneous filters (a hot
    shard probed constantly next to a cold one, or per-source seen-sets
    of very different cardinalities) should NOT share one fpp: bits are
    worth more where n_i is small or the probe weight w_i is high.

    Model: an optimally-hashed bloom with b_i bits over n_i keys has
    p_i = c^(b_i/n_i), c = exp(-(ln 2)^2) ≈ 0.6185.  Minimizing
    Σ w_i·p_i subject to Σ b_i = total_bits gives the closed form
    bits-per-key x_i = K + log_c(n_i / w_i), with K chosen to spend the
    budget; an active-set pass clamps any x_i below ``min_bits_per_key``
    (a filter that "deserves" fewer bits than that is pinned at the
    floor and the freed budget re-spread).

    ``counts``: per-filter expected insertions n_i (dict key → n or a
    sequence); ``weights``: probe weights w_i (default 1).  Returns
    {key: (bits_i, fpp_i)} — feed fpp_i to each shard/filter build.
    Pure closed-form numpy: O(F log F), no Spark, call it on the
    driver before sizing a family.
    """
    import numpy as np

    if isinstance(counts, dict):
        keys = list(counts)
        n = np.asarray([counts[k] for k in keys], dtype=np.float64)
    else:
        n = np.asarray(list(counts), dtype=np.float64)
        keys = list(range(len(n)))
    if not len(n) or (n <= 0).any():
        raise ValueError("counts must be positive")
    w = (np.ones(len(n)) if weights is None
         else np.asarray([weights[k] for k in keys], dtype=np.float64)
         if isinstance(weights, dict)
         else np.asarray(list(weights), dtype=np.float64))
    if (w <= 0).any() or len(w) != len(n):
        raise ValueError("weights must be positive, one per filter")
    if total_bits < min_bits_per_key * n.sum():
        raise ValueError(
            f"budget {total_bits:.3g} bits cannot give every key the "
            f"{min_bits_per_key} bits/key floor ({min_bits_per_key * n.sum():.3g} needed)")

    c = math.exp(-(math.log(2.0) ** 2))
    logc = math.log(c)  # negative
    # x_i = K + log_c(n_i / w_i); active-set clamp at the floor
    base = np.log(n / w) / logc
    free = np.ones(len(n), dtype=bool)
    x = np.empty(len(n))
    for _ in range(len(n) + 1):
        budget_free = total_bits - min_bits_per_key * n[~free].sum()
        K = (budget_free - (n[free] * base[free]).sum()) / n[free].sum()
        x[free] = K + base[free]
        x[~free] = min_bits_per_key
        newly = free & (x < min_bits_per_key)
        if not newly.any():
            break
        free &= ~newly
        if not free.any():
            x[:] = min_bits_per_key
            break
    bits = x * n
    fpp = np.power(c, x)
    return {k: (float(b), float(p)) for k, b, p in zip(keys, bits, fpp)}
