"""Distributed sketch aggregation — the UDAF layer.

PySpark has no user-defined aggregate functions, so the reference's
partial/combine/output protocol (reference
AbstractBloomFilterAggregation.java:19-60 + BloomFilterStateSerializer
.java:21-47) is rebuilt as explicit dataflow:

  ungrouped:  df.mapInArrow(partial build)   — one tiny binary row per
              input partition (this is Presto's "partial" phase; no
              shuffle of raw rows, only of sketch blobs)
              → repartition(fan_in).mapInArrow(merge)  — intermediate
              tree level, bounds the final fan-in (north_rule:
              "two-level treeAggregate-style partial-sketch merges to
              avoid driver hotspots")
              → driver merges ≤ fan_in blobs ("final" phase).

  grouped:    df.mapInArrow(per-key partial build)  — map_side: one
              partial per (input partition, key), so only blobs
              shuffle and a hot key costs nothing extra
              → repartition(key).sortWithinPartitions(key)
                .mapInArrow(fold each sorted run of equal keys) —
              the per-key combine; the salted strategy runs the same
              sorted-run fold over raw rows keyed by (key, salt), then
              the per-key merge, so no single task owns a whole hot key.

Scale notes (100 TB / 1000 executors): the partial phase reads each
input partition exactly once and emits O(sketch_size) bytes per
partition — shuffle volume is partitions × sketch bytes, independent of
row count.  fan_in bounds both the level-2 task count and the driver's
final merge work.  A sorted-run fold streams Arrow batches and holds one
run's state at a time, but every row of a run lands in one task (that
is *why* salting is mandatory for a 55%-skewed `source` on the raw-row
path).
"""

from __future__ import annotations

import contextlib
import itertools
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, functions as F

from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.cms import CountMinSketch
from presto_bloomfilter_spark.functions.hashing import takes_counts
from presto_bloomfilter_spark.functions.hll import HyperLogLog
from presto_bloomfilter_spark.functions.kll import KLLSketch
from presto_bloomfilter_spark.functions.multi import MultiSketch
from presto_bloomfilter_spark.functions.serialization import merge_blobs, sketch_from_bytes
from presto_bloomfilter_spark.store import _source_files

DEFAULT_FAN_IN = 16

_ARROW_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def tune_arrow_batches(df_or_spark) -> bool:
    """Pin JVM→Python Arrow transfer batches to a cache-resident size.

    Rows here carry wide ``array<int>`` token columns (~180 elements),
    so the 10,000-row default batch is ~7 MB of list data — it thrashes
    L2 on both sides of the socket.  4096-row (~3 MB) batches keep the
    produce→serialize→consume pipeline cache-resident: measured 4-7x on
    the DataFrame-path sketch build (4.0 s → 0.56 s for 75M tokens at
    local[16]).  Only applied while the conf sits at its default, so an
    explicit user setting always wins; returns whether it changed it.

    NOTE: this change is session-global and persists after the call —
    lazy operators (``grouped_sketch``) return un-executed DataFrames,
    so the conf must still hold when the action finally runs.  Eager
    operators (``aggregate_sketch``) instead use the scoped
    ``_tuned_arrow_batches`` context manager, which restores the
    previous value once their job completes.
    """
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    try:
        if spark.conf.get(_ARROW_BATCH_KEY, "10000") == "10000":
            spark.conf.set(_ARROW_BATCH_KEY, "4096")
            return True
    except Exception:  # pragma: no cover — conf API unavailable
        pass
    return False


@contextlib.contextmanager
def _tuned_arrow_batches(df_or_spark):
    """Scoped form of tune_arrow_batches: set the cache-resident Arrow
    batch size for the duration of an eager job, then restore, so
    unrelated pandas-UDF workloads in the same session keep the default."""
    changed = tune_arrow_batches(df_or_spark)
    try:
        yield
    finally:
        if changed:
            try:
                getattr(df_or_spark, "sparkSession", df_or_spark).conf.set(
                    _ARROW_BATCH_KEY, "10000")
            except Exception:  # pragma: no cover
                pass


class TokenDedupAccumulator:
    """Map-side pre-aggregation of duplicate token ids before sketch insert.

    Token corpora are heavily Zipf-skewed over a bounded vocabulary, so a
    partition sees each id thousands of times.  Bloom/HLL inserts are
    idempotent and a sketch that ``takes_counts`` (CMS, count-sketch,
    ``MultiSketch``) gets each id's count with it, so counting duplicates
    first and hashing each unique id once is semantically identity — but
    it turns ~200 bytes of uint64 hash traffic per token into one
    cache-resident ``np.bincount`` increment (~8 bytes/token), which is
    the difference between a memory-bandwidth-bound kernel (measured
    0.39 scaling efficiency 4→16 cores on this host) and a compute-bound
    one (0.81+).  This is the sketch-domain analogue of Spark's map-side
    partial aggregation before a shuffle.

    Adaptive range: counts live in a [base, base+len) int64 array grown
    on demand; if the observed id range exceeds ``RANGE_CAP`` (i.e. the
    column is not a bounded vocab), we flush and fall back to direct
    vectorized inserts — no pathological memory use on arbitrary ints.

    Sparse mode: one key's stream in a grouped build holds a few
    thousand ids spread over the whole vocabulary, where a
    vocabulary-sized count array costs far more to allocate and scan
    than the ids themselves.  While ``4 × buffered ids < max − min`` of
    the ids seen so far, the id arrays are only buffered, and ``flush``
    pushes ``np.unique(ids, return_counts=True)``: the same sorted
    (id, count) stream the dense flush reads off the count array, so the
    wrapped sketch gets identical calls and writes identical bytes.
    Once the buffer is dense enough it is bincounted into the array and
    the accumulator stays dense (a whole row group crosses on its first
    batch).  The [base, base+len) window is tracked in both modes, so the
    fallback to direct inserts happens at the same id either way.
    """

    RANGE_CAP = 1 << 22  # 4M distinct ids → 32MB counts array, max

    def __init__(self, sketch):
        self.sketch = sketch
        self.direct = False
        self._reset()

    def _reset(self) -> None:
        self.base, self._size = 0, 0  # count window [base, base+_size); 0 = none
        self._counts: np.ndarray | None = None  # dense mode
        self._pending: list[np.ndarray] = []  # sparse mode: buffered ids
        self._n_pending = 0
        self._lo, self._hi = float("inf"), float("-inf")  # ids seen so far

    @property
    def counts(self) -> np.ndarray | None:
        """Pending counts as the dense window array (bincounted from the
        buffer while sparse); None when nothing is pending.  The
        benchmark's per-layer replay reads the pre-flush stream here."""
        if self._pending:
            return np.bincount(np.concatenate(self._pending) - self.base,
                               minlength=self._size)
        return self._counts

    def _cover(self, mn: int, mx: int) -> bool:
        """Grow the count window to cover [mn, mx]; False when that
        would pass ``RANGE_CAP``."""
        if not self._size:
            if mx - mn >= self.RANGE_CAP:
                return False
            # cap the PADDED size too, not just the raw range, so the
            # first window never exceeds RANGE_CAP counts
            pad = max(1024, (mx - mn) // 4)
            pad = min(pad, max(0, (self.RANGE_CAP - (mx - mn + 1)) // 2))
            self.base, self._size = mn - pad, mx - mn + 2 * pad + 1
            return True
        nb = min(self.base, mn)
        ne = max(self.base + self._size, mx + 1)
        if ne - nb > self.RANGE_CAP:
            return False
        if self._counts is not None and ne - nb > self._size:
            grown = np.zeros(ne - nb, dtype=np.int64)
            grown[self.base - nb : self.base - nb + self._size] = self._counts
            self._counts = grown
        self.base, self._size = nb, ne - nb
        return True

    def add_ints(self, flat: np.ndarray) -> None:
        if flat.size == 0:
            return
        if self.direct:
            self.sketch.add_ints(flat)
            return
        mn = int(flat.min())
        mx = int(flat.max())
        if not self._cover(mn, mx):
            self.flush()
            self.direct = True
            self.sketch.add_ints(flat)
            return
        if self._counts is None:
            self._lo, self._hi = min(self._lo, mn), max(self._hi, mx)
            self._n_pending += flat.size
            if 4 * self._n_pending < self._hi - self._lo:
                # a copy: the caller may reuse its array before flush
                self._pending.append(flat.copy())
                return
            if self._pending:
                flat = np.concatenate([*self._pending, flat])
                self._pending = []
            self._counts = np.bincount(flat - self.base, minlength=self._size)
            return
        self._counts += np.bincount(flat - self.base, minlength=self._size)

    @property
    def add_strings(self):
        """The wrapped sketch's string insert: string keys have no id
        to count, so they go straight in (an AttributeError for a sink
        that takes ids only, which ``hash_dispatch`` reports)."""
        return self.sketch.add_strings

    def flush(self) -> None:
        """Push accumulated (id, count) pairs into the wrapped sketch."""
        if self._counts is not None:
            nz = np.nonzero(self._counts)[0]
            vals, counts = nz + self.base, self._counts[nz]
        elif self._pending:
            vals, counts = np.unique(np.concatenate(self._pending), return_counts=True)
            vals = vals.astype(np.int64)
        else:
            return
        self._reset()
        if vals.size:
            if takes_counts(self.sketch):
                self.sketch.add_ints(vals, counts=counts)
            else:
                total = int(counts.sum())
                self.sketch.add_ints(vals)
                # keep the offered-rows metric meaning rows, not uniques
                if hasattr(self.sketch, "approx_items"):
                    self.sketch.approx_items += total - int(vals.size)

    def finish(self):
        self.flush()
        return self.sketch

    def to_bytes(self) -> bytes:
        return self.finish().to_bytes()


def _unwrap(sk):
    # a token accumulator flushes, an xor key collector peels
    return sk.finish() if hasattr(sk, "finish") else sk


def _non_null(col) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col.drop_null() if col.null_count else col


def hash_dispatch(sk, op: str, col: pa.Array, name: str):
    """The one hash-path choice that build (``op="add"``) and probe
    (``op="might_contain"``) share, so both hash a column the same way
    by construction.  ``col`` is NULL-free; its Arrow type picks:

    - integer → ``sk.<op>_ints`` on the exact ints (every int width
      hashes alike, so an int32 build matches a bigint probe);
    - string, large_string or dictionary of either → ``sk.<op>_strings``
      on the Arrow array itself: the sketch's key rule
      (``hashing.key_digests``) drops ``''`` for a membership filter in
      Arrow and converts the batch once, to hash it;
    - anything else (floating, boolean, date, timestamp, decimal,
      binary, …) → TypeError naming the column and its type: which
      string form it would hash as is the caller's choice.

    A string column into a sketch without a string path (the id sink of
    ``top_k_tokens``) is a TypeError naming the column too.
    """
    if pa.types.is_integer(col.type):
        return getattr(sk, op + "_ints")(col.to_numpy(zero_copy_only=False))
    t = col.type.value_type if pa.types.is_dictionary(col.type) else col.type
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
        to = "an integer or string type" if pa.types.is_floating(t) else "string"
        raise TypeError(
            f"column '{name}' ({col.type}) into hash sketch "
            f"{type(sk).__name__}: cast it to {to} first")
    strings = getattr(sk, op + "_strings", None)
    if strings is None:
        raise TypeError(
            f"column '{name}' ({col.type}) into {type(getattr(sk, 'sketch', sk)).__name__}, "
            f"which takes integer keys only")
    return strings(col)


@dataclass(frozen=True)
class SketchSpec:
    """What one build computes: ``factory()`` → an empty sketch (token
    specs wrap it in ``TokenDedupAccumulator``), ``update(sketch,
    batch)`` → a vectorized insert of one Arrow batch's ``column``.
    Both run inside executors.

    ``update`` drops NULLs at the Arrow level first (converting first
    would float an int batch: NaN for nulls, silent precision loss
    above 2^53), flattens list columns (the vectorized F.explode,
    SURVEY.md §2.3), then picks the insert path:

    - hash sketches (those with ``add_ints``) → :func:`hash_dispatch`,
      the same choice the probe makes (a column that is neither
      integer nor string, a float column among them, is a TypeError:
      cast it first);
    - list<floating> → an (m, ``sketch.d``) matrix, then ``add`` (FD /
      Gram); a vector with a NULL element or the wrong length is loud;
    - otherwise → ``add`` (the quantile family).

    Real NaN values still reach the sketch, which handles them as it
    does on direct use.
    """

    column: str
    factory: Callable[[], object]

    @property
    def columns(self) -> tuple[str, ...]:
        return (self.column,)

    def update(self, sk, batch: pa.RecordBatch) -> None:
        col = _non_null(batch.column(batch.schema.get_field_index(self.column)))
        hashed = hasattr(sk, "add_ints")
        t = col.type
        if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
            if pa.types.is_floating(t.value_type) and not hashed:
                if len(col):
                    sk.add(_matrix(col, sk.d, self.column))
                return
            col = _non_null(col.flatten())
        if not len(col):
            return
        if hashed:
            hash_dispatch(sk, "add", col, self.column)
        else:
            sk.add(col.to_numpy(zero_copy_only=False))


def _matrix(col: pa.Array, d: int, name: str) -> np.ndarray:
    """list<float> rows → (m, d) float64 matrix (zero-copy flatten +
    reshape, the row-batch form FD/Gram accumulators eat)."""
    flat = col.flatten()
    if flat.null_count or len(flat) != len(col) * d:
        raise ValueError(
            f"ragged or null vectors in '{name}': {len(flat)} values for "
            f"{len(col)} rows at declared dim {d}")
    return flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, d)


# ---- prebuilt specs (any other build: SketchSpec(column, factory)) -----------


def bloom_over_strings(col: str, n: int = BloomFilter.DEFAULT_EXPECTED_INSERTIONS,
                       p: float = BloomFilter.DEFAULT_FPP) -> SketchSpec:
    """bloom_filter(el[, n[, p]]) build (reference
    BloomFilterAggregation.java:31-62).  The column's Arrow type picks
    the hash path (string → string hash, integer → int hash), so a
    filter built over ints must be probed with ints; ``bloom_over_ints``
    is the same function."""
    return SketchSpec(col, lambda: BloomFilter(n, p))


bloom_over_ints = bloom_over_strings


def hll_over_tokens(col: str = "tokens", precision: int = HyperLogLog.DEFAULT_PRECISION) -> SketchSpec:
    return SketchSpec(col, lambda: TokenDedupAccumulator(HyperLogLog(precision)))


def kll_over_column(col: str, k: int = KLLSketch.DEFAULT_K) -> SketchSpec:
    return SketchSpec(col, lambda: KLLSketch(k))


def token_family_over_tokens(
    col: str = "tokens",
    bloom_n: int = 1_000_000,
    bloom_p: float = BloomFilter.DEFAULT_FPP,
    cms_eps: float = 1e-4,
    cms_delta: float = 0.01,
    hll_precision: int = HyperLogLog.DEFAULT_PRECISION,
) -> SketchSpec:
    """Bloom + CMS + HLL over one tokens scan — the fused sketch family.

    The scan (parquet decode + transport) dominates a sketch build, so
    building membership, frequency, and cardinality sketches in a single
    pass costs ~⅓ of three separate jobs; all three flush from the same
    dedup counts (TokenDedupAccumulator), so the kernels run once per
    unique id per partition, not once per token.
    """
    return SketchSpec(col, lambda: TokenDedupAccumulator(MultiSketch([
        BloomFilter(bloom_n, bloom_p),
        CountMinSketch(cms_eps, cms_delta),
        HyperLogLog(hll_precision),
    ])))


# ---- ungrouped aggregation (two-level tree merge) ----------------------------


class BuildMetrics:
    """Sketch-build/merge counters over Spark accumulators (north_rule:
    'sketch-merge metrics').  Executor-side updates flow back through the
    task-completion protocol; read the properties after the job."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._rows = sc.accumulator(0)
        self._batches = sc.accumulator(0)
        self._partials = sc.accumulator(0)
        self._merges = sc.accumulator(0)
        self._encode_s = sc.accumulator(0.0)
        self._blob_bytes = sc.accumulator(0)

    def as_dict(self) -> dict:
        return {
            "rows": self._rows.value,
            "batches": self._batches.value,
            "partial_sketches": self._partials.value,
            "merges": self._merges.value,
            "encode_s": self._encode_s.value,
            "blob_bytes": self._blob_bytes.value,
        }


def _build_partial(spec: SketchSpec, batches: Iterable[pa.RecordBatch],
                   metrics: BuildMetrics | None = None):
    """The partial phase of every ungrouped build (the reference's
    input/partial-state step): factory → update each non-empty batch →
    (finished sketch, rows).  The batches come from mapInArrow, the
    shared parquet row-group reader."""
    sk, rows, n_batches = spec.factory(), 0, 0
    for b in batches:
        if b.num_rows:
            spec.update(sk, b)
            rows += b.num_rows
            n_batches += 1
    if metrics is not None:
        metrics._rows.add(rows)
        metrics._batches.add(n_batches)
        metrics._partials.add(1)
    return _unwrap(sk), rows


def _encode(sketches: list, metrics: BuildMetrics | None = None) -> list[bytes]:
    """The blobs of ``sketches``.  A partial phase passes its
    ``metrics``, which gain the encode seconds and the blob bytes."""
    t0 = time.perf_counter()
    blobs = [sk.to_bytes() for sk in sketches]
    if metrics is not None:
        metrics._encode_s.add(time.perf_counter() - t0)
        metrics._blob_bytes.add(sum(map(len, blobs)))
    return blobs


def _blob_batch(sk, metrics: BuildMetrics | None = None) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays([pa.array(_encode([sk], metrics), pa.binary())], ["sketch"])


def _row_group_batches(path: str, cols: list[str],
                       row_groups: Iterable[int]) -> Iterator[pa.RecordBatch]:
    """The one direct parquet reader: opens the file once and reads each
    of ``row_groups`` with only ``cols``."""
    pf = pq.ParquetFile(path)
    for rg in row_groups:
        yield from pf.read_row_group(rg, columns=cols).to_batches()


def _list_shards(files: list[str]) -> list[tuple[str, int]]:
    """The (file, row group) shards of ``files``, from their footers
    (read on the driver)."""
    return [(f, rg) for f in files for rg in range(pq.read_metadata(f).num_row_groups)]


def _fused_shards(spark, shards: list, n_tasks: int | None):
    """(task DataFrame, per-task shard lists) for a scan that runs in the
    Python workers: shard i runs in task i mod n_tasks, where n_tasks =
    min(requested or defaultParallelism, number of shards) — strided so
    file-position skew balances out.  Task t's one input row is t."""
    n = max(1, min(n_tasks or spark.sparkContext.defaultParallelism, len(shards)))
    return spark.range(0, n, 1, n), [shards[t::n] for t in range(n)]


def _task_shards(groups: list, batches: Iterator[pa.RecordBatch]) -> list:
    """A ``_fused_shards`` task's shard list, read off its input rows."""
    return [s for b in batches for t in b.column(0).to_pylist() for s in groups[t]]


def _scan_shards(shards: list, cols: list[str]) -> Iterator[pa.RecordBatch]:
    """A task's batches: each of its files opened once, row groups in
    shard order."""
    for path, run in itertools.groupby(shards, key=lambda s: s[0]):
        yield from _row_group_batches(path, cols, [rg for _, rg in run])


def _merge_partials(metrics: BuildMetrics | None = None):
    """mapInArrow body of one tree-merge level: fold the task's blobs."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        n = 0

        def blobs():
            nonlocal n
            for b in batches:
                n += b.num_rows
                yield from b.column(0).to_pylist()

        sk = merge_blobs(blobs())
        if sk is not None:
            if metrics is not None:
                metrics._merges.add(n - 1)
            yield _blob_batch(sk)

    return fn


def aggregate_sketch(
    df: DataFrame,
    spec: SketchSpec,
    fan_in: int = DEFAULT_FAN_IN,
    target_partials: int | None = None,
    metrics: BuildMetrics | None = None,
):
    """Build one sketch over the whole DataFrame; returns the sketch object.

    Column pruning: only spec.columns are read, so the parquet scan
    prunes everything else.  ``target_partials`` coalesces (no shuffle)
    the scan to that many tasks first — it defaults to the session's
    defaultParallelism (the cluster's core count) so each worker builds
    exactly one partial: partial count (and so merge fan-in and blob
    shuffle volume) tracks cluster size, not input split count, and the
    driver never touches ``rdd.getNumPartitions()`` (which builds the
    DAG driver-side, ~100s of ms per call).  Pass ``target_partials=0``
    to keep the input partitioning as-is.
    """
    if target_partials is None:
        target_partials = df.sparkSession.sparkContext.defaultParallelism
    pruned = df.select(*spec.columns)
    if target_partials:
        pruned = pruned.coalesce(target_partials)

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield _blob_batch(_build_partial(spec, batches, metrics)[0], metrics)

    with _tuned_arrow_batches(df):
        partials = pruned.mapInArrow(partial, "sketch binary")
        # coalesce never INCREASES partition count, so n_parts may
        # overstate the real partial count for narrow inputs; the cost
        # is at most log_fan_in(target) extra repartition rounds over a
        # handful of sketch blobs (milliseconds) — cheaper than the
        # driver-side DAG build getNumPartitions() would need to know
        # the true count
        n_parts = target_partials or pruned.rdd.getNumPartitions()
        return _tree_merge_collect(partials, n_parts, fan_in, spec, metrics)


def _tree_merge_collect(
    partials: DataFrame,
    n_parts: int,
    fan_in: int,
    spec: SketchSpec | None = None,
    metrics: BuildMetrics | None = None,
):
    """Tree merge of a blob DataFrame down to one sketch.

    Each level's tasks merge ~fan_in blobs, so no task (and finally no
    driver) ever holds more than fan_in sketches — at 8000 partials and
    fan_in=16 that is 500 → 32 → 2 tasks, then the driver merges ≤
    fan_in blobs (north_rule: treeAggregate-style merges, no driver
    hotspot).
    """
    merge_fn = _merge_partials(metrics)
    while n_parts > fan_in:
        n_parts = -(-n_parts // fan_in)
        partials = partials.repartition(n_parts).mapInArrow(merge_fn, "sketch binary")
    blobs = [r.sketch for r in partials.collect()]
    if not blobs:
        if spec is None:
            raise ValueError("no sketches to merge")
        return _unwrap(spec.factory())
    if metrics is not None:
        metrics._merges.add(len(blobs) - 1)
    # deserialize in a thread pool: zlib and zstd decompression, the
    # payload digest check and the numpy buffer copies release the GIL,
    # and per-blob decode (~10 ms for a fused-build partial) dominates
    # the driver tail — the merges themselves are sub-ms vector ops
    # (SCALING_PROFILE.md)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(8, len(blobs))) as ex:
        return merge_blobs(blobs, ex.map)


def aggregate_sketch_from_parquet(
    spark,
    source,
    spec: SketchSpec,
    n_tasks: int | None = None,
    fan_in: int = DEFAULT_FAN_IN,
    metrics: BuildMetrics | None = None,
):
    """Fused columnar scan + partial sketch build over parquet files.

    The DataFrame path (``aggregate_sketch``) routes every token through
    the JVM: parquet scan → InternalRow → Arrow serialization → socket →
    Python.  For a sketch build that data movement *is* the job cost —
    the sketch kernels are ~10x cheaper than the transport.  This
    operator keeps Spark as the scheduler/merger but moves the scan into
    the Python worker: the driver lists (file, row group) shards, Spark
    schedules one task per shard group (``spark.range(0, n, 1, n)`` →
    one task id per partition), and each task reads its row groups
    directly with pyarrow, updates its partial sketch, and emits one
    blob.  Raw tokens never cross a process boundary.

    ``source`` is a parquet file, a directory of ``*.parquet``, a list
    of paths, a ``DeltaTable`` or a ``DeltaSnapshot`` — the sources of
    ``store.incremental_aggregate``, which is this build with a store.
    On a real cluster the same pattern holds with object-store paths
    (pyarrow reads s3://… natively).  This mirrors how Spark itself
    splits parquet scans — we only relocate the decode to the process
    that consumes the bytes.
    """
    tasks, groups = _fused_shards(spark, _list_shards(_source_files(source)[0]), n_tasks)
    cols = list(spec.columns)

    def build_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        shards = _task_shards(groups, batches)
        yield _blob_batch(_build_partial(spec, _scan_shards(shards, cols), metrics)[0], metrics)

    partials = tasks.mapInArrow(build_task, "sketch binary")
    return _tree_merge_collect(partials, len(groups), fan_in, spec, metrics)


def grouped_sketch_from_parquet(
    spark,
    source,
    key: str,
    spec: SketchSpec,
    n_tasks: int | None = None,
    metrics: BuildMetrics | None = None,
) -> DataFrame:
    """Grouped fused build: per-(task, key) partials from a direct
    pyarrow row-group scan, then a blob-only grouped merge.

    The grouped analogue of ``aggregate_sketch_from_parquet`` (same
    sources, same shard scan): raw rows never cross a process boundary
    and never shuffle — only ``tasks x keys`` sketch blobs do.
    Skew-proof for the same reason as the map_side strategy: a task only
    sees its own shards' share of a hot key.  Returns DataFrame[key
    string, sketch binary].  ``metrics`` gains the encode seconds and
    bytes of the partial blobs once the result runs.
    """
    files = _source_files(source)[0]
    # key labels come from Python str() in the fused kernel; str() and
    # Spark's cast-to-string agree for string/int keys but NOT for
    # double ('1e-07' vs '1.0E-7') or boolean ('True' vs 'true') — so
    # restrict this dataflow to the types whose labels are identical to
    # grouped_sketch's, instead of silently diverging
    ktype = pq.read_schema(files[0]).field(key).type
    if not (pa.types.is_string(ktype) or pa.types.is_large_string(ktype)
            or pa.types.is_integer(ktype)):
        raise ValueError(
            f"grouped_sketch_from_parquet: key {key!r} has type {ktype} — "
            f"str() labels would diverge from grouped_sketch's JVM "
            f"cast-to-string; pre-cast the key to string (or use "
            f"grouped_sketch)")
    cols = list(dict.fromkeys([key, *spec.columns]))
    tasks, groups = _fused_shards(spark, _list_shards(files), n_tasks)
    grouped_body = _grouped_partial_build(spec, key, metrics)

    def build_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from grouped_body(_scan_shards(_task_shards(groups, batches), cols))

    partials = tasks.mapInArrow(build_task, f"{key} string, sketch binary")
    return grouped_merge_sketch_column(partials, key)


def merge_sketch_column(df: DataFrame, col: str = "sketch", fan_in: int = DEFAULT_FAN_IN,
                        target_partials: int | None = None):
    """Aggregate *pre-built* sketches stored in a binary column — parity
    with the reference's bloom_filter_from_string / bloom_filter(bf)
    merge aggregation (BloomFilterFromString.java:23-38).

    Same tree-merge dataflow as aggregate_sketch: partial count pinned
    to defaultParallelism by default (coalesce, no shuffle, no
    driver-side getNumPartitions), bounded fan-in above it.
    """
    if target_partials is None:
        target_partials = df.sparkSession.sparkContext.defaultParallelism
    pruned = df.select(F.col(col).alias("sketch"))
    if target_partials:
        pruned = pruned.coalesce(target_partials)
    partials = pruned.mapInArrow(_merge_partials(), "sketch binary")
    n_parts = target_partials or pruned.rdd.getNumPartitions()
    # shared tree-merge tail (bounded fan-in, threaded blob decode);
    # raises the same ValueError on empty input
    return _tree_merge_collect(partials, n_parts, fan_in)


# ---- heavy hitters (two-phase top-k) ------------------------------------------


class TopKNotCertified(RuntimeError):
    """top_k_tokens(certify=True): the coverage bound cannot prove the
    returned rows are the exact top-k (a non-candidate item could be
    heavier than the k-th candidate)."""


def top_k_tokens(
    df: DataFrame,
    col: str = "tokens",
    k: int = 20,
    m_per_partition: int | None = None,
    certify: bool = False,
) -> DataFrame:
    """Top-k most frequent token ids WITHOUT a full explode+groupBy
    shuffle: the two-phase heavy-hitters plan.

    Phase 1 (map-only): each partition counts its own tokens exactly
    (the same cache-resident bincount the sketch builds use) and emits
    only its local top-M (id, count) rows — O(partitions * M) rows
    total instead of one shuffled row per token occurrence — plus ONE
    threshold row per partition: the smallest emitted local count
    (0 when the partition had ≤ M distinct ids, i.e. everything was
    emitted).  Any id NOT in partition i's local top has local count
    ≤ threshold_i, so sum_i(threshold_i) is a hard upper bound on the
    global count of ANY non-candidate.
    Phase 2: the candidate union is counted exactly with a hash
    aggregate restricted to candidate ids (Catalyst's map-side partial
    aggregation makes the shuffle O(partitions * candidates)), then
    ranked.

    Coverage: WITHOUT ``certify`` this is heuristic (a true top-k item
    locally out-ranked by M heavier ids in every partition would be
    missed) — treat the default as approximate-with-high-probability;
    the gate query additionally verifies against the exact answer.
    WITH ``certify=True`` the standard bound is checked in-band: the
    result is certified exact iff the k-th candidate's exact count
    strictly exceeds sum_i(threshold_i); otherwise
    :class:`TopKNotCertified` is raised with both numbers so the
    caller can retry with a larger ``m_per_partition`` (the eager
    check costs the two phase actions the caller was about to run
    anyway plus one tiny threshold sum).
    Output: (token int, cnt long) for the deterministic top-k
    (count desc, token asc).
    """
    m = m_per_partition or 8 * k

    def local_top(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sink, _ = _build_partial(SketchSpec(col, lambda: TokenDedupAccumulator(
            _CandidateSink())), batches)
        ids, counts = sink.top(m)
        thr = int(min(counts)) if len(sink._ids) > m else 0
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids + [-1], pa.int64()),
                pa.array(counts + [thr], pa.int64()),
                pa.array([False] * len(ids) + [True], pa.bool_()),
            ],
            ["token", "cnt", "is_thr"],
        )

    phase1 = df.select(col).mapInArrow(local_top, "token long, cnt long, is_thr boolean")
    if certify:
        # persist the (partitions x M)-row phase-1 output: the
        # certificate's threshold bound must come from the SAME
        # evaluation that produced the candidate set (a recompute over
        # non-deterministic partitioning could certify against
        # thresholds that never bounded the actual run), and without
        # the cache the bound query re-runs the whole corpus scan
        phase1 = phase1.persist()
    candidates = (
        phase1.filter(~F.col("is_thr"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt_lb"))  # lower bound: only local-top rows
    )
    # phase 2: exact counts restricted to the candidate set — the
    # explode stays map-side (filter before shuffle), the hash agg
    # shuffles only (partitions x candidates) partial rows
    cand_ids = candidates.select("token")
    exploded = df.select(F.explode(col).alias("token")).join(
        F.broadcast(cand_ids), "token"
    )
    exact = exploded.groupBy("token").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    result = (
        exact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("token").cast("int").alias("token"), "cnt")
    )
    if not certify:
        return result
    try:
        rows = result.collect()  # materializes phase1 into the cache
        kth = min((r.cnt for r in rows), default=0)
        # reads the CACHED phase-1 rows: one tiny threshold sum, no
        # second corpus scan, same evaluation as the candidates
        bound = phase1.filter(F.col("is_thr")).agg(F.sum("cnt")).collect()[0][0] or 0
    finally:
        phase1.unpersist()
    # bound == 0 means NO partition truncated its local map (every
    # M-th local count was 0): the candidate set provably covers every
    # token in the corpus, so the ranking is exact even when fewer
    # than k distinct tokens exist — len(rows) < k is then just "the
    # corpus has < k tokens", not a coverage miss
    if (kth > bound) and (len(rows) == k or bound == 0):
        spark = df.sparkSession
        return spark.createDataFrame(rows, result.schema)
    if bound == 0 and not rows:
        # empty corpus: exact (and empty) by the same argument
        return result
    raise TopKNotCertified(
        f"cannot certify top-{k}: k-th candidate count {kth} does not "
        f"strictly exceed the non-candidate bound {bound} "
        f"(sum of per-partition M-th local counts, M={m}); retry with a "
        f"larger m_per_partition"
    )


def mg_top_k(
    df: DataFrame,
    col: str,
    k: int = 20,
    k_counters: int = 4096,
    certify: bool = True,
) -> DataFrame:
    """Exact top-k over a string column via a Misra-Gries candidate
    sketch + certified re-count — the SKETCH-state sibling of
    :func:`top_k_tokens` (which keeps exact per-partition count maps):

    Phase 1 (map-only): ONE tree-merged :class:`MisraGries` summary of
    at most ``k_counters`` (item, count) pairs over the whole column —
    per-partition state is O(k_counters) regardless of local distinct
    counts, which is the advantage over the local-top-M plan when
    partitions are distinct-heavy.  The PODS'12 merge bound guarantees
    any item NOT retained has true count <= summary.error_bound()
    <= n/(k_counters+1).
    Phase 2: exact hash-agg restricted to the <= k_counters candidates
    (broadcast semi-join BEFORE the shuffle, so the agg shuffles only
    partitions x candidates partial rows), ranked (count desc, item
    asc).

    ``certify=True`` (default): raise :class:`TopKNotCertified` unless
    the k-th candidate's exact count strictly exceeds error_bound() —
    when it does, no non-candidate can displace the returned rows, so
    the answer is provably exact.  error_bound()==0 means nothing was
    ever trimmed: the summary is a complete exact count table and the
    result is exact even when fewer than k items exist.

    Output: (item string, cnt long).
    """
    from presto_bloomfilter_spark.functions.mg import MisraGries

    spark = df.sparkSession
    summary = aggregate_sketch(df.select(col), SketchSpec(col, lambda: MisraGries(k_counters)))
    bound = summary.error_bound()
    cands = [item for item, _ in summary.topk(k_counters)]
    if not cands:
        return spark.createDataFrame([], "item string, cnt long")
    # a driver-local Arrow table plans as a LocalRelation: the broadcast
    # side starts no Python job
    cand_df = spark.createDataFrame(pa.table({"item": pa.array(cands, pa.string())}))
    exact = (
        df.select(F.col(col).alias("item"))
        .join(F.broadcast(cand_df), "item")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("item"))
    result = (
        exact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("item", "cnt")
    )
    if not certify:
        return result
    rows = result.collect()
    kth = min((r.cnt for r in rows), default=0)
    if (bound == 0) or (kth > bound and len(rows) == k):
        return spark.createDataFrame(rows, result.schema)
    raise TopKNotCertified(
        f"cannot certify top-{k}: k-th candidate count {kth} does not "
        f"strictly exceed the Misra-Gries undercount bound {bound} "
        f"(n={summary.n}, k_counters={k_counters}); retry with a larger "
        f"k_counters"
    )


class _CandidateSink:
    """Accumulator target for top_k_tokens phase 1: keeps exact
    (id, count) pairs fed by TokenDedupAccumulator's weighted flush."""

    takes_counts = True

    def __init__(self):
        import numpy as _np

        self._ids = _np.empty(0, dtype=_np.int64)
        self._counts = _np.empty(0, dtype=_np.int64)

    def add_ints(self, values, counts=None):
        import numpy as _np

        v = _np.asarray(values, dtype=_np.int64)
        c = (
            _np.asarray(counts, dtype=_np.int64)
            if counts is not None
            else _np.ones(len(v), dtype=_np.int64)
        )
        # fold into the running exact map (ids are unique per flush;
        # across flushes, merge by sort)
        ids = _np.concatenate([self._ids, v])
        cnt = _np.concatenate([self._counts, c])
        order = _np.argsort(ids, kind="stable")
        ids, cnt = ids[order], cnt[order]
        if len(ids):
            first = _np.concatenate(([True], ids[1:] != ids[:-1]))
            grp = _np.cumsum(first) - 1
            uids = ids[first]
            sums = _np.zeros(len(uids), dtype=_np.int64)
            _np.add.at(sums, grp, cnt)
            self._ids, self._counts = uids, sums
        return self

    def top(self, m: int):
        import numpy as _np

        if len(self._ids) <= m:
            return self._ids.tolist(), self._counts.tolist()
        sel = _np.argpartition(-self._counts, m - 1)[:m]
        return self._ids[sel].tolist(), self._counts[sel].tolist()


# ---- grouped aggregation (map-side partials, sorted-run folds) ---------------


def _key_slices(b: pa.RecordBatch, key: str) -> Iterator[tuple[object, pa.RecordBatch]]:
    """``(value, rows)`` per distinct value of the ``key`` column of
    ``b``, the NULL rows as value None.  The NULL rows are filtered off
    first, at the Arrow level: np.unique cannot sort None against str,
    and an int column with nulls would float to NaN.  Then one stable
    ``np.argsort`` of the key codes and one ``take`` order the batch by
    key, and each key's rows are a zero-copy ``slice`` of it (input
    order kept within a key)."""
    import pyarrow.compute as pc

    if b.column(key).null_count:
        null = pc.is_null(b.column(key))
        yield None, b.filter(null)
        b = b.filter(pc.invert(null))
    uniq, inv = np.unique(b.column(key).to_numpy(zero_copy_only=False), return_inverse=True)
    if len(uniq) == 1:
        yield uniq[0], b
        return
    b = b.take(pa.array(np.argsort(inv, kind="stable")))
    ends = np.cumsum(np.bincount(inv)).tolist()
    for kv, lo, hi in zip(uniq, [0, *ends], ends):
        yield kv, b.slice(lo, hi - lo)


def _grouped_partial_build(spec: SketchSpec, key: str, metrics: BuildMetrics | None = None):
    """mapInArrow body: one partial sketch per (input partition, key).

    Arrow-level group split (:func:`_key_slices`, NULL keys one group).
    Raw rows never shuffle, and token list columns never pass through
    pandas object arrays.  A key's per-partition stream is small
    next to the vocabulary, so a token spec's accumulator stays in its
    sparse mode.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sketches: dict = {}

        def update(kv, rows: pa.RecordBatch) -> None:
            sk = sketches.get(kv)
            if sk is None:
                sk = sketches[kv] = spec.factory()
            spec.update(sk, rows)

        for b in batches:
            for kv, rows in _key_slices(b, key):
                update(kv, rows)
        if sketches:
            ks = list(sketches)
            yield pa.RecordBatch.from_arrays(
                [pa.array([None if k is None else str(k) for k in ks], pa.string()),
                 pa.array(_encode([sketches[k] for k in ks], metrics), pa.binary())],
                [key, "sketch"],
            )

    return fn


def _grouping_equal(x: pa.Array, y: pa.Array) -> np.ndarray:
    """Row-wise ``x == y`` under GROUP BY equality: NULL equals NULL,
    NaN equals NaN, and -0.0 equals 0.0 (IEEE ``==`` already does)."""
    import pyarrow.compute as pc

    def np_(a):
        return a.to_numpy(zero_copy_only=False)

    eq = np_(pc.equal(x, y).fill_null(False)) | (np_(x.is_null()) & np_(y.is_null()))
    if pa.types.is_floating(x.type):
        eq |= np_(pc.is_nan(x).fill_null(False)) & np_(pc.is_nan(y).fill_null(False))
    return eq


def _fold_sorted_runs(df: DataFrame, keys: list[str], out_schema: str,
                      step: Callable[[object, pa.RecordBatch], object]) -> DataFrame:
    """The one grouped fold: shuffle ``df`` by ``keys``, sort each
    partition by them, and fold each run of equal keys inside
    mapInArrow.  ``state = step(state, rows)`` runs on every slice of a
    run (``state`` starts as None), and the run becomes one output row
    ``(keys[0], state.to_bytes())``.

    Run boundaries are found at the Arrow level under GROUP BY equality
    (:func:`_grouping_equal`, which is also how the shuffle and the sort
    place NULL, NaN and ±0.0), and a run may continue across batches.  A
    run's row is emitted with the batch in which the run ends, so a task
    holds one run's state at a time — no pandas frame, no per-group
    Python call besides ``step``.  An empty input gives no rows.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        state = first = None  # the open run: its fold state and first row

        def emit(firsts, states):
            return pa.RecordBatch.from_arrays(
                [pa.concat_arrays([r.column(keys[0]) for r in firsts]),
                 pa.array([s.to_bytes() for s in states], pa.binary())],
                [keys[0], "sketch"])

        for b in batches:
            n = b.num_rows
            if not n:
                continue
            new = np.zeros(n, dtype=bool)
            for k in keys:
                col = b.column(k)
                if first is not None:
                    col = pa.concat_arrays([first.column(k), col])
                new[n - len(col) + 1:] |= ~_grouping_equal(col[1:], col[:-1])
            new[0] |= first is None
            bounds = [*np.flatnonzero(new).tolist(), n]
            if bounds[0]:  # the head of the batch continues the open run
                state = step(state, b.slice(0, bounds[0]))
            firsts, states = [], []
            for lo, hi in zip(bounds, bounds[1:]):
                if first is not None:
                    firsts.append(first)
                    states.append(state)
                first, state = b.slice(lo, 1), step(None, b.slice(lo, hi - lo))
            if states:
                yield emit(firsts, states)
        if first is not None:
            yield emit([first], [state])

    return df.repartition(*keys).sortWithinPartitions(*keys).mapInArrow(fn, out_schema)


def grouped_sketch(
    df: DataFrame,
    key: str,
    spec: SketchSpec,
    salt: int | None = None,
    salt_col: str | None = None,
    strategy: str = "map_side",
    metrics: BuildMetrics | None = None,
) -> DataFrame:
    """Per-key sketches: returns DataFrame[key string, sketch binary].

    ``map_side`` (default): partial sketch per (partition, key) inside
    mapInArrow (:func:`_grouped_partial_build`), then a tiny grouped
    blob merge — the partial/combine protocol of the reference's grouped
    accumulator (reference BloomFilterStateFactory.java:48-91) in Spark
    dataflow.  Only sketch blobs shuffle (partitions x keys x
    sketch_size bytes, independent of row count), and skewed keys cost
    nothing extra: a task only ever sees its own partition's share of a
    hot key.  Right choice for low-cardinality keys like ``source``.

    ``salted``: shuffles raw rows by (key, salt) — by key alone when
    ``salt`` is unset — and builds one sketch per sorted run of equal
    keys (:func:`_fold_sorted_runs`); with a salt the S partials per key
    then go through :func:`grouped_merge_sketch_column` — the explicit
    repartition/salting dataflow (north_rule).  Use for high-cardinality
    keys where per-partition x per-key partials would blow up the map
    side.

    ``metrics`` gains the encode seconds and bytes of the map_side
    partial blobs once the result runs; the salted strategy has no
    partial phase and records nothing.
    """
    tune_arrow_batches(df)
    cols = [key, *spec.columns]
    pruned = df.select(*dict.fromkeys(cols))
    out_schema = f"{key} string, sketch binary"

    # the output schema is '{key} string': normalize non-string group
    # keys through ONE stringification — Spark's cast-to-string — for
    # BOTH strategies, so a double/boolean key yields the same label
    # ('1.0E-7', 'true') whichever dataflow built it; NULL keys flow
    # through as NULL either way
    pruned = pruned.withColumn(key, F.col(key).cast("string"))

    if strategy == "map_side":
        partials = pruned.mapInArrow(_grouped_partial_build(spec, key, metrics), out_schema)
        return grouped_merge_sketch_column(partials, key)

    if strategy != "salted":
        raise ValueError(f"unknown strategy {strategy!r}")

    def build(sk, rows: pa.RecordBatch):
        sk = spec.factory() if sk is None else sk
        spec.update(sk, rows)
        return sk

    if not salt:
        return _fold_sorted_runs(pruned, [key], out_schema, build)

    sc = salt_col or key
    salted = pruned.withColumn("__salt", F.pmod(F.xxhash64(F.col(sc), F.monotonically_increasing_id()), F.lit(salt)))
    partials = _fold_sorted_runs(salted, [key, "__salt"], out_schema, build)
    return grouped_merge_sketch_column(partials, key)


def sketch_estimates(df: DataFrame, col: str = "sketch",
                     out_col: str = "estimate") -> DataFrame:
    """Decode a sketch column to its scalar ``estimate()`` executor-side
    — DataFrame in, DataFrame out, blobs never visit the driver (the
    missing last step that otherwise tempts a collect+deserialize loop
    over a sketch table).  All other columns pass through unchanged;
    every sketch family defines estimate() (HLL/theta distinct count,
    bloom fill-derived insertions, CMS total weight, KLL/t-digest n).
    The other columns pass through as the batch's own Arrow arrays, so a
    bigint stays exact next to a NULL; a NULL sketch gives a NULL
    estimate."""
    from pyspark.sql.types import StructType

    fields = [f for f in df.schema.fields if f.name != col]
    if len(fields) == len(df.schema.fields):
        raise ValueError(f"no column {col!r} in {df.columns}")
    if out_col in df.columns and out_col != col:
        raise ValueError(
            f"output column {out_col!r} already exists in {df.columns}; "
            "pass a different out_col")

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            est = [None if x is None else float(sketch_from_bytes(x).estimate())
                   for x in b.column(col).to_pylist()]
            yield b.drop_columns([col]).append_column(out_col, pa.array(est, pa.float64()))

    return df.mapInArrow(decode, StructType(fields).add(out_col, "double"))


def grouped_merge_sketch_column(df: DataFrame, key: str, col: str = "sketch") -> DataFrame:
    """Grouped merge of pre-built sketches → DataFrame[key, sketch]: one
    :func:`_fold_sorted_runs` pass folding each key's blobs with
    ``merge_blobs``.  The key keeps its input type (an int key stays
    int); as in ``groupBy``, NULL is one group, NaN is one group, and
    -0.0 joins 0.0."""

    def merge(sk, rows: pa.RecordBatch):
        part = merge_blobs(rows.column(col).to_pylist())
        return part if sk is None else sk.merge(part)

    key_type = df.schema[key].dataType.simpleString()
    return _fold_sorted_runs(df.select(key, col), [key], f"{key} {key_type}, sketch binary", merge)
