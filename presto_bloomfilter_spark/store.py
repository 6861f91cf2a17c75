"""Sketch store: persistence + resumable builds.

Replaces the reference's out-of-process HTTP persistence service
(reference persist-service/server.go:30-57 — PUT/GET of base64 blobs
into boltdb/Cassandra, driven by the bloom_filter_persist /
bloom_filter_load SQL functions).  Spark-native equivalent: a directory
on a shared filesystem / object store; one file per key, atomic
write-rename publish.

Resumable builds (the north_rule's checkpoint with per-partition
lineage) have one dataflow: a source — parquet files, a directory or a
Delta snapshot — is a list of (file, row group) shards, each task folds
its shards into one partial persisted under a key derived from the
shards it covers, and one ``Manifest`` per job records the source
snapshot, the sketched files and each part's (shards, sha256, rows).
A restarted or grown build skips the shards a completed run recorded,
whatever the cluster size, and merges the rest.  Spark partition ids
are not a stable shard identity, so a DataFrame is not a source: write
it to parquet first.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from dataclasses import asdict, dataclass, field

from presto_bloomfilter_spark.functions import serialization as ser


def _safe_key(key: str) -> str:
    if not key or "/" in key or key.startswith("."):
        raise ValueError(f"invalid sketch key {key!r}")
    return key


class SketchStore:
    """Filesystem KV store: key → sketch bytes (PUT/GET parity with
    reference server.go:30-57)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, _safe_key(key) + ".sketch")

    def put(self, key: str, sketch) -> bool:
        """Persist a sketch (object or raw bytes); atomic overwrite —
        bloom_filter_persist parity (BloomFilterPersistScalarFunction
        .java:38-63: errors surface to the caller for retry).  A
        by-reference blob is stored as the full blob it names."""
        blob = ser._as_blob(sketch)
        ser.read_kind(blob)  # validate before write
        tmp = self._path(key) + f".tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, self._path(key))
        return True

    def get_bytes(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:
            return f.read()

    def get(self, key: str):
        """Load + deserialize — bloom_filter_load parity
        (BloomFilterLoad.java:23-40)."""
        return ser.sketch_from_bytes(self.get_bytes(key))

    def exists(self, key: str) -> bool:
        return os.path.exists(self._path(key))

    def delete(self, key: str) -> bool:
        """Remove a persisted sketch; True if it existed."""
        try:
            os.remove(self._path(key))
            return True
        except FileNotFoundError:
            return False

    def put_meta(self, key: str, blob: bytes) -> bool:
        """Persist raw metadata bytes (e.g. a sharded-family manifest)
        next to the sketches — no PBFS validation, atomic overwrite."""
        path = os.path.join(self.root, _safe_key(key) + ".json")
        tmp = path + f".tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(bytes(blob))
        os.replace(tmp, path)
        return True

    def get_meta(self, key: str) -> bytes:
        with open(os.path.join(self.root, _safe_key(key) + ".json"), "rb") as f:
            return f.read()

    def meta_exists(self, key: str) -> bool:
        return os.path.exists(os.path.join(self.root, _safe_key(key) + ".json"))

    def keys(self) -> list[str]:
        return sorted(
            f[: -len(".sketch")] for f in os.listdir(self.root) if f.endswith(".sketch")
        )

    def load_merged(self, keys: list[str]):
        """Union of several persisted sketches — the reference's
        bloom_filter_load-as-aggregation shape (it GETs and unions per
        input row).  Driver-side sequential: use only for ≤fan-in keys;
        ``load_merged_distributed`` is the scale path."""
        if not keys:
            raise ValueError("no keys")
        return ser.merge_blobs(self.get_bytes(k) for k in keys)

    def load_merged_distributed(self, spark, keys: list[str], fan_in: int = 16):
        """Union of many persisted sketches WITHOUT the driver ever
        holding more than fan-in blobs: one Spark task per ~fan_in keys
        loads its blobs store-side and emits one partial, then the
        shared bounded-fan-in tree merge finishes.  The store root must
        be reachable from executors (shared fs / object store — the same
        assumption the atomic-rename persist already makes)."""
        from presto_bloomfilter_spark.operators.aggregate import (
            _blob_batch,
            _tree_merge_collect,
        )

        if not keys:
            raise ValueError("no keys")
        store = self  # picklable (just the root path); shipped to tasks
        n_tasks = max(1, -(-len(keys) // fan_in))
        kdf = spark.createDataFrame(
            [(k,) for k in sorted(keys)], "key string").repartition(n_tasks)

        def load_and_merge(batches):
            sk = ser.merge_blobs(store.get_bytes(k) for b in batches
                                 for k in b.column(0).to_pylist())
            if sk is not None:
                yield _blob_batch(sk)

        partials = kdf.mapInArrow(load_and_merge, "sketch binary")
        return _tree_merge_collect(partials, n_tasks, fan_in)

# ---- resumable builds: one manifest over (file, row group) shards ------------


def snapshot_fingerprint(files_with_sizes) -> str:
    """Deterministic id of a file-set snapshot: sha256 over the sorted
    (path, size) pairs — the parquet-directory analogue of an Iceberg
    snapshot id."""
    h = hashlib.sha256()
    for path, size in sorted(files_with_sizes):
        h.update(f"{path}\x00{size}\n".encode())
    return h.hexdigest()[:32]


def _source_files(source) -> tuple[list[str], dict[str, int], str]:
    """(files, sizes, snapshot id) of a build source: a parquet file, a
    directory of ``*.parquet``, a list of paths, a ``DeltaTable`` (its
    latest version) or a ``DeltaSnapshot``.  A Delta source takes sizes
    and id from its transaction log; the others stat their files and
    use ``snapshot_fingerprint``."""
    from pyspark.sql import DataFrame

    from presto_bloomfilter_spark.sources.delta import DeltaSnapshot, DeltaTable

    if isinstance(source, DataFrame):
        raise TypeError(
            "a DataFrame is not a shard source: its partition ids change "
            "with the cluster size, so they cannot key resumable parts — "
            "write it to parquet first and pass the path")
    if isinstance(source, DeltaTable):
        source = source.snapshot()
    if isinstance(source, DeltaSnapshot):
        files, sizes, snapshot = list(source.files), dict(source.sizes), source.snapshot_id
    else:
        if isinstance(source, str):
            files = (sorted(glob.glob(os.path.join(source, "*.parquet")))
                     if os.path.isdir(source) else [source])
        else:
            files = list(source)
        sizes = {f: os.path.getsize(f) for f in files}
        snapshot = snapshot_fingerprint(sizes.items())
    if not files:
        raise ValueError("empty snapshot: no files")
    return files, sizes, snapshot


@dataclass
class Manifest:
    """The one lineage record of a resumable build, persisted through
    ``SketchStore.put_meta`` under ``<job_id>.lineage``: the source
    ``snapshot`` id, the size of every sketched file (the append-only
    guard compares it), and one entry per persisted part.  A global
    build's part is keyed by its store key and records ``{shards:
    [[file, row group], …], sha256, rows}``; a grouped build's part is
    a delta sketch table recording ``{files}``, with the group column
    in ``key``."""

    job_id: str
    snapshot: str = ""
    files: dict = field(default_factory=dict)  # path -> size
    parts: dict = field(default_factory=dict)  # part name -> lineage
    key: str = ""

    @classmethod
    def load(cls, store: SketchStore, job_id: str) -> "Manifest":
        """The job's manifest, or an empty one.  Only this meta key is
        read, so state an older manifest format left under the same
        job_id is never misread: that job rebuilds from its source."""
        meta = _safe_key(job_id) + ".lineage"
        if not store.meta_exists(meta):
            return cls(job_id)
        return cls(**json.loads(store.get_meta(meta)))

    def save(self, store: SketchStore) -> None:
        store.put_meta(self.job_id + ".lineage",
                       json.dumps(asdict(self), sort_keys=True, indent=1).encode())

    def record(self, store: SketchStore, name: str, shards, sha256: str,
               rows: int) -> None:
        """Record a part its task already persisted executor-side (only
        its sha256 and row count reached the driver).  Refuses a part
        whose blob is not actually in the store."""
        if not store.exists(name):
            raise ValueError(f"partial {name!r} missing from store; task persist failed?")
        self.parts[name] = {"shards": shards, "sha256": sha256, "rows": rows}

    def new_files(self, files: list[str], sizes: dict[str, int]) -> list[str]:
        """The append-only guard: the files not sketched yet, or a loud
        error on a vanished or rewritten sketched file (sketches are
        not subtractable: rebuild under a new job_id)."""
        vanished = sorted(set(self.files) - set(files))
        if vanished:
            raise ValueError(
                f"{len(vanished)} already-sketched file(s) missing from the "
                f"snapshot (first: {vanished[0]!r}) — sketches are not "
                f"subtractable; rebuild under a new job_id")
        changed = sorted(f for f in files if f in self.files and self.files[f] != sizes[f])
        if changed:
            raise ValueError(
                f"{len(changed)} already-sketched file(s) rewritten in place "
                f"(first: {changed[0]!r}) — sketches are not subtractable; "
                f"rebuild under a new job_id")
        return sorted(f for f in files if f not in self.files)

    def advance(self, store: SketchStore, new: list[str], sizes: dict[str, int],
                snapshot: str) -> None:
        """Mark ``new`` sketched as of ``snapshot``; one manifest write."""
        if new or snapshot != self.snapshot:
            self.files.update((f, sizes[f]) for f in new)
            self.snapshot = snapshot
            self.save(store)


def _part_key(job_id: str, shards, sizes: dict[str, int]) -> str:
    """Store key of the part covering ``shards``: a digest of its sorted
    (file, size, row group) list.  The task that persists the part and
    the driver that records it both derive it here, and it names the
    data, not the cluster size that grouped it."""
    h = hashlib.sha256()
    for path, rg in sorted(shards):
        h.update(f"{path}\x00{sizes[path]}\x00{rg}\n".encode())
    return f"{job_id}.part-{h.hexdigest()[:24]}"


def incremental_aggregate(spark, source, spec, store: SketchStore, job_id: str,
                          fan_in: int = 16):
    """Resumable global sketch build over a source's (file, row group)
    shards.  Returns (sketch, number of files that had shards built).

    ``source`` is a parquet file, a directory of ``*.parquet``, a list
    of paths, a ``DeltaTable`` (latest version) or a ``DeltaSnapshot``
    (``table.snapshot(v)`` builds version v).  The driver lists the
    shards of the files the manifest does not cover yet and strides
    them over tasks as the fused builds do; each task folds its shards
    into one partial, persists it under ``_part_key`` and returns only
    (key, sha256, rows).  The driver records every part and writes the
    manifest once, then merges all recorded parts — the distributed
    bounded-fan-in tree above ``fan_in`` parts, so it never holds more
    than fan_in blobs.

    A checkpoint is this build with no prior manifest; a resume, or an
    update after the source grew, builds only the files a completed run
    did not record, at any cluster size.  A run that fails records
    nothing and recomputes.  Estimates are valid for any spec; byte
    identity with a full rebuild holds for the grouping-insensitive
    sketches — bloom (bitset OR), HLL (register max), CMS (counter
    sum), theta — not KLL/t-digest, whose compaction depends on how the
    input was batched.
    """
    import pyarrow as pa

    from presto_bloomfilter_spark.operators.aggregate import (
        _build_partial, _fused_shards, _list_shards, _scan_shards, _task_shards, _unwrap)

    files, sizes, snapshot = _source_files(source)
    m = Manifest.load(store, job_id)
    new = m.new_files(files, sizes)
    shards = _list_shards(new)
    if shards:
        tasks, groups = _fused_shards(spark, shards, None)
        cols = list(spec.columns)

        def build(batches):
            mine = _task_shards(groups, batches)
            sk, rows = _build_partial(spec, _scan_shards(mine, cols))
            blob = sk.to_bytes()
            key = _part_key(job_id, mine, sizes)
            store.put(key, blob)
            yield pa.RecordBatch.from_arrays(
                [pa.array([key]), pa.array([ser.read_hash(blob).hex()]),
                 pa.array([rows], pa.int64())], ["key", "sha256", "rows"])

        by_key = {_part_key(job_id, g, sizes): g for g in groups}
        for r in tasks.mapInArrow(build, "key string, sha256 string, rows long").collect():
            m.record(store, r.key, by_key[r.key], r.sha256, r.rows)
    m.advance(store, new, sizes, snapshot)
    n_built = len({path for path, _ in shards})
    keys = sorted(m.parts)
    if not keys:  # every file is empty (no row groups)
        return _unwrap(spec.factory()), n_built
    if len(keys) > fan_in:
        return store.load_merged_distributed(spark, keys, fan_in), n_built
    return store.load_merged(keys), n_built


class IncrementalGroupedBuild:
    """Per-key snapshot-delta maintenance of a sketch TABLE (key →
    sketch): the grouped sibling of ``incremental_aggregate`` for the
    north_rule's 'distinct doc_id counts grouped by source' shape at
    10^12 rows, where neither a rebuild per snapshot nor a driver-side
    dict of keys is acceptable.

    Each update runs ONE grouped build over just the new files and
    writes the result as a delta sketch table (``write_sketch_table``)
    under ``root/<job_id>.delta-N``, a part of the job's ``Manifest``
    (same sources and same append-only guard as
    ``incremental_aggregate``); ``merged_view`` unions the deltas and
    shuffle-merges per key in Spark, returning DataFrame[key, sketch] —
    blobs never land on the driver.  ``compact`` rewrites the
    accumulated deltas as a single base table (sketch mergeability =
    compaction is just a re-merge), bounding read fan-in as snapshots
    accumulate.  Single writer per job_id.
    """

    def __init__(self, root: str, job_id: str):
        self.root = root
        self.store = SketchStore(root)
        self.manifest = Manifest.load(self.store, job_id)

    def _next_delta(self) -> str:
        parts = self.manifest.parts
        n = int(max(parts).rsplit("-", 1)[1]) + 1 if parts else 0
        return f"{self.manifest.job_id}.delta-{n:05d}"

    def update(self, spark, source, key: str, spec, **grouped_kwargs):
        """Bring the sketch table up to date with a source snapshot
        (any ``incremental_aggregate`` source).  Returns (merged view
        DataFrame[key, sketch], n_new_files).  ``grouped_kwargs`` pass
        through to ``grouped_sketch`` (e.g. ``strategy="salted",
        salt=32`` for high-cardinality keys)."""
        from presto_bloomfilter_spark.operators.aggregate import grouped_sketch

        m = self.manifest
        if m.key and key != m.key:
            raise ValueError(f"job {m.job_id!r} groups by {m.key!r}, not {key!r}")
        files, sizes, snapshot = _source_files(source)
        new = m.new_files(files, sizes)
        if new:
            name = self._next_delta()
            per_key = grouped_sketch(spark.read.parquet(*new), key, spec, **grouped_kwargs)
            write_sketch_table(per_key, os.path.join(self.root, name))
            m.parts[name] = {"files": new}
            m.key = key
        m.advance(self.store, new, sizes, snapshot)
        return self.merged_view(spark), len(new)

    def merged_view(self, spark):
        """DataFrame[key, sketch]: all deltas unioned and merged per key
        IN SPARK (one blob shuffle) — decode estimates downstream with
        ``sketch_estimates``, or collect only if the key count is small."""
        from presto_bloomfilter_spark.operators.aggregate import (
            grouped_merge_sketch_column,
        )

        m = self.manifest
        if not m.parts:
            raise ValueError(f"job {m.job_id!r} has no deltas yet")
        tbl = spark.read.parquet(*(os.path.join(self.root, d) for d in sorted(m.parts)))
        return grouped_merge_sketch_column(tbl.select(m.key, "sketch"), m.key)

    def compact(self, spark) -> int:
        """Rewrite all deltas as one base table; returns the number of
        delta tables folded.  Old deltas are removed after the base
        publishes (write_sketch_table is an overwrite into a fresh
        name, the manifest write is atomic)."""
        import shutil

        old = sorted(self.manifest.parts)
        if len(old) <= 1:
            return 0
        base = self._next_delta()
        write_sketch_table(self.merged_view(spark), os.path.join(self.root, base))
        self.manifest.parts = {base: {"files": sorted(self.manifest.files)}}
        self.manifest.save(self.store)
        for name in old:
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return len(old)

# ---- table sink (reference's Cassandra backend analogue) ---------------------


def write_sketch_table(df, path: str, mode: str = "overwrite") -> None:
    """Persist a grouped-sketch DataFrame[key, sketch] as a parquet
    table with content hash and readable params — the table-backend
    sibling of SketchStore (reference cassandra_backend.go:22-31 is the
    same idea: sketches as rows in a queryable store instead of files).
    The extra columns make the table self-describing: sha256 for dedup/
    cache keys, params for geometry checks before any merge.  Non-sketch
    columns pass through as the batch's own Arrow arrays, so they keep
    their input types and values (an int key round-trips as an exact
    int, also next to a NULL)."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    def annotate(batches):
        for b in batches:
            blobs = b.column("sketch").to_pylist()
            yield b.append_column(
                "sha256", pa.array([ser.read_hash(x).hex() for x in blobs], pa.string())
            ).append_column("params", pa.array(
                [json.dumps(ser.read_params(x), sort_keys=True) for x in blobs], pa.string()))

    out_schema = StructType(list(df.schema.fields)).add("sha256", "string").add("params", "string")
    df.mapInArrow(annotate, out_schema).write.mode(mode).parquet(path)


def read_sketch_table(spark, path: str):
    """Load a sketch table written by write_sketch_table."""
    return spark.read.parquet(path)


def load_sketch_table_merged(spark, path: str, key_col: str | None = None,
                             max_keys: int = 100_000):
    """Merge a sketch table back into python objects: one merged sketch
    per key (dict) when key_col is given, else one global merge of every
    row — the bloom_filter_load-over-a-table pattern.

    Scale posture: the merge work happens in Spark, not the driver.
    Ungrouped → the bounded-fan-in tree (merge_sketch_column); grouped →
    a per-key blob shuffle-merge, so the driver collects exactly ONE
    blob per key, never the full table.  The result is still a Python
    dict, so grouped loads are guarded by ``max_keys`` (a dict of >100k
    multi-MB sketches is a driver OOM whatever the merge path — raise
    the guard consciously if your sketches are small)."""
    from presto_bloomfilter_spark.operators.aggregate import (
        grouped_merge_sketch_column,
        merge_sketch_column,
    )

    tbl = spark.read.parquet(path)
    if key_col is None:
        try:
            return merge_sketch_column(tbl.select("sketch"))
        except ValueError as e:
            # only rebrand the EMPTY-input error; a corrupt blob's
            # ValueError must stay loud and accurate
            if "no sketches to merge" in str(e):
                raise ValueError(f"no sketches in table {path}") from None
            raise
    one_per_key = grouped_merge_sketch_column(
        tbl.select(key_col, "sketch"), key_col)
    rows = one_per_key.limit(max_keys + 1).collect()
    if not rows:
        raise ValueError(f"no sketches in table {path}")
    if len(rows) > max_keys:
        raise ValueError(
            f"sketch table {path} has >{max_keys} distinct {key_col!r} keys; "
            "a driver-side dict at that cardinality is a hotspot — keep it "
            "as a DataFrame (grouped_merge_sketch_column) or raise max_keys")
    return {r[key_col]: ser.sketch_from_bytes(r.sketch) for r in rows}
