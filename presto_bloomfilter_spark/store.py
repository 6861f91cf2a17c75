"""Sketch store: persistence + resumable checkpoints.

Replaces the reference's out-of-process HTTP persistence service
(reference persist-service/server.go:30-57 — PUT/GET of base64 blobs
into boltdb/Cassandra, driven by the bloom_filter_persist /
bloom_filter_load SQL functions).  Spark-native equivalent: a directory
on a shared filesystem / object store; one file per key, atomic
write-rename publish, plus a JSON manifest per job recording
(key, sha256, params, source snapshot, per-partition lineage) — the
manifest doubles as the resumable checkpoint the north_rule requires:
a restarted job skips partitions whose partial sketches are already
persisted and merges the remainder.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

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
        .java:38-63: errors surface to the caller for retry)."""
        blob = sketch.to_bytes() if hasattr(sketch, "to_bytes") else bytes(sketch)
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


def _partition_key(job_id: str, pid: int) -> str:
    """The one definition of a checkpointed build's per-partition store
    key — shared by the executor-side persist closure and the driver's
    manifest bookkeeping, so the two can never drift."""
    return f"{job_id}.part{pid}"


@dataclass
class Manifest:
    """Checkpoint manifest for a resumable sketch-build job."""

    job_id: str
    params: dict = field(default_factory=dict)
    source_snapshot: str = ""  # Iceberg snapshot id / parquet fingerprint
    partitions: dict = field(default_factory=dict)  # pid -> {key, sha256, rows}
    created_at: float = 0.0

    def to_json(self) -> str:
        return json.dumps(
            {
                "job_id": self.job_id,
                "params": self.params,
                "source_snapshot": self.source_snapshot,
                "partitions": self.partitions,
                "created_at": self.created_at,
            },
            sort_keys=True,
            indent=1,
        )

    @classmethod
    def from_json(cls, s: str) -> "Manifest":
        d = json.loads(s)
        return cls(
            job_id=d["job_id"],
            params=d.get("params", {}),
            source_snapshot=d.get("source_snapshot", ""),
            partitions={str(k): v for k, v in d.get("partitions", {}).items()},
            created_at=d.get("created_at", 0.0),
        )


class CheckpointedBuild:
    """Resumable partition-wise sketch build.

    Partial sketches are persisted per input partition under
    ``{job_id}.part{pid}``; the manifest records lineage.  ``resume``
    returns the set of partition ids already built, so a restarted job
    processes only the remainder — per-partition lineage + metrics per
    the north_rule.
    """

    def __init__(self, store: SketchStore, job_id: str, params: dict | None = None,
                 source_snapshot: str = ""):
        self.store = store
        self.job_id = job_id
        self.manifest_path = os.path.join(store.root, f"{job_id}.manifest.json")
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = Manifest.from_json(f.read())
            if source_snapshot and self.manifest.source_snapshot != source_snapshot:
                raise ValueError(
                    "checkpoint belongs to a different source snapshot: "
                    f"{self.manifest.source_snapshot!r} != {source_snapshot!r}"
                )
        else:
            self.manifest = Manifest(
                job_id=job_id, params=params or {}, source_snapshot=source_snapshot,
                created_at=time.time(),
            )

    def done_partitions(self) -> set[int]:
        return {int(p) for p in self.manifest.partitions}

    def partition_key(self, pid: int) -> str:
        return _partition_key(self.job_id, pid)

    def record_partition(self, pid: int, sketch, rows: int) -> None:
        # serialize exactly once: the same blob is what gets persisted
        # AND what the manifest hash describes (re-encoding a
        # deserialized object would cost a second multi-MB encode per
        # partition and could in principle diverge from the stored file)
        blob = sketch.to_bytes() if hasattr(sketch, "to_bytes") else bytes(sketch)
        key = self.partition_key(pid)
        self.store.put(key, blob)
        blob_hash = ser.read_hash(blob).hex()
        self.manifest.partitions[str(pid)] = {"key": key, "sha256": blob_hash, "rows": rows}
        self._flush()

    def record_partition_meta(self, pid: int, sha256: str, rows: int,
                              flush: bool = True) -> None:
        """Record lineage for a partial the TASK already persisted
        executor-side (scale path: the blob never visits the driver —
        only (pid, sha256, rows) does).  Refuses to record lineage for a
        blob that is not actually in the store."""
        key = self.partition_key(pid)
        if not self.store.exists(key):
            raise ValueError(f"partial {key!r} missing from store; task persist failed?")
        self.manifest.partitions[str(pid)] = {"key": key, "sha256": sha256, "rows": rows}
        if flush:
            self._flush()

    def _flush(self) -> None:
        tmp = self.manifest_path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(self.manifest.to_json())
        os.replace(tmp, self.manifest_path)

    def merged(self, spark=None, fan_in: int = 16):
        """Merge all persisted partials into the final sketch.

        With a SparkSession and more than fan-in partials, the merge
        runs as a distributed bounded-fan-in tree (the driver never
        holds more than fan-in blobs); otherwise the small driver-side
        sequential merge."""
        keys = sorted(v["key"] for v in self.manifest.partitions.values())
        if spark is not None and len(keys) > fan_in:
            return self.store.load_merged_distributed(spark, keys, fan_in)
        return self.store.load_merged(keys)


def checkpointed_aggregate(spark, df, spec, store: SketchStore, job_id: str,
                           source_snapshot: str = "", fan_in: int = 16):
    """Build a sketch over df with per-partition checkpointing: each
    partition's partial sketch persists before the final merge; on
    restart only missing partitions are recomputed.

    Scale posture (north_rule: no driver hotspot): each TASK persists
    its own partial straight into the store (the per-key atomic rename
    makes concurrent attempts/retries safe — last writer wins with
    identical deterministic bytes), and only (pid, sha256, rows)
    lineage rows cross to the driver.  The final merge reuses the
    bounded-fan-in tree via ``CheckpointedBuild.merged(spark)``, so at
    10k partitions the driver holds ≤fan-in blobs and one small lineage
    list — never the partial set.  Returns (sketch,
    n_partitions_computed).
    """
    from collections.abc import Iterator

    import pyarrow as pa
    from pyspark import TaskContext

    from presto_bloomfilter_spark.operators.aggregate import _build_partial

    ckpt = CheckpointedBuild(store, job_id, source_snapshot=source_snapshot)
    done = frozenset(ckpt.done_partitions())

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        if pid in done:
            return
        sk, rows = _build_partial(spec, batches)
        blob = sk.to_bytes()
        # executor-side persist: blob goes store-ward from the task that
        # built it; the driver only ever sees the 3-field lineage row
        store.put(_partition_key(job_id, pid), blob)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], pa.int32()),
             pa.array([ser.read_hash(blob).hex()], pa.string()),
             pa.array([rows], pa.int64())],
            ["pid", "sha256", "rows"],
        )

    pruned = df.select(*spec.columns)
    lineage = pruned.mapInArrow(partial, "pid int, sha256 string, rows long").collect()
    for r in lineage:
        ckpt.record_partition_meta(r.pid, r.sha256, r.rows, flush=False)
    if lineage:
        ckpt._flush()  # one manifest write per run, not one per partition
    return ckpt.merged(spark, fan_in=fan_in), len(lineage)


# ---- snapshot-delta incremental maintenance ----------------------------------


def _file_key(job_id: str, path: str) -> str:
    """Store key for one data file's partial sketch — content-addressed
    by path hash so any filename is safe as a key and the executor-side
    persist and driver bookkeeping can never drift."""
    import hashlib

    return f"{job_id}.file-{hashlib.sha256(path.encode()).hexdigest()[:20]}"


def snapshot_fingerprint(files_with_sizes) -> str:
    """Deterministic id of a file-set snapshot: sha256 over the sorted
    (path, size) pairs — the parquet-directory analogue of an Iceberg
    snapshot id."""
    import hashlib

    h = hashlib.sha256()
    for path, size in sorted(files_with_sizes):
        h.update(f"{path}\x00{size}\n".encode())
    return h.hexdigest()[:32]


class IncrementalBuild:
    """Snapshot-delta sketch maintenance over an append-only file set.

    The north_rule's tables grow the way Iceberg tables do: a new
    snapshot adds immutable data files.  At 10^12 rows a full rebuild
    per snapshot is off the table; merge associativity means the sketch
    can follow the table by processing ONLY the files added since the
    last update and merging their partials with the already-persisted
    ones.  Per-FILE lineage (path → store key, sha256, rows, size)
    lives in a manifest next to the sketches; each update records the
    new snapshot fingerprint.

    Scale posture matches ``checkpointed_aggregate``: tasks persist
    their own partial executor-side, only (path, sha256, rows) lineage
    crosses to the driver, and the final merge runs through the
    bounded-fan-in distributed tree — the driver never holds more than
    fan-in blobs no matter how many files the table has accumulated.

    Sketches are not subtractable, so a REWRITTEN or VANISHED file is a
    loud error, not silent drift: compactions/updates need a rebuild
    under a fresh job_id (with content-addressed file names, as in
    Iceberg, rewrites surface as new files and trip exactly this check).

    Result-equality contract: estimates are always valid for any spec;
    BYTE identity with a full rebuild (what gate ``incremental_update``
    asserts) additionally holds for the grouping-insensitive sketches —
    bloom (bitset OR), HLL (register max), CMS (counter sum), theta
    (k-smallest set union) — but not KLL/t-digest, whose compaction
    depends on how the input was batched.
    """

    def __init__(self, store: SketchStore, job_id: str, params: dict | None = None):
        self.store = store
        self.job_id = _safe_key(job_id)
        self._meta_key = f"{job_id}.incremental"
        if store.meta_exists(self._meta_key):
            d = json.loads(store.get_meta(self._meta_key))
            if d.get("job_id") != job_id:  # pragma: no cover — defensive
                raise ValueError(f"manifest job_id {d.get('job_id')!r} != {job_id!r}")
            self.params = d.get("params", {})
            self.files = d.get("files", {})
            self.snapshot = d.get("snapshot", "")
        else:
            self.params = params or {}
            self.files = {}
            self.snapshot = ""

    def _flush(self) -> None:
        self.store.put_meta(self._meta_key, json.dumps(
            {"job_id": self.job_id, "params": self.params, "files": self.files,
             "snapshot": self.snapshot, "updated_at": time.time()},
            sort_keys=True, indent=1).encode())

    def update(self, spark, files: list[str], spec, fan_in: int = 16,
               sizes: dict[str, int] | None = None,
               snapshot_id: str | None = None):
        """Bring the sketch up to date with the given snapshot (full
        CURRENT file list, not just the delta — the delta is computed
        here, which is what makes re-running an update idempotent).
        Returns (merged sketch, n_new_files_processed).

        ``sizes``/``snapshot_id``: manifest-driven mode for table
        formats (sources/delta.py) — file sizes come from the
        transaction log instead of filesystem stat calls, and the
        recorded snapshot is the REAL table version (e.g.
        ``<table-id>@v3``) instead of a file-set fingerprint."""
        import pyarrow as pa

        from presto_bloomfilter_spark.operators.aggregate import (
            _build_partial,
            _row_group_batches,
        )

        if not files:
            raise ValueError("empty snapshot: no files")
        if sizes is None:
            sizes = {f: os.path.getsize(f) for f in files}
        elif missing := [f for f in files if f not in sizes]:
            raise ValueError(f"sizes missing for {missing[:3]!r}…")
        new = _delta_or_raise(self.files, files, sizes)
        if new:
            job_id, store, cols = self.job_id, self.store, list(spec.columns)
            fdf = spark.createDataFrame(
                [(f,) for f in new], "path string").repartition(len(new), "path")

            def build(batches):
                for b in batches:
                    for path in b.column(0).to_pylist():
                        sk, rows = _build_partial(spec, _row_group_batches(path, cols))
                        blob = sk.to_bytes()
                        store.put(_file_key(job_id, path), blob)
                        yield pa.RecordBatch.from_arrays(
                            [pa.array([path], pa.string()),
                             pa.array([ser.read_hash(blob).hex()], pa.string()),
                             pa.array([rows], pa.int64())],
                            ["path", "sha256", "rows"])

            lineage = fdf.mapInArrow(
                build, "path string, sha256 string, rows long").collect()
            for r in lineage:
                key = _file_key(self.job_id, r.path)
                if not self.store.exists(key):  # pragma: no cover — defensive
                    raise ValueError(f"partial {key!r} missing; task persist failed?")
                self.files[r.path] = {"key": key, "sha256": r.sha256,
                                      "rows": r.rows, "size": sizes[r.path]}
            self.snapshot = snapshot_id or snapshot_fingerprint(
                (f, self.files[f]["size"]) for f in self.files)
            self._flush()  # one manifest write per update, not one per file
        elif snapshot_id and self.snapshot != snapshot_id:
            # 0-file update under a NEW table version (e.g. a metadata-only
            # commit): record that the sketch is current as of it
            self.snapshot = snapshot_id
            self._flush()
        keys = sorted(v["key"] for v in self.files.values())
        if len(keys) > fan_in:
            return self.store.load_merged_distributed(spark, keys, fan_in), len(new)
        return self.store.load_merged(keys), len(new)


def incremental_aggregate(spark, files, spec, store: SketchStore, job_id: str,
                          fan_in: int = 16):
    """One-call snapshot-delta update (see ``IncrementalBuild``).

    ``files`` is the snapshot's full current file list, or a directory
    whose ``*.parquet`` children are the snapshot.  Returns (sketch,
    n_new_files_processed) — 0 new files means the call was a pure
    (distributed) re-merge of existing partials."""
    if isinstance(files, str):
        files = _snapshot_files(files)
    return IncrementalBuild(store, job_id).update(spark, list(files), spec, fan_in)


def incremental_aggregate_delta(spark, table, spec, store: SketchStore,
                                job_id: str, version: int | None = None,
                                fan_in: int = 16):
    """Snapshot-delta update keyed on a REAL Delta table version
    (sources/delta.py): the file manifest and sizes come from the
    transaction log (no directory listing, no stat calls), the
    recorded snapshot is ``<table-id>@v<version>``, and bringing the
    sketch from version N to M processes exactly the files the log
    added in between.  ``table`` is a ``DeltaTable`` or a table-dir
    path.  Returns (sketch, n_new_files_processed)."""
    from presto_bloomfilter_spark.sources.delta import DeltaTable

    if isinstance(table, str):
        table = DeltaTable(table)
    snap = table.snapshot(version)
    build = IncrementalBuild(store, job_id)
    return build.update(spark, list(snap.files), spec, fan_in,
                        sizes=snap.sizes, snapshot_id=snap.snapshot_id)


def _snapshot_files(directory: str) -> list[str]:
    import glob as _glob

    return sorted(_glob.glob(os.path.join(directory, "*.parquet")))


def _delta_or_raise(known: dict, files: list, sizes: dict) -> list:
    """Shared append-only guard: the new-file delta, or a loud error on
    a vanished/rewritten already-sketched file (sketches are not
    subtractable — see IncrementalBuild)."""
    vanished = sorted(set(known) - set(files))
    if vanished:
        raise ValueError(
            f"{len(vanished)} already-sketched file(s) missing from the "
            f"snapshot (first: {vanished[0]!r}) — sketches are not "
            f"subtractable; rebuild under a new job_id")
    changed = sorted(f for f in files
                     if f in known and known[f]["size"] != sizes[f])
    if changed:
        raise ValueError(
            f"{len(changed)} already-sketched file(s) rewritten in place "
            f"(first: {changed[0]!r}) — sketches are not subtractable; "
            f"rebuild under a new job_id")
    return sorted(f for f in files if f not in known)


class IncrementalGroupedBuild:
    """Per-key snapshot-delta maintenance of a sketch TABLE (key →
    sketch): the grouped sibling of ``IncrementalBuild`` for the
    north_rule's 'distinct doc_id counts grouped by source' shape at
    10^12 rows, where neither a rebuild per snapshot nor a driver-side
    dict of keys is acceptable.

    Each update runs ONE grouped build over just the new files and
    writes the result as a delta sketch table (``write_sketch_table``)
    under ``root/<job_id>.delta-N``; ``merged_view`` unions the deltas
    and shuffle-merges per key in Spark, returning DataFrame[key,
    sketch] — blobs never land on the driver.  ``compact`` rewrites the
    accumulated deltas as a single base table (sketch mergeability =
    compaction is just a re-merge), bounding read fan-in as snapshots
    accumulate.  Same append-only contract as IncrementalBuild:
    vanished/rewritten files fail loud.  Single writer per job_id.
    """

    def __init__(self, root: str, job_id: str):
        self.root = root
        self.job_id = _safe_key(job_id)
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, f"{job_id}.grouped.manifest.json")
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                d = json.load(f)
            self.files = d["files"]
            self.deltas = d["deltas"]
            self.next_delta = d["next_delta"]
            self.key = d.get("key", "")
            self.snapshot = d.get("snapshot", "")
        else:
            self.files, self.deltas, self.next_delta = {}, [], 0
            self.key, self.snapshot = "", ""

    def _flush(self) -> None:
        tmp = self.manifest_path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"job_id": self.job_id, "files": self.files,
                       "deltas": self.deltas, "next_delta": self.next_delta,
                       "key": self.key, "snapshot": self.snapshot,
                       "updated_at": time.time()}, f, sort_keys=True, indent=1)
        os.replace(tmp, self.manifest_path)

    def _delta_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def update(self, spark, files, key: str, spec, **grouped_kwargs):
        """Bring the sketch table up to date with the snapshot's full
        current file list (or directory).  Returns (merged view
        DataFrame[key, sketch], n_new_files).  ``grouped_kwargs`` pass
        through to ``grouped_sketch`` (e.g. ``strategy="salted",
        salt=32`` for high-cardinality keys)."""
        from presto_bloomfilter_spark.operators.aggregate import grouped_sketch

        if isinstance(files, str):
            files = _snapshot_files(files)
        files = list(files)
        if not files:
            raise ValueError("empty snapshot: no files")
        if self.key and key != self.key:
            raise ValueError(f"job {self.job_id!r} groups by {self.key!r}, not {key!r}")
        sizes = {f: os.path.getsize(f) for f in files}
        new = _delta_or_raise(self.files, files, sizes)
        if new:
            delta_name = f"{self.job_id}.delta-{self.next_delta:05d}"
            per_key = grouped_sketch(
                spark.read.parquet(*new), key, spec, **grouped_kwargs)
            write_sketch_table(per_key, self._delta_path(delta_name))
            self.deltas.append(delta_name)
            self.next_delta += 1
            self.key = key
            for f in new:
                self.files[f] = {"size": sizes[f], "delta": delta_name}
            self.snapshot = snapshot_fingerprint(
                (f, self.files[f]["size"]) for f in self.files)
            self._flush()
        return self.merged_view(spark), len(new)

    def merged_view(self, spark):
        """DataFrame[key, sketch]: all deltas unioned and merged per key
        IN SPARK (one blob shuffle) — decode estimates downstream with
        ``sketch_estimates``, or collect only if the key count is small."""
        from presto_bloomfilter_spark.operators.aggregate import (
            grouped_merge_sketch_column,
        )

        if not self.deltas:
            raise ValueError(f"job {self.job_id!r} has no deltas yet")
        tbl = spark.read.parquet(*(self._delta_path(d) for d in self.deltas))
        return grouped_merge_sketch_column(tbl.select(self.key, "sketch"), self.key)

    def compact(self, spark) -> int:
        """Rewrite all deltas as one base table; returns the number of
        delta tables folded.  Old deltas are removed after the base
        publishes (write_sketch_table is an overwrite into a fresh
        name, manifest flip is atomic)."""
        import shutil

        folded = len(self.deltas)
        if folded <= 1:
            return 0
        base_name = f"{self.job_id}.delta-{self.next_delta:05d}"
        write_sketch_table(self.merged_view(spark), self._delta_path(base_name))
        old, self.deltas = self.deltas, [base_name]
        self.next_delta += 1
        for f in self.files.values():
            f["delta"] = base_name
        self._flush()
        for name in old:
            shutil.rmtree(self._delta_path(name), ignore_errors=True)
        return folded


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
