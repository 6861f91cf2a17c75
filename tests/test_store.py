"""Sketch store + checkpoint/resume tests (persistence parity with the
reference persist-service: PUT/GET round trip, merge-of-loaded,
resumable partial builds)."""

import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from presto_bloomfilter_spark import BloomFilter, HyperLogLog
from pyspark.sql import functions as F
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.sources.corpus import load_tokens
from presto_bloomfilter_spark.store import (
    Manifest, SketchStore, incremental_aggregate, snapshot_fingerprint)

REPO = Path(__file__).resolve().parent.parent


def test_put_get_roundtrip(tmp_path):
    store = SketchStore(str(tmp_path))
    bf = BloomFilter(1000, 0.01).add("persisted")
    assert store.put("k1", bf)
    back = store.get("k1")
    assert back == bf and back.might_contain("persisted")


def test_put_overwrites_and_keys(tmp_path):
    store = SketchStore(str(tmp_path))
    store.put("a", BloomFilter(100, 0.01).add("x"))
    store.put("a", BloomFilter(100, 0.01).add("y"))
    assert store.get("a").might_contain("y")
    store.put("b", HyperLogLog().add_ints(np.arange(5)))
    assert store.keys() == ["a", "b"]


def test_load_merged(tmp_path):
    # reference bloom_filter_load: GET per key and union
    store = SketchStore(str(tmp_path))
    store.put("p1", BloomFilter(1000, 0.01).add("one"))
    store.put("p2", BloomFilter(1000, 0.01).add("two"))
    merged = store.load_merged(["p1", "p2"])
    assert merged.might_contain("one") and merged.might_contain("two")


def test_invalid_keys_and_garbage(tmp_path):
    store = SketchStore(str(tmp_path))
    with pytest.raises(ValueError):
        store.put("../escape", BloomFilter(100, 0.01))
    with pytest.raises(ValueError):
        store.put("k", b"not a sketch")
    with pytest.raises(FileNotFoundError):
        store.get_bytes("missing")


def _write_snapshot(df, path, n_files):
    import glob

    df.repartition(n_files).write.parquet(path)
    return sorted(glob.glob(path + "/*.parquet"))


def test_checkpointed_aggregate_and_resume(spark, sf_dir, tmp_path):
    """A checkpoint is the resumable build with no prior manifest: the
    first run builds every file's shards, a resume builds none and
    returns the same sketch; a source that lost a sketched file refuses
    to resume, and a DataFrame is not a source (its partition ids are
    no stable shard identity)."""
    store = SketchStore(str(tmp_path / "store"))
    tokens = load_tokens(spark, sf_dir)
    files = _write_snapshot(tokens, str(tmp_path / "src"), 6)
    spec = agg.SketchSpec("doc_id", HyperLogLog)

    sk1, computed1 = incremental_aggregate(spark, str(tmp_path / "src"), spec, store, "job1")
    assert computed1 == len(files) == 6
    direct = agg.aggregate_sketch(tokens, spec)
    assert sk1 == direct

    # resume: nothing left to compute, same result from the manifest
    sk2, computed2 = incremental_aggregate(spark, str(tmp_path / "src"), spec, store, "job1")
    assert computed2 == 0
    assert sk2 == sk1

    # a different source snapshot that drops a sketched file → refuse
    with pytest.raises(ValueError, match="missing from the snapshot"):
        incremental_aggregate(spark, files[1:], spec, store, "job1")
    with pytest.raises(TypeError, match="write it to parquet"):
        incremental_aggregate(spark, tokens, spec, store, "job2")


def test_manifest_lineage(tmp_path, spark, sf_dir):
    store = SketchStore(str(tmp_path / "store"))
    tokens = load_tokens(spark, sf_dir)
    files = _write_snapshot(tokens, str(tmp_path / "src"), 3)
    _, _ = incremental_aggregate(
        spark, files, agg.bloom_over_strings("doc_id", 10_000), store, "jobL")
    m = Manifest.load(store, "jobL")
    parts = m.parts
    assert parts and sum(v["rows"] for v in parts.values()) == tokens.count()
    for key, v in parts.items():
        assert len(v["sha256"]) == 64 and store.exists(key)
    # every (file, row group) shard is covered by exactly one part
    shards = sorted(tuple(s) for v in parts.values() for s in v["shards"])
    assert shards == sorted(agg._list_shards(files))
    assert m.files == {f: os.path.getsize(f) for f in files}
    assert m.snapshot == snapshot_fingerprint(m.files.items())


def test_checkpointed_aggregate_driver_never_holds_partials(spark, sf_dir, tmp_path, monkeypatch):
    """Scale posture with more parts than fan_in: tasks persist their
    own partials executor-side and only (sha256, rows) lineage rows
    reach the driver; the final merge is the distributed bounded-fan-in
    tree, so DRIVER-side store reads are zero (worker processes don't
    see this monkeypatch — any driver-side blob load would count)."""
    store = SketchStore(str(tmp_path / "store"))
    tokens = load_tokens(spark, sf_dir)
    files = _write_snapshot(tokens, str(tmp_path / "src"), 16)
    spec = agg.SketchSpec("doc_id", HyperLogLog)

    driver_reads = []
    real_get_bytes = SketchStore.get_bytes
    monkeypatch.setattr(SketchStore, "get_bytes",
                        lambda self, key: driver_reads.append(key) or real_get_bytes(self, key))

    sk1, computed1 = incremental_aggregate(spark, files, spec, store, "big", fan_in=2)
    assert computed1 == 16
    assert driver_reads == []  # merge ran in tasks, not the driver
    assert sk1 == agg.aggregate_sketch(tokens, spec)

    # resume recomputes ZERO files and still merges distributed
    sk2, computed2 = incremental_aggregate(spark, files, spec, store, "big", fan_in=2)
    assert computed2 == 0 and sk2 == sk1 and driver_reads == []

    # lineage is complete: more parts than fan_in, all persisted, hashes recorded
    parts = Manifest.load(store, "big").parts
    assert len(parts) > 2
    assert all(store.exists(k) and len(v["sha256"]) == 64 for k, v in parts.items())


def test_record_partition_meta_refuses_missing_blob(tmp_path):
    store = SketchStore(str(tmp_path))
    m = Manifest("jobX")
    with pytest.raises(ValueError, match="missing from store"):
        m.record(store, "jobX.part-0", [["f.parquet", 0]], "0" * 64, 10)
    assert m.parts == {}


def test_resume_across_parallelism_equals_fresh_build(sf_dir):
    """A build checkpointed at local[2] and resumed after the source
    grew at local[4] equals a fresh local[4] build.  Runs in a
    subprocess: each phase needs its own SparkContext size."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "tests" / "drivers" / "resume_drive.py"),
         str(REPO), sf_dir],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RESUME_ACROSS_PARALLELISM_OK" in proc.stdout


def test_sketch_table_sink_roundtrip(spark, tmp_path):
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.sources.corpus import load_tokens
    from presto_bloomfilter_spark.store import load_sketch_table_merged, read_sketch_table, write_sketch_table

    tokens = load_tokens(spark, "/root/testdata/sf0.001")
    per_src = agg.grouped_sketch(tokens, "source", agg.hll_over_tokens("tokens"))
    path = str(tmp_path / "sketch_table")
    write_sketch_table(per_src, path)

    tbl = read_sketch_table(spark, path)
    assert set(tbl.columns) == {"source", "sketch", "sha256", "params"}
    assert tbl.count() == per_src.count()
    # params are readable without decoding payloads
    import json as _json
    p = _json.loads(tbl.select("params").first().params)
    assert "precision" in p or p, p

    merged = load_sketch_table_merged(spark, path, key_col="source")
    exact = {r.source: r.d for r in tokens.selectExpr("source", "explode(tokens) t")
             .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()}
    for src, sk in merged.items():
        assert abs(sk.estimate() - exact[src]) / exact[src] < 0.05
    glob = load_sketch_table_merged(spark, path)
    assert glob.estimate() > 0


def test_sketch_table_keyed_merge_is_distributed(spark, tmp_path, monkeypatch):
    """Keyed sketch-table loads merge per key IN SPARK: with two table
    rows per key the driver deserializes exactly one (merged) blob per
    key — never the full table — and the merged estimates prove the
    per-key union actually happened.  The max_keys guard stops silent
    driver hotspots at high key cardinality."""
    import presto_bloomfilter_spark.store as store_mod
    from presto_bloomfilter_spark.sources.corpus import load_tokens
    from presto_bloomfilter_spark.store import load_sketch_table_merged, write_sketch_table

    tokens = load_tokens(spark, "/root/testdata/sf0.001")
    half_a = tokens.filter(F.crc32(F.col("doc_id").cast("string")) % 2 == 0)
    half_b = tokens.filter(F.crc32(F.col("doc_id").cast("string")) % 2 != 0)
    per_src_a = agg.grouped_sketch(half_a, "source", agg.SketchSpec("doc_id", HyperLogLog))
    per_src_b = agg.grouped_sketch(half_b, "source", agg.SketchSpec("doc_id", HyperLogLog))
    path = str(tmp_path / "split_table")
    write_sketch_table(per_src_a.union(per_src_b), path)
    n_keys = per_src_a.count()
    assert spark.read.parquet(path).count() == 2 * n_keys  # 2 rows/key on disk

    decoded = []
    real_from_bytes = store_mod.ser.sketch_from_bytes
    monkeypatch.setattr(store_mod.ser, "sketch_from_bytes",
                        lambda b: decoded.append(1) or real_from_bytes(b))
    merged = load_sketch_table_merged(spark, path, key_col="source")
    assert len(decoded) == n_keys == len(merged)  # one blob per key at the driver
    exact = {r.source: r.d for r in tokens
             .groupBy("source").agg(F.countDistinct("doc_id").alias("d")).collect()}
    for src, sk in merged.items():
        assert abs(sk.estimate() - exact[src]) / exact[src] < 0.05

    with pytest.raises(ValueError, match="max_keys"):
        load_sketch_table_merged(spark, path, key_col="source", max_keys=1)


def test_load_source_parquet_and_snapshot_guard(spark):
    from presto_bloomfilter_spark.sources.tables import load_source

    d = load_source(spark, "/root/testdata/sf0.001/documents.parquet")
    assert d.count() > 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="iceberg"):
        load_source(spark, "/root/testdata/sf0.001/documents.parquet",
                    snapshot_id=42)


def test_load_jsonl_schema_enforced_with_quarantine(spark, tmp_path):
    from presto_bloomfilter_spark.sources.tables import load_jsonl, split_corrupt

    p = tmp_path / "crawl.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "source": "web"}\n'
        'NOT JSON AT ALL\n'
        '{"doc_id": 2, "text": "second", "source": "books"}\n'
        '{"doc_id": "not-a-number", "text": "bad type", "source": "web"}\n'
    )
    df = load_jsonl(spark, str(p), "doc_id bigint, text string, source string")
    clean, bad = split_corrupt(df)
    rows = {r.doc_id: r.text for r in clean.collect()}
    assert rows == {1: "hello world", 2: "second"}
    assert "_corrupt_record" not in clean.columns
    quarantined = [r["_corrupt_record"] for r in bad.collect()]
    assert len(quarantined) == 2 and "NOT JSON AT ALL" in quarantined
    # schema is mandatory: no silent double-scan inference
    import pytest as _pytest
    with _pytest.raises(ValueError):
        load_jsonl(spark, str(p), None)


def test_load_csv_schema_enforced_with_quarantine(spark, tmp_path):
    from presto_bloomfilter_spark.sources.tables import load_csv, split_corrupt

    p = tmp_path / "labels.csv"
    p.write_text(
        "doc_id,score,source\n"
        "1,0.5,web\n"
        "not-a-number,0.9,web\n"
        "2,0.25,books\n"
    )
    df = load_csv(spark, str(p), "doc_id bigint, score double, source string")
    clean, bad = split_corrupt(df)
    rows = {r.doc_id: r.score for r in clean.collect()}
    assert rows == {1: 0.5, 2: 0.25}
    quarantined = [r["_corrupt_record"] for r in bad.collect()]
    assert quarantined == ["not-a-number,0.9,web"]
    # TSV via sep
    t = tmp_path / "labels.tsv"
    t.write_text("doc_id\tscore\n7\t1.5\n")
    tdf, _ = split_corrupt(load_csv(
        spark, str(t), "doc_id bigint, score double", sep="\t"))
    assert [(r.doc_id, r.score) for r in tdf.collect()] == [(7, 1.5)]


def test_load_csv_faithful_null_vs_empty_roundtrip(spark, tmp_path):
    """The documented faithful recipe: writer sentinel nullValue +
    no-trim, reader matching null_value — empty string, NULL, and edge
    whitespace all survive; Spark's default (no null_value) coerces
    empty strings to NULL, which is exactly why the option exists."""
    from presto_bloomfilter_spark.sources.tables import load_csv, split_corrupt

    d = tmp_path / "vals"
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x"), (4, "  pad  ")], "id bigint, t string")
    (df.write.option("header", "true").option("nullValue", "\\N")
       .option("ignoreLeadingWhiteSpace", "false")
       .option("ignoreTrailingWhiteSpace", "false").csv(str(d)))
    clean, _ = split_corrupt(load_csv(
        spark, str(d), "id bigint, t string", null_value="\\N"))
    got = {r.id: r.t for r in clean.collect()}
    assert got == {1: "", 2: None, 3: "x", 4: "  pad  "}
    # default semantics: both empty and sentinel-less null read as NULL
    clean2, _ = split_corrupt(load_csv(spark, str(d), "id bigint, t string"))
    got2 = {r.id: r.t for r in clean2.collect()}
    assert got2[1] is None  # the documented coercion


# ---- snapshot-delta incremental maintenance ----------------------------------


def test_incremental_update_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Append-only snapshot growth: update processes ONLY the new
    files, a re-run is a 0-file no-op, and the maintained sketch is
    byte-identical to a full rebuild (merge associativity)."""
    tokens = load_tokens(spark, sf_dir)
    even = tokens.filter(F.crc32(F.col("doc_id").cast("string")) % 2 == 0)
    odd = tokens.filter(F.crc32(F.col("doc_id").cast("string")) % 2 != 0)
    files_a = _write_snapshot(even, str(tmp_path / "a"), 3)
    files_b = _write_snapshot(odd, str(tmp_path / "b"), 2)
    store = SketchStore(str(tmp_path / "store"))
    spec = agg.SketchSpec("doc_id", HyperLogLog)

    sk1, n1 = incremental_aggregate(spark, files_a, spec, store, "inc")
    assert n1 == 3
    sk2, n2 = incremental_aggregate(spark, files_a + files_b, spec, store, "inc")
    assert n2 == 2  # only the delta was processed
    sk3, n3 = incremental_aggregate(spark, files_a + files_b, spec, store, "inc")
    assert n3 == 0 and sk3 == sk2  # idempotent no-op re-merge

    full = agg.aggregate_sketch(
        spark.read.parquet(str(tmp_path / "a"), str(tmp_path / "b")), spec)
    assert sk2.to_bytes() == full.to_bytes()
    # and the first snapshot's sketch covered exactly the even half
    exact_even = even.select("doc_id").distinct().count()
    assert abs(sk1.estimate() - exact_even) <= 0.03 * exact_even

    # per-file lineage recorded with snapshot fingerprint
    m = Manifest.load(store, "inc")
    assert set(m.files) == set(files_a + files_b)
    assert all(len(v["sha256"]) == 64 and store.exists(k) for k, v in m.parts.items())
    assert len(m.snapshot) == 32


def test_incremental_update_directory_form(spark, sf_dir, tmp_path):
    tokens = load_tokens(spark, sf_dir)
    _write_snapshot(tokens, str(tmp_path / "snap"), 2)
    store = SketchStore(str(tmp_path / "store"))
    sk, n = incremental_aggregate(
        spark, str(tmp_path / "snap"), agg.SketchSpec("doc_id", HyperLogLog), store, "d")
    assert n == 2
    exact = tokens.select("doc_id").distinct().count()
    assert abs(sk.estimate() - exact) <= 0.03 * exact


def test_incremental_refuses_rewritten_and_vanished_files(spark, sf_dir, tmp_path):
    """Sketches are not subtractable: a rewritten or vanished
    already-sketched file must fail loud, not drift silently."""
    tokens = load_tokens(spark, sf_dir)
    files = _write_snapshot(tokens, str(tmp_path / "snap"), 3)
    store = SketchStore(str(tmp_path / "store"))
    spec = agg.SketchSpec("doc_id", HyperLogLog)
    _, n = incremental_aggregate(spark, files, spec, store, "guard")
    assert n == 3

    # vanished: snapshot no longer lists a sketched file
    with pytest.raises(ValueError, match="missing from the snapshot"):
        incremental_aggregate(spark, files[:2], spec, store, "guard")

    # rewritten in place (size change trips before any read)
    with open(files[0], "ab") as f:
        f.write(b"\0" * 64)
    with pytest.raises(ValueError, match="rewritten in place"):
        incremental_aggregate(spark, files, spec, store, "guard")

    with pytest.raises(ValueError, match="empty snapshot"):
        incremental_aggregate(spark, [], spec, store, "guard")


def test_incremental_driver_never_holds_partials(spark, sf_dir, tmp_path, monkeypatch):
    """Scale posture: task partials persist executor-side, only (sha256,
    rows) lineage reaches the driver, and with more parts than fan-in
    the merge is the distributed tree — zero driver blob reads."""
    tokens = load_tokens(spark, sf_dir)
    files = _write_snapshot(tokens.repartition(8), str(tmp_path / "snap"), 8)
    assert len(files) == 8
    store = SketchStore(str(tmp_path / "store"))

    driver_reads = []
    real_get_bytes = SketchStore.get_bytes
    monkeypatch.setattr(SketchStore, "get_bytes",
                        lambda self, key: driver_reads.append(key) or real_get_bytes(self, key))
    sk, n = incremental_aggregate(
        spark, files, agg.SketchSpec("doc_id", HyperLogLog), store, "big", fan_in=2)
    assert n == 8 and driver_reads == []
    assert len(Manifest.load(store, "big").parts) > 2
    exact = tokens.select("doc_id").distinct().count()
    assert abs(sk.estimate() - exact) <= 0.03 * exact


def test_incremental_grouped_build_and_compact(spark, sf_dir, tmp_path):
    """Per-key snapshot-delta maintenance: update A then A+B builds one
    grouped delta table per update, the merged view equals per-source
    exact counts within HLL bounds, re-run is a no-op, and compaction
    folds the deltas into one base table with identical results."""
    from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
    from presto_bloomfilter_spark.store import IncrementalGroupedBuild

    tokens = load_tokens(spark, sf_dir)
    even = tokens.filter(F.crc32(F.col("doc_id").cast("string")) % 2 == 0)
    odd = tokens.filter(F.crc32(F.col("doc_id").cast("string")) % 2 != 0)
    files_a = _write_snapshot(even, str(tmp_path / "a"), 2)
    files_b = _write_snapshot(odd, str(tmp_path / "b"), 2)
    spec = agg.SketchSpec("doc_id", HyperLogLog)

    inc = IncrementalGroupedBuild(str(tmp_path / "sketches"), "bysrc")
    _, n1 = inc.update(spark, files_a, "source", spec)
    view, n2 = inc.update(spark, files_a + files_b, "source", spec)
    assert (n1, n2) == (2, 2)
    assert len(inc.manifest.parts) == 2 and len(inc.manifest.snapshot) == 32

    exact = {r.source: r.d for r in tokens.groupBy("source")
             .agg(F.countDistinct("doc_id").alias("d")).collect()}
    got = {r.source: sketch_from_bytes(r.sketch).estimate() for r in view.collect()}
    assert set(got) == set(exact)
    for s, est in got.items():
        assert abs(est - exact[s]) <= 0.05 * exact[s]

    # no-op re-run, then key mismatch fails loud
    _, n3 = inc.update(spark, files_a + files_b, "source", spec)
    assert n3 == 0
    with pytest.raises(ValueError, match="groups by"):
        inc.update(spark, files_a + files_b, "lang", spec)

    # compact: 2 deltas -> 1 base, same merged estimates, reopen works
    assert inc.compact(spark) == 2
    assert len(inc.manifest.parts) == 1
    reopened = IncrementalGroupedBuild(str(tmp_path / "sketches"), "bysrc")
    got2 = {r.source: sketch_from_bytes(r.sketch).estimate()
            for r in reopened.merged_view(spark).collect()}
    assert got2 == got
    assert reopened.compact(spark) == 0  # single delta: nothing to fold

    # append-only contract shared with the global build
    with pytest.raises(ValueError, match="missing from the snapshot"):
        inc.update(spark, files_a, "source", spec)


def test_sketch_estimates_decodes_executor_side(spark, sf_dir, tmp_path, monkeypatch):
    """sketch_estimates turns a sketch table into (key, estimate) rows
    without any driver-side blob decode; pass-through columns survive."""
    import presto_bloomfilter_spark.operators.aggregate as agg_mod

    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.SketchSpec("doc_id", HyperLogLog))

    decoded_on_driver = []
    real = agg_mod.sketch_from_bytes
    monkeypatch.setattr(agg_mod, "sketch_from_bytes",
                        lambda b: decoded_on_driver.append(1) or real(b))
    est = {r.source: r.estimate
           for r in agg.sketch_estimates(per_src).collect()}
    assert decoded_on_driver == []  # decode ran in executors only
    exact = {r.source: r.d for r in tokens.groupBy("source")
             .agg(F.countDistinct("doc_id").alias("d")).collect()}
    assert set(est) == set(exact)
    for s in exact:
        assert abs(est[s] - exact[s]) <= 0.05 * exact[s]

    with pytest.raises(ValueError, match="no column"):
        agg.sketch_estimates(per_src, col="nope")
    with pytest.raises(ValueError, match="already exists"):
        agg.sketch_estimates(per_src, out_col="source")


def test_sketch_table_helpers_pass_bigint_keys_through_exactly(spark, tmp_path):
    """sketch_estimates and write_sketch_table append their columns to
    the input rows: a bigint key 2^53+1 next to a NULL key in the same
    batch stays exact (a float round trip would give 2^53)."""
    import json

    from presto_bloomfilter_spark.functions.serialization import read_params
    from presto_bloomfilter_spark.store import read_sketch_table, write_sketch_table

    big = 2**53 + 1
    sketches = {k: HyperLogLog().add_strings([f"u{i}" for i in range(n)])
                for k, n in [(None, 3), (big, 5), (7, 11)]}
    blobs = {k: sk.to_bytes() for k, sk in sketches.items()}
    df = spark.createDataFrame(list(blobs.items()), "key bigint, sketch binary").coalesce(1)

    est = {r.key: r.estimate for r in agg.sketch_estimates(df).collect()}
    assert est == {k: float(sk.estimate()) for k, sk in sketches.items()}

    path = str(tmp_path / "tbl")
    write_sketch_table(df, path)
    tbl = read_sketch_table(spark, path)
    assert dict(tbl.dtypes)["key"] == "bigint"
    rows = {r.key: r for r in tbl.collect()}
    assert set(rows) == {None, big, 7}
    for k, b in blobs.items():
        assert bytes(rows[k].sketch) == b
        assert json.loads(rows[k].params) == read_params(b)
