"""Structured Streaming sketch maintenance: availableNow file stream,
idempotent micro-batch folding, replay safety."""

import numpy as np
import pytest

from presto_bloomfilter_spark import CountMinSketch, HyperLogLog
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.sources.corpus import generate_tokens_table
from presto_bloomfilter_spark.store import SketchStore
from presto_bloomfilter_spark.streaming.stream_sketch import (
    StreamingSketchSink,
    run_stream_from_files,
)


def _write_batches(tmp_path, n_files=3, docs_per=200):
    import pyarrow.parquet as pq

    d = tmp_path / "stream_in"
    d.mkdir()
    for i in range(n_files):
        tbl = generate_tokens_table(docs_per, seed=1000 + i)
        pq.write_table(tbl, str(d / f"part{i}.parquet"))
    return str(d)


def test_stream_folds_all_files(spark, tmp_path):
    indir = _write_batches(tmp_path)
    store = SketchStore(str(tmp_path / "store"))
    sink = run_stream_from_files(
        spark,
        indir,
        "doc_id string, tokens array<int>, n_tok int, source string",
        agg.SketchSpec("doc_id", HyperLogLog),
        store,
        "stream1",
        str(tmp_path / "ckpt"),
    )
    est = sink.current().estimate()
    # 3 files x 200 docs, doc_ids repeat across files (same generator ids)
    assert abs(est - 200) / 200 <= 0.05


def test_replayed_batch_is_skipped(spark, tmp_path):
    store = SketchStore(str(tmp_path / "store"))
    spec = agg.SketchSpec("doc_id", lambda: CountMinSketch(0.01))
    sink = StreamingSketchSink(spec, store, "jobR")
    df = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    sink(df, epoch_id=0)
    total_after_first = sink.current().total
    sink(df, epoch_id=0)  # replay of the same epoch
    assert sink.current().total == total_after_first  # not double-counted
    sink(df, epoch_id=1)
    assert sink.current().total == 2 * total_after_first


def _write_ts_files(tmp_path, spark):
    """Three files advancing event time; file3's rows push the watermark
    past the first windows so they finalize. One row in file2 is late
    (inside watermark) for window 0 and must still merge in.  A NULL
    user_id in file1 reaches the fold as a pandas float column and must
    be skipped, not hashed or crash the insert."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ts_in"
    d.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")

    def mk(rows):
        ts, uid = zip(*rows)
        return pa.table({"ts": pa.array([base + pd.Timedelta(minutes=m) for m in ts],
                                        pa.timestamp("us")),
                         "user_id": pa.array(uid, pa.int64())})

    # window = 10 min. w0: [0,10), w1: [10,20), w2: [20,30) ...
    pq.write_table(mk([(1, 1), (2, 2), (3, 3), (5, None), (11, 10)]), str(d / "f0.parquet"))
    # advances watermark to ~21-10=11 > 10 → w0 closes next batch;
    # includes a LATE row for w0 (minute 4, within the 10-min delay)
    pq.write_table(mk([(21, 20), (4, 4), (12, 11)]), str(d / "f1.parquet"))
    # advances watermark to 41-10=31 → w1, w2 close
    pq.write_table(mk([(41, 40), (42, 41)]), str(d / "f2.parquet"))
    # the file source orders batches by modification time: pin distinct
    # mtimes so the event-time progression (and so which windows the
    # watermark closes) is deterministic, not filesystem-timing luck
    import os as _os

    for i, name in enumerate(["f0.parquet", "f1.parquet", "f2.parquet"]):
        t = 1_700_000_000 + i * 10
        _os.utime(str(d / name), (t, t))
    return str(d)


def test_windowed_stateful_sketch_stream(spark, tmp_path):
    from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
    from presto_bloomfilter_spark.streaming.stateful import run_windowed_stream_from_files

    indir = _write_ts_files(tmp_path, spark)
    out = run_windowed_stream_from_files(
        spark,
        indir,
        "ts timestamp, user_id long",
        agg.SketchSpec("user_id", HyperLogLog),
        time_col="ts",
        window_duration="10 minutes",
        watermark_delay="10 minutes",
        checkpoint=str(tmp_path / "ckpt_w"),
    ).collect()
    got = {r.window_start.minute: round(sketch_from_bytes(r.sketch).estimate())
           for r in out}
    # w0 closed with 4 distinct users (1,2,3 + late 4); w1 closed with
    # 2 (10, 11); w2 closed with 1 (20). The 40-minute window never
    # closes (watermark stops at 32) and must NOT be emitted.
    assert got.get(0) == 4, got
    assert got.get(10) == 2, got
    assert got.get(20) == 1, got
    assert 40 not in got, got


def test_streaming_bloom_dedup_bounded_state(spark, tmp_path):
    """Bounded-state streaming dedup: duplicates never survive (bloom
    has no false negatives), state is one fixed-size filter, and a
    re-delivered epoch is a no-op (idempotent)."""
    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.dedup_stream import StreamingBloomDedup

    store = SketchStore(str(tmp_path / "store"))
    sink = str(tmp_path / "sink")
    d = StreamingBloomDedup(store, "dd", sink, expected_insertions=10_000,
                            fpp=0.001, text_col="text", id_col="doc_id")

    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")],
        "doc_id long, text string",
    )
    # batch 0: in-batch dup 'alpha' collapses to min id
    assert d.process_batch(b0, 0) == 3
    # batch 1: all previously seen -> nothing emitted
    b1 = spark.createDataFrame([(5, "beta"), (6, "gamma")], "doc_id long, text string")
    assert d.process_batch(b1, 1) == 0
    # batch 2: mix of seen and fresh
    b2 = spark.createDataFrame([(7, "alpha"), (8, "delta")], "doc_id long, text string")
    assert d.process_batch(b2, 2) == 1
    # epoch redelivery is a no-op
    assert d.process_batch(b2, 2) == 0

    out = spark.read.parquet(sink)
    rows = {(r.doc_id, r.text) for r in out.collect()}
    assert rows == {(1, "alpha"), (2, "beta"), (4, "gamma"), (8, "delta")}
    # exactly one duplicate of each text, and the representative is min-id
    assert out.count() == out.select("text").distinct().count()
    # state = one filter of fixed geometry regardless of stream length
    seen = store.get("dd.seen")
    assert seen.expected_insertions == 10_000


def test_streaming_bloom_dedup_via_stream_api(spark, tmp_path):
    """End-to-end through readStream/writeStream with availableNow."""
    import os as _os

    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.dedup_stream import StreamingBloomDedup

    indir = tmp_path / "in"
    indir.mkdir()
    spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(indir / "f0.parquet"))
    spark.createDataFrame(
        [(4, "bb"), (5, "cc")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(indir / "f1.parquet"))

    store = SketchStore(str(tmp_path / "store2"))
    sink = str(tmp_path / "sink2")
    d = StreamingBloomDedup(store, "dd2", sink, expected_insertions=10_000,
                            fpp=0.001)
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(indir / "*")
    )
    q = d.attach(stream, str(tmp_path / "ckpt_dd"))
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    assert out.count() == out.select("text").distinct().count() == 3

def test_streaming_dedup_capacity_policies(spark, tmp_path):
    """Saturation is observable, never silent: past-capacity fill
    triggers warn / error / roll per on_capacity (ADVICE r02: an
    unbounded stream would otherwise saturate the filter and silently
    drop an ever-growing fraction of NEW docs)."""
    import warnings as _w

    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.dedup_stream import (
        CapacityExceeded,
        StreamingBloomDedup,
    )

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"doc-{i}") for i in range(lo, hi)], "doc_id long, text string")

    # tiny capacity so 3x overfill is easy
    store = SketchStore(str(tmp_path / "s_warn"))
    d = StreamingBloomDedup(store, "w", str(tmp_path / "k_warn"),
                            expected_insertions=50, fpp=0.01)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        d.process_batch(batch(0, 300), 0)
    assert any("past capacity" in str(x.message) for x in rec)
    assert d.capacity_events and d.capacity_events[0]["action"] == "warn"
    assert d.capacity_events[0]["estimated_fpr"] > 0.01

    store = SketchStore(str(tmp_path / "s_err"))
    d = StreamingBloomDedup(store, "e", str(tmp_path / "k_err"),
                            expected_insertions=50, fpp=0.01,
                            on_capacity="error")
    with pytest.raises(CapacityExceeded):
        d.process_batch(batch(0, 300), 0)


def test_streaming_dedup_roll_keeps_semantics(spark, tmp_path):
    """on_capacity='roll': new generation opens past capacity; probes
    check ALL generations so duplicates of pre-roll docs still never
    survive, and new docs stop being lost to saturation."""
    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.dedup_stream import StreamingBloomDedup

    store = SketchStore(str(tmp_path / "s_roll"))
    sink = str(tmp_path / "k_roll")
    d = StreamingBloomDedup(store, "r", sink, expected_insertions=50,
                            fpp=0.01, on_capacity="roll")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # gradual saturation: 25 new docs per epoch into an n=50 filter;
    # a roll fires once fill-estimated FPR passes the bound
    import warnings as _w
    emitted = 0
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        for e in range(4):
            emitted += d.process_batch(
                batch([(100 * e + i, f"doc-{100 * e + i}") for i in range(25)]), e)
    assert store.exists("r.seen.gen1")
    assert any(ev["action"] == "roll" for ev in d.capacity_events)
    # dups of pre-roll docs never survive (old generations still probed)
    seen_docs = [f"doc-{100 * e + i}" for e in range(4) for i in range(25)]
    assert d.process_batch(
        batch([(1000 + j, t) for j, t in enumerate(seen_docs)]), 10) == 0
    # genuinely new docs insert into the fresh generation and mostly
    # survive (loss bounded by the modestly-over-bound gen0 FPR, not
    # the runaway saturation an un-rolled filter would exhibit)
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        n2 = d.process_batch(
            batch([(2000 + i, f"new-{i}") for i in range(40)]), 11)
    assert n2 >= 30
    # and re-sent copies of the survivors are dropped too
    assert d.process_batch(
        batch([(3000 + i, f"new-{i}") for i in range(40)]), 12) == 0


def test_sharded_streaming_dedup_matches_single(spark, tmp_path):
    """S=4 sharded streaming dedup has S=1 semantics: no false
    survivors, in-batch dedupe, epoch idempotence — while every store
    object stays n/S-sized (VERDICT r02 next-round #7)."""
    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.dedup_stream import (
        ShardedStreamingBloomDedup,
    )

    root = str(tmp_path / "s4")
    sink = str(tmp_path / "sink4")
    d = ShardedStreamingBloomDedup(root, "sd", sink, shards=4,
                                   expected_insertions_per_shard=2_000,
                                   fpp=0.001)
    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")],
        "doc_id long, text string")
    assert d.process_batch(b0, 0) == 3
    b1 = spark.createDataFrame([(5, "beta"), (6, "gamma")],
                               "doc_id long, text string")
    assert d.process_batch(b1, 1) == 0
    b2 = spark.createDataFrame([(7, "alpha"), (8, "delta")],
                               "doc_id long, text string")
    assert d.process_batch(b2, 2) == 1
    # epoch redelivery is a no-op
    assert d.process_batch(b2, 2) == 0

    out = spark.read.parquet(sink)
    rows = {(r.doc_id, r.text) for r in out.collect()}
    assert rows == {(1, "alpha"), (2, "beta"), (4, "gamma"), (8, "delta")}
    # family layout: every shard object exists (empty included), each
    # bounded to the per-shard geometry, resolved via the v2 manifest
    import json

    store = SketchStore(root)
    assert store.meta_exists("sd.seen.manifest")
    manifest = json.loads(store.get_meta("sd.seen.manifest"))
    assert manifest["format"] == "pbfs-sharded-v2"
    assert sorted(int(s) for s in manifest["shard_keys"]) == [0, 1, 2, 3]
    for key in manifest["shard_keys"].values():
        assert store.get(key).expected_insertions == 2_000


def test_sharded_streaming_dedup_crash_retry_loses_nothing(spark, tmp_path):
    """Epoch retry after a mid-merge crash is lossless: shard merges
    are STAGED under versioned keys and committed with one atomic
    manifest swap, so a crash between two shard persists leaves probe
    state pre-epoch and the retry re-emits the COMPLETE row set
    (code-review finding: the per-shard-put scheme lost every row of
    already-merged shards on redelivery)."""
    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.dedup_stream import (
        ShardedStreamingBloomDedup,
    )

    root = str(tmp_path / "s4c")
    sink = str(tmp_path / "sink4c")
    d = ShardedStreamingBloomDedup(root, "sd3", sink, shards=4,
                                   expected_insertions_per_shard=2_000,
                                   fpp=0.001)
    docs = [(i, f"doc-{i}") for i in range(64)]  # spans all 4 shards
    batch = spark.createDataFrame(docs, "doc_id long, text string")

    # crash window 1: die DURING shard staging (after >=2 staged puts,
    # before the manifest swap) — simulate by failing put_meta once
    orig_put_meta = SketchStore.put_meta
    calls = {"n": 0}

    def dying_put_meta(self, key, blob):
        if key.endswith(".manifest") and b"e1" in blob:
            calls["n"] += 1
            if calls["n"] == 1:
                raise OSError("simulated crash before manifest swap")
        return orig_put_meta(self, key, blob)

    SketchStore.put_meta = dying_put_meta
    try:
        assert d.process_batch(batch, 0) == 64  # warm epoch 0 (committed)
        b1 = spark.createDataFrame([(100 + i, f"new-{i}") for i in range(64)],
                                   "doc_id long, text string")
        import pytest as _pytest
        with _pytest.raises(OSError):
            d.process_batch(b1, 1)
        # redelivery: probe state is pre-epoch, the FULL set re-emits
        assert d.process_batch(b1, 1) == 64
    finally:
        SketchStore.put_meta = orig_put_meta
    out1 = spark.read.parquet(f"{sink}/epoch=1")
    assert out1.count() == 64  # nothing lost from the epoch's sink dir

    # crash window 2: die after the swap but before the epoch marker —
    # retry emits 0 and must NOT clobber the complete sink output
    store = SketchStore(root)
    import presto_bloomfilter_spark.streaming.dedup_stream as ds
    orig_mark = ds._mark_epoch

    def dying_mark(st, job_id, epoch_id, keep):
        if epoch_id == 2:
            raise OSError("simulated crash before epoch marker")
        return orig_mark(st, job_id, epoch_id, keep)

    b2 = spark.createDataFrame([(200 + i, f"fresh-{i}") for i in range(32)],
                               "doc_id long, text string")
    ds._mark_epoch = dying_mark
    try:
        import pytest as _pytest
        with _pytest.raises(OSError):
            d.process_batch(b2, 2)
    finally:
        ds._mark_epoch = orig_mark
    assert spark.read.parquet(f"{sink}/epoch=2").count() == 32
    assert d.process_batch(b2, 2) == 0  # state already committed
    assert spark.read.parquet(f"{sink}/epoch=2").count() == 32  # intact
    # dup probes across all of it still drop everything
    replay = spark.createDataFrame(
        [(900 + i, f"fresh-{i}") for i in range(32)]
        + [(950 + i, f"new-{i}") for i in range(16)],
        "doc_id long, text string")
    assert d.process_batch(replay, 3) == 0
    # superseded shard versions were pruned: at most S live objects
    # (plus epoch markers) remain
    live = [k for k in store.keys() if ".seen.s" in k]
    assert len(live) <= 4


def test_sharded_streaming_dedup_larger_corpus(spark, tmp_path):
    """500 docs each sent twice across epochs: emitted set is exactly
    the unique set minus (bounded) FP losses, zero dup survivors."""
    from presto_bloomfilter_spark.streaming.dedup_stream import (
        ShardedStreamingBloomDedup,
    )

    root = str(tmp_path / "s4b")
    sink = str(tmp_path / "sink4b")
    d = ShardedStreamingBloomDedup(root, "sd2", sink, shards=4,
                                   expected_insertions_per_shard=1_000,
                                   fpp=0.001)
    docs = [(i, f"text-{i}") for i in range(500)]
    n0 = d.process_batch(
        spark.createDataFrame(docs, "doc_id long, text string"), 0)
    assert n0 >= 500 * (1 - 0.01)  # ≤ fpp-bounded unique loss
    # full replay as a NEW epoch: every doc already seen
    assert d.process_batch(
        spark.createDataFrame([(i + 10_000, t) for i, t in docs],
                              "doc_id long, text string"), 1) == 0
    out = spark.read.parquet(sink)
    assert out.count() == out.select("text").distinct().count() == n0


def test_sharded_streaming_capacity_error_survives_restart(spark, tmp_path):
    """on_capacity='error' must keep failing after a stream restart:
    saturation is recorded in the swapped manifest, so redelivered or
    all-duplicate batches raise too (a restart cannot silently resume
    past-capacity ingestion)."""
    import pytest as _pytest

    from presto_bloomfilter_spark.streaming.dedup_stream import (
        CapacityExceeded,
        ShardedStreamingBloomDedup,
    )

    root = str(tmp_path / "cap")
    sink = str(tmp_path / "sinkcap")
    d = ShardedStreamingBloomDedup(root, "sc", sink, shards=2,
                                   expected_insertions_per_shard=10,
                                   fpp=0.001, on_capacity="error")
    batch = spark.createDataFrame([(i, f"t-{i}") for i in range(200)],
                                  "doc_id long, text string")
    with _pytest.raises(CapacityExceeded):
        d.process_batch(batch, 0)  # saturates both tiny shards
    # fresh instance = restarted stream; even the MARKED epoch raises
    d2 = ShardedStreamingBloomDedup(root, "sc", sink, shards=2,
                                    expected_insertions_per_shard=10,
                                    fpp=0.001, on_capacity="error")
    with _pytest.raises(CapacityExceeded):
        d2.process_batch(batch, 0)
    # and so does any later batch, duplicates or not
    with _pytest.raises(CapacityExceeded):
        d2.process_batch(batch, 1)


def test_windowed_stream_non_utc_session_timezone(spark, tmp_path):
    """Regression for the timeout-epoch timezone bug: in a session west
    of UTC, the naive window_end interpreted as UTC fired the timeout
    hours early — the window finalized prematurely, then late-but-valid
    rows re-created state and a SECOND row appeared for the same
    window.  With the session-zone localization every window must still
    emit exactly one row with the same estimates as the UTC run."""
    from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
    from presto_bloomfilter_spark.streaming.stateful import run_windowed_stream_from_files

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        indir = _write_ts_files(tmp_path, spark)
        out = run_windowed_stream_from_files(
            spark,
            indir,
            "ts timestamp, user_id long",
            agg.SketchSpec("user_id", HyperLogLog),
            time_col="ts",
            window_duration="10 minutes",
            watermark_delay="10 minutes",
            checkpoint=str(tmp_path / "ckpt_tz"),
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    starts = [r.window_start for r in out]
    assert len(starts) == len(set(starts)), f"duplicate window rows: {starts}"
    got = {r.window_start.minute: round(sketch_from_bytes(r.sketch).estimate())
           for r in out}
    assert got.get(0) == 4 and got.get(10) == 2 and got.get(20) == 1, got
    assert 40 not in got, got
