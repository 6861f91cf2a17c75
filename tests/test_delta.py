"""Minimal Delta-protocol source (sources/delta.py) and the
snapshot-keyed incremental sketch maintenance built on it.

The reader's one job is a CORRECT manifest: log replay, time travel,
and the loud failure modes (gaps, unknown removes, checkpointed
tables) are pinned here; the Spark read, the resumable build and the
fused build run against a real local table directory.
"""

import json
import multiprocessing
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from presto_bloomfilter_spark.sources import delta


def _write_parquet(path, ids):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string())}), path)
    return path


@pytest.fixture()
def table(tmp_path):
    t = delta.create_delta_table(str(tmp_path / "tbl"), "tbl-1",
                                 schema_string="{}")
    os.makedirs(t.path + "/data", exist_ok=True)
    return t


def test_create_and_replay_manifest(table):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a", "b"])
    f2 = _write_parquet(table.path + "/data/f2.parquet", ["c"])
    assert table.snapshot().files == ()          # v0: metadata only
    v1 = table.commit(adds=[f1])
    v2 = table.commit(adds=[f2])
    assert (v1, v2) == (1, 2)
    snap = table.snapshot()
    assert snap.version == 2
    assert snap.files == (f1, f2)
    assert snap.sizes == {f1: os.path.getsize(f1), f2: os.path.getsize(f2)}
    assert snap.snapshot_id == "tbl-1@v2"
    # paths are recorded RELATIVE in the log (protocol-portable table)
    log1 = open(table.log_dir + "/" + "0" * 19 + "1.json").read()
    assert json.loads(log1)["add"]["path"] == "data/f1.parquet"


def test_time_travel_and_remove(table):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a"])
    f2 = _write_parquet(table.path + "/data/f2.parquet", ["b"])
    table.commit(adds=[f1])
    table.commit(adds=[f2], removes=[f1])
    assert table.snapshot(1).files == (f1,)      # time travel
    assert table.snapshot(2).files == (f2,)
    assert table.snapshot(0).files == ()


def test_loud_failure_modes(table, tmp_path):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a"])
    table.commit(adds=[f1])
    with pytest.raises(ValueError, match="not in log"):
        table.snapshot(9)
    with pytest.raises(ValueError, match="removes unknown file"):
        table.commit(removes=[table.path + "/data/nope.parquet"])
        table.snapshot()
    # clean up the bad commit for the remaining probes
    os.unlink(table.log_dir + "/" + "0" * 19 + "2.json")
    with pytest.raises(ValueError, match="empty commit"):
        table.commit()
    # version gap
    os.rename(table.log_dir + "/" + "0" * 19 + "1.json",
              table.log_dir + "/" + "0" * 18 + "55.json")
    with pytest.raises(ValueError, match="gaps"):
        table.snapshot()
    # not a table
    with pytest.raises(FileNotFoundError, match="no _delta_log"):
        delta.DeltaTable(str(tmp_path / "nowhere"))
    # double init
    with pytest.raises(FileExistsError, match="already initialized"):
        delta.create_delta_table(table.path, "tbl-1")


def test_commit_race_is_put_if_absent(table):
    # two writers race for version 1: the loser's write-temp+rename
    # must surface FileExistsError, not clobber the winner
    with open(table.log_dir + "/" + "0" * 19 + "1.json", "w") as fh:
        fh.write(json.dumps({"add": {"path": "data/f1.parquet", "size": 1,
                                     "dataChange": True}}) + "\n")
    with pytest.raises(FileExistsError, match="commit 1 already exists"):
        table._write_commit(1, ["{}"])
    # the winner's commit content is untouched
    assert "f1.parquet" in open(table.log_dir + "/" + "0" * 19 + "1.json").read()


def test_commit_race_between_check_and_write_keeps_winner(table, monkeypatch):
    # the winner lands after any existence check the loser could make:
    # the commit itself must be put-if-absent, not check-then-rename
    final = table.log_dir + "/" + "0" * 19 + "1.json"
    with open(final, "w") as fh:
        fh.write(json.dumps({"add": {"path": "data/f1.parquet", "size": 1,
                                     "dataChange": True}}) + "\n")
    monkeypatch.setattr(os.path, "exists", lambda p: False)
    with pytest.raises(FileExistsError, match="commit 1 already exists"):
        table._write_commit(1, ["{}"])
    monkeypatch.undo()
    assert "f1.parquet" in open(final).read()
    assert sorted(os.listdir(table.log_dir)) == ["0" * 20 + ".json", "0" * 19 + "1.json"]


def test_checkpointed_table_is_loud(table):
    open(table.log_dir + "/_last_checkpoint", "w").write("{}")
    with pytest.raises(NotImplementedError, match="checkpoint"):
        delta.DeltaTable(table.path)


def test_spark_read_time_travel(spark, table):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a", "b"])
    f2 = _write_parquet(table.path + "/data/f2.parquet", ["c"])
    table.commit(adds=[f1])
    table.commit(adds=[f2])
    assert table.read(spark, 1).count() == 2
    assert sorted(r.doc_id for r in table.read(spark).collect()) == \
        ["a", "b", "c"]
    with pytest.raises(ValueError, match="no data files"):
        table.read(spark, 0)


def test_incremental_aggregate_delta_snapshot_keyed(spark, table, tmp_path):
    from presto_bloomfilter_spark import HyperLogLog
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.store import Manifest, SketchStore, incremental_aggregate

    f1 = _write_parquet(table.path + "/data/f1.parquet",
                        [f"a{i}" for i in range(300)])
    f2 = _write_parquet(table.path + "/data/f2.parquet",
                        [f"b{i}" for i in range(200)])
    table.commit(adds=[f1])
    store = SketchStore(str(tmp_path / "store"))
    spec = agg.SketchSpec("doc_id", HyperLogLog)

    sk1, n1 = incremental_aggregate(spark, table.snapshot(1), spec, store, "dj")
    assert n1 == 1
    assert Manifest.load(store, "dj").snapshot == "tbl-1@v1"
    table.commit(adds=[f2])
    sk2, n2 = incremental_aggregate(spark, delta.DeltaTable(table.path), spec, store, "dj")
    assert n2 == 1                                  # only the v2 delta
    assert Manifest.load(store, "dj").snapshot == "tbl-1@v2"
    _, n3 = incremental_aggregate(spark, table, spec, store, "dj")
    assert n3 == 0                                  # idempotent re-run
    full = agg.aggregate_sketch(table.read(spark), spec)
    assert sk2.to_bytes() == full.to_bytes()        # merge associativity
    assert abs(sk2.estimate() - 500) <= 0.03 * 500
    assert abs(sk1.estimate() - 300) <= 0.05 * 300


def test_fused_build_reads_delta_snapshot(spark, table):
    """The fused pyarrow scan takes a Delta snapshot as its source: a
    time-travelled version builds the same bytes as the DataFrame build
    over that version's read."""
    from presto_bloomfilter_spark import HyperLogLog
    from presto_bloomfilter_spark.operators import aggregate as agg

    f1 = _write_parquet(table.path + "/data/f1.parquet", [f"a{i}" for i in range(300)])
    f2 = _write_parquet(table.path + "/data/f2.parquet", [f"b{i}" for i in range(200)])
    f3 = _write_parquet(table.path + "/data/f3.parquet", [f"c{i}" for i in range(100)])
    table.commit(adds=[f1, f2])
    table.commit(adds=[f3])
    for spec in (agg.SketchSpec("doc_id", HyperLogLog), agg.bloom_over_strings("doc_id", 1000)):
        fused = agg.aggregate_sketch_from_parquet(spark, table.snapshot(1), spec)
        assert fused.to_bytes() == agg.aggregate_sketch(table.read(spark, 1), spec).to_bytes()
        latest = agg.aggregate_sketch_from_parquet(spark, table, spec)
        assert latest.to_bytes() == agg.aggregate_sketch(table.read(spark), spec).to_bytes()


def _race_commits(path, worker, rounds, barrier, out):
    """One racing writer: each round, wait for the other writer, then
    try to commit the next version with this writer's own data file."""
    t = delta.DeltaTable(path)
    for r in range(rounds):
        f = f"{path}/data/w{worker}-r{r}.parquet"
        barrier.wait()
        try:
            out.put((worker, f, t.commit(adds=[f])))
        except FileExistsError:
            out.put((worker, f, None))


def test_commit_race_between_processes(table):
    """Two processes commit the same next version over and over: each
    version has exactly one commit (a winner's), every attempt either
    wins or raises FileExistsError, and the replayed snapshot has no
    gap and holds exactly the winners' files."""
    workers, rounds = 2, 12
    for w in range(workers):
        for r in range(rounds):
            _write_parquet(f"{table.path}/data/w{w}-r{r}.parquet", [f"{w}-{r}"])
    ctx = multiprocessing.get_context("spawn")
    barrier, out = ctx.Barrier(workers), ctx.Queue()
    procs = [ctx.Process(target=_race_commits, args=(table.path, w, rounds, barrier, out))
             for w in range(workers)]
    for p in procs:
        p.start()
    results = [out.get(timeout=120) for _ in range(workers * rounds)]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    wins = {v: f for _, f, v in results if v is not None}
    losses = [f for _, f, v in results if v is None]
    assert len(wins) + len(losses) == workers * rounds
    assert len(wins) == len([v for _, _, v in results if v is not None])  # no version won twice
    assert table.versions() == list(range(len(wins) + 1))
    for v, f in wins.items():
        with open(table.log_dir + f"/{v:020d}.json") as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        assert [a["add"]["path"] for a in actions] == [os.path.relpath(f, table.path)]
    snap = table.snapshot()
    assert snap.version == len(wins)
    assert snap.files == tuple(sorted(wins.values()))
