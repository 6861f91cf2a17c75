"""Sketch-library benchmark: three workloads, end-to-end metrics with
tracing off, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload fused_build --seed 1 --seconds 16 --trace 0

Run it from the repository root.  The command prepares the seeded inputs
(cached per seed under ``perfbench/_cache/``), then starts one worker
process and samples the memory of its process tree.  The worker times
its own set-up — from process start to a ready SparkSession plus one
completed op — runs checked ops for a short warm-up, and then runs the
workload's op in a closed loop for ``--seconds``.  Every op's outputs
are checked against exact oracles.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the exit code is 0 only when
every op passed its checks.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

DEFAULT_DOCS = 40_000
TIME_LIMIT_S = 170  # the whole command
WARMUP_OPS = 1  # untimed, checked ops between set-up and the timed window
MAX_OP_FAILURES = 3

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "items_per_s": "1/s",
    "result_bytes": "bytes",
    "peak_rss_mb": "MB",
}
SELF_LAYERS = ("operators.aggregate", "operators.probe", "compat", "store",
               "functions.serialization")
TRACE_METRICS = {"trace.op_s": "s", "trace.untraced_op_s": "s", "trace.overhead_s": "s",
                 "trace.unattributed_s": "s"}


def per_layer_units() -> dict:
    from ops import LAYER_METRICS

    return {**LAYER_METRICS, **{f"self.{l}_s": "s" for l in SELF_LAYERS}, **TRACE_METRICS}


# ---- worker ---------------------------------------------------------------------


def start_session(work_dir: str):
    from pyspark.sql import SparkSession

    n = len(os.sched_getaffinity(0))
    spark = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _job_counts(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = tracker.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def _traced_layers(wl, rec, op_id: int, out: dict, accuracy: dict) -> dict:
    """Per-layer metrics of one traced op: spans, library counters, and
    the in-process replay of the executor-side layers."""
    steps = rec.steps
    layers = wl.replay(out)
    layers.update(accuracy)
    if wl.build_metrics is not None:
        bm = wl.build_metrics.as_dict()
        layers.update({"aggregate.rows": bm["rows"], "aggregate.batches": bm["batches"],
                       "aggregate.partials": bm["partial_sketches"],
                       "aggregate.merges": bm["merges"]})
    layers.update(wl.step_layers(steps, out))
    selfs = rec.self_times(op_id)
    for layer in SELF_LAYERS:
        layers[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    layers["trace.unattributed_s"] = selfs.get("op", 0.0)
    return layers


def worker(args) -> None:
    import inputs
    from ops import WORKLOADS
    from presto_bloomfilter_spark.operators.aggregate import BuildMetrics
    from presto_bloomfilter_spark.operators.probe import ProbeMetrics
    from tracing import Recorder

    oracle = inputs.prepare(ROOT, args.seed, args.docs)
    spark = start_session(args.work_dir)
    sc = spark.sparkContext
    rec = Recorder(trace=False)
    wl = WORKLOADS[args.workload](spark, oracle, rec, args.work_dir)
    session_s = time.time() - args.t0
    rec.begin_op(0)
    warm = wl.op()
    setup_s = time.time() - args.t0
    wl.prepare_checks()

    ops, op_id, n_failed, pending = [], 0, 0, warm
    deadline = warm_end = None
    while True:
        if deadline is None and op_id > WARMUP_OPS:
            warm_end = time.time()
            deadline = time.perf_counter() + args.seconds
        timed = deadline is not None
        traced = bool(args.trace) and timed and op_id % 2 == 0
        record = {"id": op_id, "traced": traced, "errors": []}
        try:
            if pending is None:
                rec.trace = traced
                wl.build_metrics = BuildMetrics(spark) if traced else None
                wl.probe_metrics = ProbeMetrics(spark) if traced else None
                rec.begin_op(op_id)
                sc.setJobGroup(f"op{op_id}", f"{args.workload} op {op_id}")
                t0 = time.perf_counter()
                with rec.step("op", "op"):
                    out = wl.op()
                if timed:
                    record["wall"] = time.perf_counter() - t0
                    record["steps"] = dict(rec.steps)
            else:
                out, pending = pending, None
            errors, accuracy = wl.check(out)
            record["errors"] = errors
            record["result_bytes"] = sum(len(b) for b in wl.result_blobs(out).values())
            if traced and not errors:
                jobs, tasks = _job_counts(sc, f"op{op_id}")
                record["layers"] = {**_traced_layers(wl, rec, op_id, out, accuracy),
                                    "spark.jobs": jobs, "spark.tasks": tasks}
        except Exception:  # an op that raises is a failed op, not a crashed run
            record["errors"].append(traceback.format_exc())
        finally:
            rec.trace = False
        n_failed += bool(record["errors"])
        for e in record["errors"]:
            print(f"[perfbench] op {op_id} FAILED: {e}", file=sys.stderr)
        ops.append(record)
        op_id += 1
        done = timed and time.perf_counter() >= deadline
        if args.trace:  # at least one untraced and one traced op
            done = done and any(r["traced"] for r in ops) and \
                any(not r["traced"] and "wall" in r for r in ops)
        elif done:
            done = any("wall" in r for r in ops)
        if done or n_failed >= MAX_OP_FAILURES:
            break
    spark.stop()
    result = {"setup_s": setup_s, "session_s": session_s, "warm_end": warm_end,
              "items": wl.items(), "ops": ops, "spans": rec.spans}
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, args.out)


# ---- parent ---------------------------------------------------------------------


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class TreeWatcher(threading.Thread):
    """Samples the summed RSS of a process tree (the worker's python, its
    JVM and the JVM's python workers) and remembers every pid it saw."""

    def __init__(self, pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.samples: list[tuple[float, int]] = []  # (time.time(), summed RSS bytes)
        self.seen: set[int] = set()
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.is_set():
            pids = _tree_pids(self.pid)
            self.seen.update(pids)
            self.samples.append((time.time(), sum(_rss_bytes(p) for p in pids)))
            self.stop_event.wait(self.interval)

    def peak(self, until: float) -> int:
        return max((rss for t, rss in self.samples if t <= until), default=0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids, timeout: float = 10.0) -> None:
    """Kill any process of a finished worker's tree that outlived it and
    wait until each is gone."""
    alive = [p for p in pids if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + timeout
    while alive and time.monotonic() < end:
        time.sleep(0.05)
        alive = [p for p in alive if _alive(p)]


def run_worker(args, deadline: float, work_dir: str) -> tuple[dict, int]:
    """Run the worker process; return its result and the peak RSS of its
    tree over set-up and warm-up.  That is a fixed amount of work, so the
    peak does not grow with the number of ops a faster run fits into
    the timed window (the JVM heap keeps growing until a collection)."""
    out = os.path.join(work_dir, "worker.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        # every JVM of the tree (spark-submit's launcher and Spark's own)
        # keeps its temp files in the checkout and writes no hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.abspath(__file__), "--worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--docs", str(args.docs), "--work-dir", work_dir, "--out", out]
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], env=env, stdout=sys.stderr, cwd=ROOT)
    watcher = TreeWatcher(proc.pid)
    watcher.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
        print("[perfbench] the worker exceeded the time limit", file=sys.stderr)
    finally:
        watcher.stop_event.set()
        watcher.join()
        _reap(watcher.seen - {os.getpid()})
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"the worker exited with code {code}")
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    return result, watcher.peak(result["warm_end"] or time.time())


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(args, result: dict, peak_rss: int) -> dict:
    ops = result["ops"]
    failed = sum(bool(op["errors"]) for op in ops)
    timed = [op for op in ops if "wall" in op and not op["errors"]]
    untraced = [op for op in timed if not op["traced"]]
    if args.trace:
        traced = [op for op in timed if op["traced"]]
        units = per_layer_units()
        metrics = {k: _median([op["layers"][k] for op in traced]) for k in units
                   if not k.startswith("trace.")}
        metrics["trace.op_s"] = _median([op["wall"] for op in traced])
        metrics["trace.untraced_op_s"] = _median([op["wall"] for op in untraced])
        metrics["trace.overhead_s"] = metrics["trace.op_s"] - metrics["trace.untraced_op_s"]
        metrics["trace.unattributed_s"] = _median(
            [op["layers"]["trace.unattributed_s"] for op in traced])
    else:
        units = END_TO_END
        op_s = _median([op["wall"] for op in untraced])
        metrics = {
            "setup_s": result["setup_s"],
            "op_s_p50": op_s,
            "items_per_s": result["items"] / op_s if op_s else 0.0,
            "result_bytes": _median([op["result_bytes"] for op in ops if "result_bytes" in op]),
            "peak_rss_mb": peak_rss / 2**20,
        }
    return {
        "correct": failed == 0 and bool(untraced),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("fused_build", "keyed_build", "probe"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=DEFAULT_DOCS, help="corpus size in documents")
    p.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--work-dir", help=argparse.SUPPRESS)
    p.add_argument("--out", help=argparse.SUPPRESS)
    p.add_argument("--t0", type=float, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.worker:
        worker(args)
        return 0

    deadline = time.monotonic() + TIME_LIMIT_S
    try:
        import presto_bloomfilter_spark  # noqa: F401
        import inputs
    except ImportError as e:
        print(f"[perfbench] cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    oracle = inputs.prepare(ROOT, args.seed, args.docs)
    work_dir = os.path.join(HERE, "_cache", "run")
    shutil.rmtree(work_dir, ignore_errors=True)  # the previous run's scratch
    for sub in ("spark-local", "tmp", "store"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    try:
        result, peak_rss = run_worker(args, deadline, work_dir)
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    if args.trace:
        trace_path = os.path.join(HERE, "_cache", "traces",
                                  f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump(result["spans"], f)
    summary = summarize(args, result, peak_rss)
    info = {"workload": args.workload, "seed": args.seed, "docs": oracle["n_docs"],
            "tokens": oracle["n_tokens"], "row_groups": oracle["n_row_groups"],
            "op_walls_s": [round(op["wall"], 3) for op in result["ops"] if "wall" in op],
            "step_p50_s": {k: round(_median([op["steps"][k] for op in result["ops"]
                                              if "steps" in op]), 4)
                           for k in next((op["steps"] for op in result["ops"] if "steps" in op), {})},
            "session_ready_s": round(result["session_s"], 3)}
    print(json.dumps({"info": info}))
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
