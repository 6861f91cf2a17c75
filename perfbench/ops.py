"""The three workloads: one op each, the op's output checks, and the
in-process replay of the executor-side layers for the traced run.

Every op is a sequence of calls into the library's public API, each
wrapped in ``Recorder.step(name, layer)``.  ``check`` compares the op's
outputs with oracles computed once per seed; it returns the failures
and the sketch accuracy it measured.  ``replay`` (traced run only) re-runs
the op's executor-side work in this process on the same shards with the
same public functions, the way ``bench.py:host_kernel_probe`` does, and
times each layer separately.
"""

from __future__ import annotations

import math
import os
import time
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from presto_bloomfilter_spark import compat
from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.cms import CountMinSketch
from presto_bloomfilter_spark.functions.hll import HyperLogLog
from presto_bloomfilter_spark.functions.multi import MultiSketch
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators import probe
from presto_bloomfilter_spark.sources.corpus import VOCAB_SIZE

import inputs

FUSED_BLOOM_N = 1_000_000
N_BUCKETS = 256
HLL_SIGMAS = 5.0  # an HLL estimate further off than this many standard errors fails
KLL_SIGMAS = 3.0
FPR_LIMIT = 2.0  # measured FPR may reach this multiple of the configured p
ABSENT_PROBES = 200_000
CMS_SAMPLE = 2000

# every per-layer metric the traced run prints; a workload reports 0 for
# a layer it does not use
LAYER_METRICS = {
    "sources.scan_s": "s", "sources.scan_bytes": "bytes", "sources.transport_s": "s",
    "aggregate.update_s": "s", "aggregate.flush_s": "s",
    "aggregate.rows": "count", "aggregate.batches": "count",
    "aggregate.partials": "count", "aggregate.merges": "count",
    "aggregate.tree_merge_s": "s", "aggregate.grouped_merge_s": "s",
    "aggregate.grouped_blobs": "count",
    "functions.bloom.add_s": "s", "functions.cms.add_s": "s", "functions.hll.add_s": "s",
    "functions.serialization.encode_s": "s", "functions.serialization.decode_s": "s",
    "functions.serialization.bytes": "bytes", "functions.serialization.zlib_s": "s",
    "functions.serialization.zlib_kept_ratio": "ratio", "functions.merge_s": "s",
    "functions.hll.rel_err": "ratio", "functions.bloom.fpr": "ratio",
    "functions.cms.err_ratio": "ratio",
    "probe.broadcast_s": "s", "probe.deserialize_s": "s", "probe.kernel_s": "s",
    "probe.udf_transport_s": "s", "probe.probe_count": "count", "probe.miss_rate": "ratio",
    "probe.semijoin_s": "s", "probe.filter_rows_per_s": "1/s",
    "compat.sql_probe_s": "s", "compat.sql_rows": "count", "compat.sql_blob_bytes": "bytes",
    "compat.sql_rows_per_s": "1/s",
    "store.put_s": "s", "store.get_s": "s", "store.bytes": "bytes",
    "spark.jobs": "count", "spark.tasks": "count",
}


def _hll_sigma_errors(estimates: dict, exact: dict, label: str) -> tuple[list[str], list[float]]:
    errors, rel = [], []
    bound = HLL_SIGMAS * HyperLogLog().relative_error
    for k, true in exact.items():
        est = estimates.get(k)
        if est is None:
            errors.append(f"{label} {k}: no sketch in the result")
            continue
        r = abs(est - true) / true
        rel.append(r)
        if r > bound:
            errors.append(f"{label} {k}: HLL estimate {est:.0f} vs exact {true} ({r:.4f} > {bound:.4f})")
    if len(estimates) != len(exact):
        errors.append(f"{label}: {len(estimates)} result keys, expected {len(exact)}")
    return errors, rel


def _dedup_stream(acc: agg.TokenDedupAccumulator) -> tuple[np.ndarray, np.ndarray]:
    """The (id, count) pairs an accumulator's flush pushes into its sketch."""
    nz = np.flatnonzero(acc.counts)
    return (nz + acc.base).astype(np.int64), acc.counts[nz]


def _rms(xs) -> float:
    return float(math.sqrt(np.mean(np.square(xs)))) if len(xs) else 0.0


class _Replay:
    """Per-layer timers and counters of one in-process replay."""

    def __init__(self):
        self.m = dict.fromkeys(LAYER_METRICS, 0.0)

    def time(self, key: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.m[key] += time.perf_counter() - t0
        return out

    def codec(self, blobs: list[bytes]) -> list:
        """Decode and zlib layers over encoded partials; returns the
        decoded sketches.  The zlib cost is ``encode(compress="auto")``
        minus ``encode(compress="none")`` on the same payload, for every
        blob and, in a multi-sketch, every child blob."""
        sketches = []
        kept = attempts = 0
        for blob in blobs:
            sk = self.time("functions.serialization.decode_s", ser.sketch_from_bytes, blob)
            sketches.append(sk)
            self.m["functions.serialization.bytes"] += len(blob)
            children = [p.to_bytes() for p in sk.parts] if isinstance(sk, MultiSketch) else []
            for b in [blob, *children]:
                kind, params, payload = ser.decode(b)
                t0 = time.perf_counter()
                auto = ser.encode(kind, params, payload, compress="auto")
                t1 = time.perf_counter()
                raw = ser.encode(kind, params, payload, compress="none")
                t2 = time.perf_counter()
                self.m["functions.serialization.zlib_s"] += (t1 - t0) - (t2 - t1)
                attempts += 1
                kept += len(auto) < len(raw)
        self.m["functions.serialization.zlib_kept_ratio"] = kept / attempts if attempts else 0.0
        return sketches

    def merge(self, sketches: list):
        return self.time("functions.merge_s", reduce, lambda a, b: a.merge(b), sketches)


class Workload:
    name = ""

    def __init__(self, spark, oracle: dict, rec, work_dir: str):
        self.spark = spark
        self.oracle = oracle
        self.rec = rec
        self.store_dir = os.path.join(work_dir, "store")
        self.build_metrics = None  # agg.BuildMetrics on traced ops
        self.probe_metrics = None  # probe.ProbeMetrics on traced ops
        self.n_tasks = spark.sparkContext.defaultParallelism

    def prepare_checks(self) -> None:
        """Oracles that need the session; runs after setup is timed."""

    def items(self) -> int:
        raise NotImplementedError

    def op(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> tuple[list[str], dict]:
        raise NotImplementedError

    def replay(self, out: dict) -> dict:
        raise NotImplementedError

    def step_layers(self, steps: dict, out: dict) -> dict:
        """Per-layer metrics read off one traced op's step times."""
        return {"store.put_s": steps["persist"], "store.get_s": steps["load"],
                "store.bytes": sum(len(b) for b in self.result_blobs(out).values())}

    def persist_load(self, results: dict) -> dict:
        """Persist every result sketch through the reference-parity
        ``bloom_filter_persist`` and load it back with
        ``bloom_filter_load`` (the ``store`` layer)."""
        paths = {k: os.path.join(self.store_dir, f"{self.name}-{k}.sketch") for k in results}
        with self.rec.step("persist", "store"):
            for k, sk in results.items():
                compat.bloom_filter_persist(sk, paths[k])
        with self.rec.step("load", "store"):
            loaded = {k: compat.bloom_filter_load(p) for k, p in paths.items()}
        return {"results": results, "loaded": loaded}

    @staticmethod
    def result_blobs(out: dict) -> dict[str, bytes]:
        return {k: sk if isinstance(sk, bytes) else sk.to_bytes()
                for k, sk in out["results"].items()}

    def persist_errors(self, out: dict) -> list[str]:
        return [f"persist/load round trip changed sketch {k}"
                for k, blob in self.result_blobs(out).items()
                if out["loaded"][k].to_bytes() != blob]

    def noop_arrow_pass(self, df) -> None:
        """JVM→Arrow transport alone: a mapInArrow that only counts rows."""
        df.mapInArrow(_count_batches, "n long").agg(F.sum("n")).collect()


def _count_batches(batches):
    for b in batches:
        yield pa.RecordBatch.from_arrays([pa.array([b.num_rows], pa.int64())], ["n"])


# ---- fused_build ---------------------------------------------------------------


class FusedBuild(Workload):
    """Bloom + CMS + HLL over the token corpus in one direct pyarrow scan."""

    name = "fused_build"

    def __init__(self, spark, oracle, rec, work_dir):
        super().__init__(spark, oracle, rec, work_dir)
        self.path = oracle["paths"]["tokens"]
        self.spec = agg.token_family_over_tokens("tokens", bloom_n=FUSED_BLOOM_N)

    def items(self) -> int:
        return self.oracle["n_tokens"]

    def prepare_checks(self) -> None:
        counts = inputs.token_counts(self.oracle)
        present = np.flatnonzero(counts)
        rng = np.random.default_rng([self.oracle["seed"], 2])
        self.present = present
        self.absent = np.arange(VOCAB_SIZE, VOCAB_SIZE + ABSENT_PROBES, dtype=np.int64)
        self.cms_ids = rng.choice(present, size=min(CMS_SAMPLE, present.size), replace=False)
        self.cms_true = counts[self.cms_ids]

    def op(self) -> dict:
        with self.rec.step("build", "operators.aggregate"):
            family = agg.aggregate_sketch_from_parquet(
                self.spark, self.path, self.spec, metrics=self.build_metrics)
        return {"family": family, **self.persist_load({"family": family})}

    def check(self, out):
        o = self.oracle
        errors = self.persist_errors(out)
        bloom, cms, hll = out["family"].parts
        if not bloom.might_contain_ints(self.present).all():
            errors.append("bloom: false negative on an inserted token id")
        fpr = float(bloom.might_contain_ints(self.absent).mean())
        if fpr > FPR_LIMIT * bloom.fpp:
            errors.append(f"bloom: measured FPR {fpr:.5f} > {FPR_LIMIT} x p={bloom.fpp}")
        if cms.total != o["n_tokens"]:
            errors.append(f"cms: total weight {cms.total} != {o['n_tokens']} tokens")
        over = cms.estimate_ints(self.cms_ids) - self.cms_true
        ratio = over / cms.error_bound()
        if (over < 0).any():
            errors.append("cms: an estimate is below the true count")
        # P(over > eps*N) <= delta per id; allow a 4-sigma binomial margin
        n = len(self.cms_ids)
        allowed = cms.delta * n + 4 * math.sqrt(cms.delta * n)
        if (ratio > 1).sum() > allowed:
            errors.append(f"cms: {(ratio > 1).sum()} of {n} ids over eps*N (allowed {allowed:.0f})")
        hll_errors, rel = _hll_sigma_errors({"all": hll.estimate()},
                                            {"all": o["distinct_tokens"]}, "hll")
        errors += hll_errors
        return errors, {"functions.hll.rel_err": rel[0] if rel else 0.0,
                        "functions.bloom.fpr": fpr,
                        "functions.cms.err_ratio": float(ratio.max())}

    def replay(self, out) -> dict:
        r = _Replay()
        pf = pq.ParquetFile(self.path)
        n_rg = pf.metadata.num_row_groups
        n_tasks = max(1, min(self.n_tasks, n_rg))
        blobs = []
        for shard in range(n_tasks):
            sk = self.spec.factory()
            for rg in range(shard, n_rg, n_tasks):
                batches = r.time("sources.scan_s",
                                 lambda g=rg: pf.read_row_group(g, columns=["tokens"]).to_batches())
                r.m["sources.scan_bytes"] += sum(b.nbytes for b in batches)
                for b in batches:
                    r.time("aggregate.update_s", self.spec.update, sk, b)
            ids, counts = _dedup_stream(sk)
            r.time("aggregate.flush_s", sk.flush)
            blobs.append(r.time("functions.serialization.encode_s", sk.to_bytes))
            r.time("functions.bloom.add_s", BloomFilter(FUSED_BLOOM_N).add_ints, ids)
            r.time("functions.cms.add_s", CountMinSketch(1e-4, 0.01).add_ints, ids, counts=counts)
            r.time("functions.hll.add_s", HyperLogLog().add_ints, ids)
        r.merge(r.codec(blobs))
        df = self.spark.createDataFrame([(b,) for b in blobs], "sketch binary")
        r.time("aggregate.tree_merge_s", agg.merge_sketch_column, df)
        return r.m


# ---- keyed_build ----------------------------------------------------------------


class KeyedBuild(Workload):
    """Per-key HLLs and a KLL through the JVM scan and the grouped merge."""

    name = "keyed_build"

    def __init__(self, spark, oracle, rec, work_dir):
        super().__init__(spark, oracle, rec, work_dir)
        self.tokens = spark.read.parquet(oracle["paths"]["tokens"])
        self.bucketed = self.tokens.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id", F.lit(oracle["seed"])), F.lit(N_BUCKETS)))
        self.hll_spec = agg.hll_over_tokens()
        self.kll_spec = agg.kll_over_column("n_tok")

    def items(self) -> int:
        return 2 * self.oracle["n_tokens"] + self.oracle["n_docs"]

    def prepare_checks(self) -> None:
        tbl = pq.read_table(self.oracle["paths"]["tokens"], columns=["doc_id", "tokens", "n_tok"])
        doc_bucket = dict(self.bucketed.select("doc_id", "bucket").collect())
        bucket = np.array([doc_bucket[d] for d in tbl.column("doc_id").to_pylist()], np.int64)
        self.doc_bucket = bucket
        flat = tbl.column("tokens").combine_chunks().flatten().to_numpy().astype(np.int64)
        n_tok = tbl.column("n_tok").to_numpy()
        pairs = np.unique(np.repeat(bucket, n_tok) * VOCAB_SIZE + flat)
        per_bucket = np.bincount(pairs // VOCAB_SIZE, minlength=N_BUCKETS)
        self.bucket_distinct = {str(b): int(c) for b, c in enumerate(per_bucket) if c}
        self.n_tok = np.sort(n_tok)

    def op(self) -> dict:
        with self.rec.step("build", "operators.aggregate"):
            by_bucket = agg.grouped_sketch(self.bucketed, "bucket", self.hll_spec).collect()
        with self.rec.step("build", "operators.aggregate"):
            by_source = agg.grouped_sketch(self.tokens, "source", self.hll_spec).collect()
        with self.rec.step("build", "operators.aggregate"):
            kll = agg.aggregate_sketch(self.tokens, self.kll_spec, metrics=self.build_metrics)
        with self.rec.step("decode", "functions.serialization"):
            buckets = {str(r["bucket"]): ser.sketch_from_bytes(r["sketch"]).estimate() for r in by_bucket}
            sources = {r["source"]: ser.sketch_from_bytes(r["sketch"]).estimate() for r in by_source}
            median = float(kll.quantile(0.5))
        results = {f"bucket{r['bucket']}": bytes(r["sketch"]) for r in by_bucket}
        results.update({f"source-{r['source']}": bytes(r["sketch"]) for r in by_source})
        results["kll"] = kll
        return {"buckets": buckets, "sources": sources, "kll": kll, "median": median,
                **self.persist_load(results)}

    def check(self, out):
        errors = self.persist_errors(out)
        e1, rel_b = _hll_sigma_errors(out["buckets"], self.bucket_distinct, "bucket")
        e2, rel_s = _hll_sigma_errors(out["sources"], self.oracle["distinct_by_source"], "source")
        errors += e1 + e2
        kll = out["kll"]
        if kll.n != self.oracle["n_docs"]:
            errors.append(f"kll: n={kll.n} != {self.oracle['n_docs']} docs")
        lo = np.searchsorted(self.n_tok, out["median"], "left") / self.n_tok.size
        hi = np.searchsorted(self.n_tok, out["median"], "right") / self.n_tok.size
        eps = KLL_SIGMAS * kll.rank_error
        if not lo - eps <= 0.5 <= hi + eps:
            errors.append(f"kll: median {out['median']} has rank [{lo:.4f}, {hi:.4f}], "
                          f"not 0.5 within {eps:.4f}")
        return errors, {"functions.hll.rel_err": _rms(rel_b + rel_s),
                        "functions.bloom.fpr": 0.0, "functions.cms.err_ratio": 0.0}

    def replay(self, out) -> dict:
        r = _Replay()
        r.time("sources.transport_s", self.noop_arrow_pass, self.bucketed.select("bucket", "tokens"))
        r.time("sources.transport_s", self.noop_arrow_pass, self.tokens.select("source", "tokens"))
        r.time("sources.transport_s", self.noop_arrow_pass, self.tokens.select("n_tok"))
        pf = pq.ParquetFile(self.oracle["paths"]["tokens"])
        n_rg = pf.metadata.num_row_groups
        n_tasks = max(1, min(self.n_tasks, n_rg))
        rows_per_rg = pf.metadata.row_group(0).num_rows
        grouped, kll_blobs, streams = [], [], []
        for shard in range(n_tasks):
            per_key = {}
            kll = self.kll_spec.factory()
            for rg in range(shard, n_rg, n_tasks):
                tbl = pf.read_row_group(rg, columns=["source", "tokens", "n_tok"])
                start = rg * rows_per_rg
                tbl = tbl.append_column(
                    "bucket", pa.array(self.doc_bucket[start:start + tbl.num_rows].astype(str)))
                for b in tbl.to_batches():
                    r.time("aggregate.update_s", self.kll_spec.update, kll, b)
                    for key in ("bucket", "source"):
                        r.time("aggregate.update_s", self._update_by_key, per_key, key, b)
            for gk, sk in per_key.items():
                streams.append(_dedup_stream(sk)[0])
                r.time("aggregate.flush_s", sk.flush)
                grouped.append((f"{gk[0]}={gk[1]}", r.time("functions.serialization.encode_s",
                                                         sk.to_bytes)))
            kll_blobs.append(r.time("functions.serialization.encode_s", kll.to_bytes))
        for ids in streams:  # the HLL kernel on each partial's deduped id stream
            r.time("functions.hll.add_s", HyperLogLog().add_ints, ids)
        decoded = r.codec([b for _, b in grouped] + kll_blobs)
        by_key: dict[str, list] = {}
        for (k, _), sk in zip(grouped, decoded):
            by_key.setdefault(k, []).append(sk)
        for sketches in by_key.values():
            r.merge(sketches)
        r.merge(decoded[len(grouped):])
        r.m["aggregate.grouped_blobs"] = len(grouped)
        df = self.spark.createDataFrame(grouped, "key string, sketch binary")
        r.time("aggregate.grouped_merge_s",
               lambda: agg.grouped_merge_sketch_column(df, "key").collect())
        kdf = self.spark.createDataFrame([(b,) for b in kll_blobs], "sketch binary")
        r.time("aggregate.tree_merge_s", agg.merge_sketch_column, kdf)
        return r.m

    def _update_by_key(self, per_key: dict, key: str, batch: pa.RecordBatch) -> None:
        """The Arrow-level per-key split of a map-side grouped build."""
        keys = batch.column(batch.schema.get_field_index(key)).to_numpy(zero_copy_only=False)
        uniq, inv = np.unique(keys, return_inverse=True)
        for i, k in enumerate(uniq):
            sk = per_key.get((key, k))
            if sk is None:
                sk = per_key[(key, k)] = self.hll_spec.factory()
            self.hll_spec.update(sk, batch.filter(pa.array(inv == i)))


# ---- probe ------------------------------------------------------------------------


class Probe(Workload):
    """Bloom build over a key subset, persist/load, then the flagship
    semi-join, a broadcast probe over every doc_id and the same probe as
    SQL text."""

    name = "probe"
    SQL = ("SELECT count(*) AS c FROM docs_slice "
           "WHERE bloom_filter_contains((SELECT bf FROM bf), doc_id)")

    def __init__(self, spark, oracle, rec, work_dir):
        super().__init__(spark, oracle, rec, work_dir)
        P = oracle["paths"]
        self.keys = spark.read.parquet(P["keys"])
        self.sel_keys = self.keys.filter("sel").select("doc_id")
        self.orders_sel = spark.read.parquet(P["orders"]).filter("o_sel")
        self.lineitem = spark.read.parquet(P["lineitem"])
        self.spec = agg.bloom_over_strings("doc_id", oracle["n_sel"], inputs.PROBE_FPP)
        compat.register_sql_functions(spark)
        self.keys.filter("sql_slice").createOrReplaceTempView("docs_slice")
        self._expected: dict[bytes, dict] = {}

    def items(self) -> int:
        o = self.oracle
        return o["n_sel"] + o["n_orders_sel"] + o["n_lineitem"] + o["n_docs"] + o["n_sql_slice"]

    def prepare_checks(self) -> None:
        tbl = pq.read_table(self.oracle["paths"]["keys"])
        self.doc_ids = tbl.column("doc_id").to_pandas()
        self.sel = tbl.column("sel").to_numpy(zero_copy_only=False)
        self.slice = tbl.column("sql_slice").to_numpy(zero_copy_only=False)
        self.absent = self.doc_ids[~self.sel]

    def op(self) -> dict:
        o, spark = self.oracle, self.spark
        with self.rec.step("build", "operators.aggregate"):
            bloom = agg.aggregate_sketch(self.sel_keys, self.spec, metrics=self.build_metrics)
        out = self.persist_load({"bloom": bloom})
        loaded = out["loaded"]["bloom"]
        with self.rec.step("semijoin", "operators.probe"):
            semi = probe.bloom_semi_join(spark, self.lineitem, "l_orderkey", self.orders_sel,
                                         "o_orderkey", expected_insertions=o["n_orders_sel"],
                                         fpp=inputs.PROBE_FPP).count()
        with self.rec.step("filter", "operators.probe"):
            if self.probe_metrics is None:
                hits = probe.filter_by_sketch(spark, self.keys, "doc_id", loaded)
            else:
                pred = probe.contains_udf(spark, loaded, metrics=self.probe_metrics)
                hits = self.keys.filter(pred(F.col("doc_id")))
            row = hits.agg(F.count("*").alias("n"), F.sum(F.col("sel").cast("int")).alias("tp")
                           ).collect()[0]
        with self.rec.step("sql", "compat"):
            compat.publish_sketch_view(spark, loaded, "bf")
            sql = spark.sql(self.SQL).collect()[0]["c"]
        return {**out, "bloom": bloom, "semi": semi, "hits": row["n"], "tp": row["tp"] or 0,
                "sql": sql}

    def step_layers(self, steps: dict, out: dict) -> dict:
        o, pm = self.oracle, self.probe_metrics
        return {**super().step_layers(steps, out),
                "probe.probe_count": pm.probe_count, "probe.miss_rate": pm.miss_rate,
                "probe.semijoin_s": steps["semijoin"],
                "probe.filter_rows_per_s": o["n_docs"] / steps["filter"],
                "compat.sql_probe_s": steps["sql"], "compat.sql_rows": o["n_sql_slice"],
                "compat.sql_rows_per_s": o["n_sql_slice"] / steps["sql"],
                "compat.sql_blob_bytes": len(out["loaded"]["bloom"].to_bytes())}

    def _expect(self, bloom) -> dict:
        """Exact probe results of one bloom, by the same hash functions."""
        key = bloom.sha256
        if key not in self._expected:
            hit = bloom.might_contain_strings(self.doc_ids)
            absent = np.concatenate([
                bloom.might_contain_strings(self.absent),
                bloom.might_contain_strings(
                    [f"absent-{i}" for i in range(ABSENT_PROBES)])])
            self._expected[key] = {"hits": int(hit.sum()), "sql": int(hit[self.slice].sum()),
                                   "fn": int((~hit[self.sel]).sum()),
                                   "fpr": float(absent.mean())}
        return self._expected[key]

    def check(self, out):
        o = self.oracle
        errors = self.persist_errors(out)
        exp = self._expect(out["loaded"]["bloom"])
        if exp["fn"]:
            errors.append(f"bloom: {exp['fn']} false negatives on inserted keys")
        if exp["fpr"] > FPR_LIMIT * inputs.PROBE_FPP:
            errors.append(f"bloom: measured FPR {exp['fpr']:.5f} > {FPR_LIMIT} x p")
        if out["semi"] != o["semi_join_rows"]:
            errors.append(f"semi join: {out['semi']} rows, DuckDB says {o['semi_join_rows']}")
        if out["tp"] != o["n_sel"]:
            errors.append(f"filter_by_sketch: {out['tp']} of {o['n_sel']} inserted keys kept")
        if out["hits"] != exp["hits"]:
            errors.append(f"filter_by_sketch: {out['hits']} rows, bloom says {exp['hits']}")
        if out["sql"] != exp["sql"]:
            errors.append(f"SQL bloom_filter_contains: {out['sql']} rows, bloom says {exp['sql']}")
        return errors, {"functions.hll.rel_err": 0.0, "functions.bloom.fpr": exp["fpr"],
                        "functions.cms.err_ratio": 0.0}

    def replay(self, out) -> dict:
        r = _Replay()
        o, sc = self.oracle, self.spark.sparkContext
        r.time("sources.transport_s", self.noop_arrow_pass, self.sel_keys)
        r.time("sources.transport_s", self.noop_arrow_pass, self.orders_sel.select("o_orderkey"))
        keys_tbl = pq.read_table(o["paths"]["keys"])
        orders = pq.read_table(o["paths"]["orders"]).filter(pc.field("o_sel"))
        lineitem_keys = pq.read_table(o["paths"]["lineitem"], columns=["l_orderkey"]
                                      ).column(0).to_numpy()
        sel_batches = keys_tbl.filter(pc.field("sel")).select(["doc_id"]).to_batches()
        order_batches = orders.select(["o_orderkey"]).to_batches()
        semi_spec = agg.bloom_over_ints("o_orderkey", o["n_orders_sel"], inputs.PROBE_FPP)
        for spec, batches in ((self.spec, sel_batches), (semi_spec, order_batches)):
            parts = []
            for shard in range(self.n_tasks):
                sk = spec.factory()
                for b in batches[shard::self.n_tasks]:
                    r.time("aggregate.update_s", spec.update, sk, b)
                parts.append(r.time("functions.serialization.encode_s", sk.to_bytes))
            r.merge(r.codec(parts))
            df = self.spark.createDataFrame([(b,) for b in parts], "sketch binary")
            r.time("aggregate.tree_merge_s", agg.merge_sketch_column, df)
        ids = keys_tbl.column("doc_id").to_pandas()
        r.time("functions.bloom.add_s", BloomFilter(o["n_sel"], inputs.PROBE_FPP).add_strings,
               ids[keys_tbl.column("sel").to_numpy(zero_copy_only=False)])
        blob = out["loaded"]["bloom"].to_bytes()
        semi_bloom = BloomFilter(o["n_orders_sel"], inputs.PROBE_FPP).add_ints(
            orders.column("o_orderkey").to_numpy())
        for b in (blob, semi_bloom.to_bytes()):
            bv = r.time("probe.broadcast_s", sc.broadcast, b)
            bv.destroy()
        bloom = r.time("probe.deserialize_s", ser.sketch_from_bytes, blob)
        r.time("probe.deserialize_s", ser.sketch_from_bytes, semi_bloom.to_bytes())
        r.time("probe.kernel_s", bloom.might_contain_strings, ids)
        r.time("probe.kernel_s", semi_bloom.might_contain_ints, lineitem_keys)
        r.time("probe.udf_transport_s", self._noop_udf_pass, self.keys, F.col("doc_id"))
        r.time("probe.udf_transport_s", self._noop_udf_pass, self.lineitem,
               F.col("l_orderkey").cast("string"))
        return r.m

    @staticmethod
    def _noop_udf_pass(df, col) -> None:
        """pandas-UDF transport alone: an iterator UDF that keeps every row."""
        df.filter(_keep_all(col)).agg(F.count("*")).collect()


@pandas_udf(BooleanType())
def _keep_all(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in it:
        yield pd.Series(np.ones(len(s), dtype=bool))


WORKLOADS = {w.name: w for w in (FusedBuild, KeyedBuild, Probe)}
