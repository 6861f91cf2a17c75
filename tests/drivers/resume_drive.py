"""Cross-parallelism resume: a resumable build checkpointed at local[2]
and brought up to date at local[4] after its source grew must equal a
fresh local[4] build — the CMS total weight is exactly the row count,
and the HLL and bloom bytes are identical.

Usage: resume_drive.py <repo> <sf_dir>
"""
import os
import sys
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

sys.path.insert(0, sys.argv[1])

from presto_bloomfilter_spark import CountMinSketch, HyperLogLog
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet
from presto_bloomfilter_spark.store import Manifest, SketchStore, incremental_aggregate


def session(cores: int) -> SparkSession:
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.sparkContext.defaultParallelism == cores
    return spark


# snapshot A = files 0-1, snapshot A+B = files 0-3; several row groups
# per file, so tasks at either parallelism fold multi-shard groups
root = tempfile.mkdtemp(prefix="pbs_resume_")
tbl = pq.read_table(ensure_tokens_parquet(sys.argv[2]), columns=["doc_id", "n_tok"])
n_rows = tbl.num_rows
os.makedirs(root + "/src")
files = []
for i in range(4):
    lo, hi = i * n_rows // 4, (i + 1) * n_rows // 4
    path = f"{root}/src/part-{i}.parquet"
    pq.write_table(tbl.slice(lo, hi - lo), path, row_group_size=max(1, n_rows // 20))
    files.append(path)
assert all(pq.read_metadata(f).num_row_groups > 1 for f in files)

specs = {
    "cms": agg.SketchSpec("n_tok", lambda: CountMinSketch(1e-3)),
    "hll": agg.SketchSpec("doc_id", HyperLogLog),
    "bloom": agg.bloom_over_strings("doc_id", n_rows, 0.01),
}
resumed = SketchStore(root + "/resumed")
fresh = SketchStore(root + "/fresh")

spark = session(2)
for name, spec in specs.items():
    _, built = incremental_aggregate(spark, files[:2], spec, resumed, name)
    assert built == 2, (name, built)
spark.stop()

spark = session(4)
for name, spec in specs.items():
    sk, built = incremental_aggregate(spark, files, spec, resumed, name)
    assert built == 2, (name, built)  # only snapshot B's files
    ref, built_ref = incremental_aggregate(spark, files, spec, fresh, name)
    assert built_ref == 4, (name, built_ref)
    rows = sum(p["rows"] for p in Manifest.load(resumed, name).parts.values())
    assert rows == n_rows, (name, rows, n_rows)
    if name == "cms":
        assert sk.total == ref.total == n_rows, (sk.total, ref.total, n_rows)
    else:
        assert sk.to_bytes() == ref.to_bytes(), f"{name}: resumed != fresh"
spark.stop()
print("RESUME_ACROSS_PARALLELISM_OK")
