"""SQL-text probe cost against ``filter_by_sketch`` over the same rows.

Builds a bloom of ``--n`` expected insertions filled to capacity (so
no codec can shrink its bitset), then times, alternating, the SQL probe
``bloom_filter_contains((SELECT bf FROM bf), k)`` over ``--rows`` string
keys and ``filter_by_sketch`` over the same keys, and prints min /
median of each.

``--shape view`` (default) publishes the bloom with
``compat.publish_sketch_view`` before each SQL run (the publish is
timed with it).  ``--shape cross`` is the inline-aggregate shape: the
bloom is built by ``bloom_filter_sized`` in a CTE over ``--n`` build
keys and CROSS JOINed to the probe rows, so its full blob is every
row's argument; the aggregate alone is timed too.

Usage: python tools/sql_probe_cost.py --n 10000000 --rows 10000 --reps 5
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _min_median(ts: list[float]) -> str:
    return f"{min(ts):.3f}/{statistics.median(ts):.3f} s"


def main() -> int:
    import numpy as np
    from pyspark.sql import SparkSession, functions as F

    from presto_bloomfilter_spark import compat
    from presto_bloomfilter_spark.functions.bloom import BloomFilter
    from presto_bloomfilter_spark.operators import probe

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--n", type=int, default=10_000_000, help="bloom expected insertions")
    p.add_argument("--rows", type=int, default=10_000, help="probe rows")
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--shape", choices=("view", "cross"), default="view")
    p.add_argument("--cpus", type=int, default=4)
    a = p.parse_args()

    spark = (SparkSession.builder.master(f"local[{a.cpus}]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "4g").getOrCreate())
    compat.register_sql_functions(spark)

    def strings(prefix, df):
        return df.select(F.concat(F.lit(prefix), F.col("id").cast("string")).alias(prefix))

    keys = strings("k", spark.range(a.rows))
    keys.createOrReplaceTempView("pk")
    bf = BloomFilter(a.n, 0.01).add_ints(np.arange(a.n, dtype=np.int64))
    bf.add_strings([f"k{i}" for i in range(0, a.rows, 3)])
    print(f"blob {len(bf.to_bytes())} bytes, {a.rows} probe rows, shape {a.shape}", flush=True)

    if a.shape == "cross":
        strings("b", spark.range(a.n)).union(strings("k", spark.range(0, a.rows, 3))) \
            .createOrReplaceTempView("build")
        cte = f"WITH bf AS (SELECT bloom_filter_sized(b, {a.n}, 0.01) AS bf FROM build) "
        sql = cte + "SELECT count(*) AS c FROM pk CROSS JOIN bf WHERE bloom_filter_contains(bf.bf, k)"
        build = []
        for _ in range(a.reps):
            t = time.perf_counter()
            spark.sql(cte + "SELECT length(bf) AS c FROM bf").collect()
            build.append(time.perf_counter() - t)
        print(f"inline aggregate alone: min/median {_min_median(build)}", flush=True)
    else:
        sql = "SELECT count(*) AS c FROM pk WHERE bloom_filter_contains((SELECT bf FROM bf), k)"

    t_sql, t_py = [], []
    for i in range(a.reps):
        t = time.perf_counter()
        if a.shape == "view":
            compat.publish_sketch_view(spark, bf, "bf")
        n_sql = spark.sql(sql).collect()[0].c
        t_sql.append(time.perf_counter() - t)
        t = time.perf_counter()
        n_py = probe.filter_by_sketch(spark, keys, "k", bf).count()
        t_py.append(time.perf_counter() - t)
        print(f"rep {i}: SQL {t_sql[-1]:.3f} s ({n_sql} rows), "
              f"filter_by_sketch {t_py[-1]:.3f} s ({n_py} rows)", flush=True)
    print(f"SQL min/median {_min_median(t_sql)}; filter_by_sketch min/median {_min_median(t_py)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
