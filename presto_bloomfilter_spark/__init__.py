"""presto_bloomfilter_spark — a PySpark-native distributed sketch library.

A from-scratch rebuild of the capabilities of RobinUS2/presto-bloomfilter
(reference at /root/reference, a Presto plugin: BloomFilter SQL type +
aggregation/scalar functions + HTTP persistence) as an idiomatic PySpark
library:

- pure-numpy, vectorized sketch cores with one mergeable algebra
  (``new / update_batch / merge / estimate / to_bytes / from_bytes``):
  Bloom (reference parity, plus hash-sharded families for key spaces
  beyond one filter and a split-block/Parquet-style blocked sibling
  with one-cache-line probes), HyperLogLog (with union/intersection/Jaccard
  estimates), Count-Min, KLL and t-digest quantiles, and theta/KMV
  (accurate distinct set operations);
- a thin Spark dataflow layer that runs those cores inside
  ``mapInArrow`` / ``applyInPandas`` with explicit two-level tree merges,
  salting for skewed group keys, and broadcast probe UDFs;
- a filesystem sketch store replacing the reference's Go persistence
  service (reference: persist-service/server.go:30-57);
- training-data pipeline operators (dedup, similarity search, text
  analysis, multimodal plumbing) built on the same primitives.

No JVM code, no custom Catalyst rules, no per-row Python in hot paths.
"""

from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.sbbf import SplitBlockBloomFilter
from presto_bloomfilter_spark.functions.cbf import CountingBloomFilter
from presto_bloomfilter_spark.functions.xorf import XorFilter
from presto_bloomfilter_spark.functions.hll import HyperLogLog
from presto_bloomfilter_spark.functions.cms import CountMinSketch
from presto_bloomfilter_spark.functions.kll import KLLSketch
from presto_bloomfilter_spark.functions.tdigest import TDigest
from presto_bloomfilter_spark.functions.theta import ThetaSketch
from presto_bloomfilter_spark.functions.moments import MomentsSketch
from presto_bloomfilter_spark.functions.mg import MisraGries
from presto_bloomfilter_spark.functions.ddsketch import DDSketch
from presto_bloomfilter_spark.functions.countsketch import CountSketch
from presto_bloomfilter_spark.functions.fd import FrequentDirections, ExactGram
from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
from presto_bloomfilter_spark import compat
from presto_bloomfilter_spark import _zipimport

__all__ = [
    "BloomFilter",
    "SplitBlockBloomFilter",
    "CountingBloomFilter",
    "XorFilter",
    "HyperLogLog",
    "CountMinSketch",
    "KLLSketch",
    "TDigest",
    "ThetaSketch",
    "MomentsSketch",
    "MisraGries",
    "DDSketch",
    "CountSketch",
    "FrequentDirections",
    "ExactGram",
    "sketch_from_bytes",
    "compat",
]

__version__ = "0.1.0"

_zipimport.install()  # in a Spark worker, tasks stop re-reading pyspark.zip
