"""Bloom filter core: numpy bitset, Kirsch-Mitzenmacher double hashing.

Behavioral parity with the reference's filter (reference
src/main/java/com/facebook/presto/bloomfilter/BloomFilter.java):

- sizing ``m = ceil(-n * ln p / (ln 2)^2)``, ``k = round(m/n * ln 2)``
  (BloomFilter.java:67,400-407) — reproduces the pinned size goldens
  (TestBloomFilter.java:80-94: 11,981,323 / 120 / 180 bytes);
- defaults n=10,000,000, p=0.01 (BloomFilter.java:64-65);
- element domain is bytes/strings; null and zero-length elements are
  silently ignored (BloomFilter.java:161-167);
- merge = bitset OR, defined only for identical geometry
  (BloomFilter.java:175-182); commutative, associative, idempotent;
- no false negatives; FPR <= p at <= n insertions.

Deliberate departures (documented, SURVEY.md §4): no two-stage
pre-filter (a CPU trick for per-row Java; our vectorized probe is
already cheap — ``operators.probe.ProbeMetrics`` keeps the reference's
``preMiss``-style probe/miss counters instead), and a clean versioned
serialization instead of gzip+Java object streams.

All update/probe paths are vectorized numpy over whole Arrow/pandas
batches — no per-row Python.
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.hashing import (
    Inserts,
    Membership,
    double_hash,
    km_indexes,
)

_U64 = np.uint64
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint32)

# Hot paths work in fixed-size chunks and reuse per-process scratch
# buffers: long-lived Spark python workers then touch no new pages after
# the first batch (first-touch page faults are the dominant cost on
# memory-ballooned hosts, and fixed sizes let the allocator recycle).
_CHUNK = 1 << 18
_DENSE_SCRATCH: dict[int, np.ndarray] = {}


def _dense_buffer(n_bits: int) -> np.ndarray:
    buf = _DENSE_SCRATCH.get(n_bits)
    if buf is None:
        buf = np.zeros(n_bits, dtype=bool)
        _DENSE_SCRATCH[n_bits] = buf
    else:
        buf[:] = False
    return buf


class BloomFilter(Inserts, Membership, ser.Sketch, kind=ser.KIND_BLOOM):
    DEFAULT_EXPECTED_INSERTIONS = 10_000_000
    DEFAULT_FPP = 0.01

    def __init__(
        self,
        expected_insertions: int = DEFAULT_EXPECTED_INSERTIONS,
        fpp: float = DEFAULT_FPP,
        _words: np.ndarray | None = None,
    ):
        if expected_insertions <= 0:
            raise ValueError("expected_insertions must be positive")
        if not (0.0 < fpp < 1.0):
            raise ValueError("fpp must be in (0, 1)")
        self.expected_insertions = int(expected_insertions)
        self.fpp = float(fpp)
        # reference sizing formula, BloomFilter.java:67,400-407
        self.m_bits = int(
            math.ceil(-expected_insertions * math.log(fpp) / (math.log(2) ** 2))
        )
        self.k = max(1, round(self.m_bits / expected_insertions * math.log(2)))
        n_words = (self.m_bits + 63) // 64
        if _words is not None:
            if len(_words) != n_words:
                raise ValueError("payload does not match geometry")
            self.words = _words
        else:
            self.words = np.zeros(n_words, dtype=np.uint64)
        self.approx_items = 0  # rows offered (post null/empty filtering)

    # ---- geometry / metrics -------------------------------------------------

    @property
    def size_bytes(self) -> int:
        """Bitset memory, matching the reference's estimatedInMemorySize
        goldens (TestBloomFilter.java:85: 11,981,323 @ defaults)."""
        return (self.m_bits + 7) // 8

    @property
    def bits_set(self) -> int:
        # numpy<2 has no bitwise_count; popcount via uint8 view + table
        return int(_POPCOUNT8[self.words.view(np.uint8)].sum())

    @property
    def fill_ratio(self) -> float:
        return self.bits_set / self.m_bits

    def estimated_fpr(self) -> float:
        """Current FPR estimate from the fill ratio: (bits_set/m)^k."""
        return float(self.fill_ratio**self.k)

    def estimate(self) -> float:
        """Approximate distinct insertions from fill ratio
        (-m/k * ln(1 - X/m)); gives all sketches a common estimate()."""
        x = self.fill_ratio
        if x >= 1.0:
            return float("inf")
        return -self.m_bits / self.k * math.log(1.0 - x)

    # ---- updates ------------------------------------------------------------

    def _add(self, h: np.ndarray) -> None:
        """Set k bits per element.

        Large batches take the dense path: scatter into a bool bitmap and
        OR the packed words in — ~25x faster than the unbuffered
        ``np.bitwise_or.at`` (measured 0.36s vs 8.7s for 1.5M tokens at
        default geometry), because fancy boolean assignment is buffered
        and ``packbits`` is a single C pass. Small batches keep the
        sparse path to avoid allocating/zeroing the m-bit bitmap.
        """
        n = len(h)
        if n == 0:
            return
        if n * self.k >= 1 << 17:
            n_bits = len(self.words) * 64
            dense = _dense_buffer(n_bits)
            h1, h2 = double_hash(h)
            acc = h1.copy()
            mm = _U64(self.m_bits)
            with np.errstate(over="ignore"):
                for i in range(self.k):
                    if i:
                        acc += h2
                    # fixed-size chunks keep temp allocations recyclable
                    for s in range(0, n, _CHUNK):
                        dense[(acc[s:s + _CHUNK] % mm).astype(np.int64)] = True
            self.words |= np.packbits(dense, bitorder="little").view(_U64)
        else:
            idx = km_indexes(h, self.k, self.m_bits).ravel()
            np.bitwise_or.at(self.words, (idx >> _U64(6)).astype(np.int64), _U64(1) << (idx & _U64(63)))
        self.approx_items += n

    # ---- probes -------------------------------------------------------------

    def _probe(self, h: np.ndarray) -> np.ndarray:
        out = np.empty(len(h), dtype=bool)
        # fixed-size chunks: bounded, recyclable temporaries per batch
        for s in range(0, len(h), _CHUNK):
            idx = km_indexes(h[s:s + _CHUNK], self.k, self.m_bits)
            w = self.words[(idx >> _U64(6)).astype(np.int64)]
            hit = (w >> (idx & _U64(63))) & _U64(1)
            out[s:s + _CHUNK] = hit.all(axis=0)
        return out

    # ---- merge --------------------------------------------------------------

    def _geometry(self) -> tuple:
        # unlike the reference (which would silently union mismatched
        # bitsets via library internals), a geometry mismatch raises
        return (self.m_bits, self.k)

    def _merge(self, other: "BloomFilter") -> "BloomFilter":
        """In-place bitset union (reference putAll, BloomFilter.java:175-182)."""
        np.bitwise_or(self.words, other.words, out=self.words)
        self.approx_items += other.approx_items
        return self

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        params = {"n": self.expected_insertions, "p": self.fpp, "items": self.approx_items}
        return params, self.words.tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "BloomFilter":
        bf = cls(params["n"], params["p"], _words=np.frombuffer(payload, np.uint64).copy())
        bf.approx_items = int(params.get("items", 0))
        return bf

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, BloomFilter)
            and self.m_bits == other.m_bits
            and self.k == other.k
            and bool(np.array_equal(self.words, other.words))
        )

    def __repr__(self) -> str:
        return (
            f"BloomFilter(n={self.expected_insertions}, p={self.fpp}, "
            f"m={self.m_bits}, k={self.k}, fill={self.fill_ratio:.4f})"
        )
