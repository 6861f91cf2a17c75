"""HyperLogLog cardinality sketch (sparse→dense), numpy-vectorized.

Sibling sketch required by the north star (SURVEY.md §2.1 tail): same
mergeable algebra as the reference's BloomFilter aggregation pattern
(reference AbstractBloomFilterAggregation.java:19-60 — input/combine/
output with a serializable state), different payload.

Registers per Flajolet et al. 2007; the estimator is Ertl's improved
raw estimator (arXiv:1702.01284) — τ/σ-corrected harmonic mean with
uniform error across the whole range and no raw/linear-counting
crossover (the classic estimator's +2-3% bias hump at n ≈ 2.5·m showed
up directly in per-source token cardinalities at bench scale).  Default
precision p=14 → 16384 registers, relative standard error
1.04/sqrt(2^p) ≈ 0.81%.  Merge = elementwise register max —
commutative, associative, idempotent, so parallelism-invariant at the
byte level.  Cross-checkable against Spark's ``approx_count_distinct``.

Sparse mode (the memory half of HyperLogLog++, Heule, Nunkesser & Hall,
EDBT 2013): a sketch starts as a sorted array of packed
``(bucket << 7) | rank`` uint32 pairs — 4 bytes per DISTINCT occupied
register — and upgrades to the dense m-byte array only once occupancy
passes m/4 (where the pair array would out-weigh dense).  This is what
makes keyed/grouped sketch tables viable at corpus scale: a million
low-cardinality groups cost ~4 B per distinct element instead of a
16 KB dense block each (p=14: 16 GB of blobs → megabytes).  Deliberate
simplification vs the paper: no raised sparse-phase precision — Ertl's
estimator already handles the small-n range without bias correction,
so sparse here is purely a memory representation with IDENTICAL
estimates.  The representation is content-deterministic (occupancy
only grows under update/merge, and merging with a dense operand yields
dense), so equal content ⇒ equal bytes regardless of partitioning,
merge-tree shape, or task retries — the property every blob-equality
gate in this repo leans on.
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.hashing import Inserts

_U64 = np.uint64


def _sigma(x: float) -> float:
    """Ertl (arXiv:1702.01284) σ: Σ-series for the zero-register term."""
    if x == 1.0:
        return float("inf")
    y, z = 1.0, x
    while True:
        x = x * x
        z_prev = z
        z = z + x * y
        y = 2.0 * y
        if z == z_prev:
            return z


def _tau(x: float) -> float:
    """Ertl τ: series for the saturated-register term."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = math.sqrt(x)
        z_prev = z
        y = 0.5 * y
        z = z - (1.0 - x) * (1.0 - x) * y
        if z == z_prev:
            return z / 3.0


class HyperLogLog(Inserts, ser.Sketch, kind=ser.KIND_HLL):
    DEFAULT_PRECISION = 14

    def __init__(self, precision: int = DEFAULT_PRECISION,
                 _registers: np.ndarray | None = None,
                 _sparse: np.ndarray | None = None):
        if not (4 <= precision <= 18):
            raise ValueError("precision must be in [4, 18]")
        self.precision = int(precision)
        self.m = 1 << precision
        self._dense: np.ndarray | None = None
        self._sparse: np.ndarray | None = None
        if _registers is not None:
            if len(_registers) != self.m:
                raise ValueError("payload does not match precision")
            self._dense = _registers
        elif _sparse is not None:
            if len(_sparse) and int(_sparse.max()) >> 7 >= self.m:
                raise ValueError("sparse payload does not match precision")
            self._sparse = _sparse
        else:
            self._sparse = np.empty(0, dtype=np.uint32)

    @property
    def is_sparse(self) -> bool:
        return self._dense is None

    @property
    def registers(self) -> np.ndarray:
        """Dense register view (materialized on demand when sparse —
        content-level API for estimators, tests, and foreign readers;
        does not change the internal representation)."""
        if self._dense is not None:
            return self._dense
        regs = np.zeros(self.m, dtype=np.uint8)
        sp = self._sparse
        if len(sp):
            regs[(sp >> np.uint32(7)).astype(np.int64)] = (
                sp & np.uint32(0x7F)).astype(np.uint8)
        return regs

    @property
    def size_bytes(self) -> int:
        return self.m if self._dense is not None else 4 * len(self._sparse)

    @property
    def relative_error(self) -> float:
        """Published relative standard error bound."""
        return 1.04 / math.sqrt(self.m)

    # ---- updates ------------------------------------------------------------

    def _bucket_rank(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        p = self.precision
        bucket = (h >> _U64(64 - p)).astype(np.int64)
        rest = (h << _U64(p)) | _U64(1)  # sentinel bit bounds the rank scan
        # rank = number of leading zeros of the remaining bits + 1,
        # vectorized: 64 - bit_length(rest) + 1; bit_length via log2 is
        # unsafe for uint64 → binary-search shift loop, arithmetic form
        # (x >>= big*shift) so every op is a buffered ufunc pass.
        x = rest.copy()
        width = np.zeros(len(h), dtype=np.int64)  # bit_length(x) - 1
        for shift in (32, 16, 8, 4, 2, 1):
            big = (x >= (_U64(1) << _U64(shift))).astype(np.uint64)
            sh = big * _U64(shift)
            x >>= sh
            width += sh.astype(np.int64)
        # the |1 sentinel sits at bit 0, so an all-zero (64-p)-bit
        # remainder scans to rank 64 — clamp to the domain max q+1
        # (probability 2^-(64-p) per element, but an uncapped register
        # would escape estimate()'s saturated bin C[q+1])
        rank = np.minimum(64 - width, np.int64(64 - p + 1))  # in [1, q+1]
        return bucket, rank

    def _maybe_upgrade(self) -> None:
        # 4 B/pair beats 1 B/register only below m/4 occupancy; past it,
        # go dense (occupancy never shrinks, so this is one-way and
        # content-deterministic)
        if self._sparse is not None and len(self._sparse) > (self.m >> 2):
            self._dense = self.registers
            self._sparse = None

    @staticmethod
    def _sparse_max(packed: np.ndarray) -> np.ndarray:
        """Per-bucket max over packed (bucket<<7)|rank pairs: sort, keep
        the last entry of each bucket run (rank lives in the low bits,
        so the max rank sorts last within a bucket)."""
        packed = np.sort(packed)
        if len(packed) == 0:
            return packed
        keep = np.ones(len(packed), dtype=bool)
        keep[:-1] = (packed[:-1] >> np.uint32(7)) != (packed[1:] >> np.uint32(7))
        return packed[keep]

    def _add(self, h: np.ndarray) -> None:
        if len(h) == 0:
            return
        bucket, rank = self._bucket_rank(h)
        if self._dense is not None:
            # per-bucket max without the unbuffered np.maximum.at:
            # histogram (bucket, rank) pairs (rank ≤ 64 < 128), then take
            # the highest occupied rank per bucket — all buffered passes.
            cnt = np.bincount((bucket << 7) | rank, minlength=self.m << 7)
            best = ((cnt.reshape(self.m, 128) > 0) * np.arange(128)).max(axis=1)
            np.maximum(self._dense, best.astype(np.uint8), out=self._dense)
        else:
            packed = ((bucket << 7) | rank).astype(np.uint32)
            self._sparse = self._sparse_max(
                np.concatenate([self._sparse, packed]))
            self._maybe_upgrade()

    # ---- estimate -----------------------------------------------------------

    def estimate(self) -> float:
        """Ertl's improved raw estimator (arXiv:1702.01284, Alg. 6):
        τ/σ-corrected harmonic mean over the register histogram —
        uniform ~1.04/sqrt(m) error with NO raw/linear-counting
        crossover.  The classic Flajolet estimator this replaces has a
        well-known +2-3% bias hump right at n ≈ 2.5 m (the handoff
        from linear counting to the raw estimate), which this
        library's per-source token cardinalities land on at bench
        scale; Ertl derives the correction analytically, so no
        empirical bias tables are needed.  Sparse and dense forms feed
        the identical histogram, so estimates do not depend on the
        representation."""
        m = self.m
        q = 64 - self.precision  # ranks run 1..q+1; C[q+1] = saturated
        if self._dense is not None:
            # clip defensively: a legacy/foreign payload could carry a
            # register above q+1, which bincount would park past the
            # saturated bin and silently exclude from z
            C = np.bincount(np.minimum(self._dense, q + 1), minlength=q + 2)
        else:
            ranks = (self._sparse & np.uint32(0x7F)).astype(np.int64)
            C = np.bincount(np.minimum(ranks, q + 1), minlength=q + 2)
            C[0] = m - len(self._sparse)
        z = m * _tau((m - float(C[q + 1])) / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + float(C[k]))
        z += m * _sigma(float(C[0]) / m)
        if z == float("inf"):
            return 0.0  # empty sketch
        return (m / (2.0 * math.log(2.0))) * m / z

    # ---- merge --------------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.precision,)

    def _merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if self._dense is None and other._dense is None:
            self._sparse = self._sparse_max(
                np.concatenate([self._sparse, other._sparse]))
            self._maybe_upgrade()
            return self
        if self._dense is None:
            # any dense operand ⇒ dense result (keeps the representation
            # a function of the operand set, not the merge order)
            self._dense, self._sparse = self.registers, None
        if other._dense is not None:
            np.maximum(self._dense, other._dense, out=self._dense)
        else:
            sp = other._sparse
            if len(sp):
                b = (sp >> np.uint32(7)).astype(np.int64)
                r = (sp & np.uint32(0x7F)).astype(np.uint8)
                self._dense[b] = np.maximum(self._dense[b], r)
        return self

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        if self._dense is not None:
            return {"precision": self.precision}, self._dense.tobytes()
        return {"precision": self.precision, "sparse": True}, self._sparse.tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "HyperLogLog":
        if params.get("sparse"):
            return cls(params["precision"],
                       _sparse=np.frombuffer(payload, np.uint32).copy())
        return cls(params["precision"],
                   _registers=np.frombuffer(payload, np.uint8).copy())

    def __eq__(self, other) -> bool:
        # content equality, representation-agnostic (the representation
        # is content-deterministic under this module's own operations,
        # but a foreign dense blob may carry sparse-sized content)
        return (
            isinstance(other, HyperLogLog)
            and self.precision == other.precision
            and bool(np.array_equal(self.registers, other.registers))
        )

    def __repr__(self) -> str:
        form = "sparse" if self.is_sparse else "dense"
        return f"HyperLogLog(p={self.precision}, {form}, est={self.estimate():.1f})"


# ---- set-operation estimates (inclusion-exclusion) ----------------------------


def union_estimate(a: HyperLogLog, b: HyperLogLog) -> float:
    """|A ∪ B| — exact HLL semantics (register max is the sketch of the
    union), same error bound as a single estimate."""
    return a.copy().merge(b).estimate()


def intersection_estimate(a: HyperLogLog, b: HyperLogLog) -> float:
    """|A ∩ B| by inclusion-exclusion: |A| + |B| - |A ∪ B|.

    Error is ADDITIVE in the three estimates, so the absolute error is
    O(rel_err * (|A| + |B| + |A∪B|)) — relative accuracy degrades as
    the true intersection shrinks relative to the union (the standard
    HLL intersection caveat; use a theta/KMV sketch family when small
    intersections of huge sets must be accurate)."""
    return max(0.0, a.estimate() + b.estimate() - union_estimate(a, b))


def jaccard_estimate(a: HyperLogLog, b: HyperLogLog) -> float:
    """|A ∩ B| / |A ∪ B| from the same three estimates."""
    u = union_estimate(a, b)
    if u <= 0:
        return 1.0
    return intersection_estimate(a, b) / u
