"""Count-Min sketch for frequency estimation, numpy-vectorized.

Sibling sketch per the north star (SURVEY.md §2.1 tail), same mergeable
algebra as the reference's aggregation pattern.  Standard Cormode &
Muthukrishnan construction: depth d rows × width w counters; point
estimate = min over rows; guarantees est >= true and
est <= true + eps*N with probability >= 1-delta for w=ceil(e/eps),
d=ceil(ln(1/delta)).  Merge = elementwise counter add — commutative and
associative (not idempotent, like any counting structure).
Cross-checkable against Spark SQL's ``count_min_sketch``.
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.hashing import CountedInserts, hash_ints64

_E = math.e


class CountMinSketch(CountedInserts, ser.Sketch, kind=ser.KIND_CMS):
    DEFAULT_EPS = 0.0001
    DEFAULT_DELTA = 0.01

    def __init__(
        self,
        eps: float = DEFAULT_EPS,
        delta: float = DEFAULT_DELTA,
        _table: np.ndarray | None = None,
    ):
        if not (0 < eps < 1) or not (0 < delta < 1):
            raise ValueError("eps and delta must be in (0, 1)")
        self.eps = float(eps)
        self.delta = float(delta)
        self.width = int(math.ceil(_E / eps))
        self.depth = int(math.ceil(math.log(1.0 / delta)))
        if _table is not None:
            if _table.shape != (self.depth, self.width):
                raise ValueError("payload does not match geometry")
            self.table = _table
        else:
            self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0  # N = total insertions (weights)

    @property
    def size_bytes(self) -> int:
        return self.table.nbytes

    # ---- updates ------------------------------------------------------------

    def _row_indexes(self, h: np.ndarray) -> np.ndarray:
        """(depth, n) column indexes: seed-per-row rehash of the base hash."""
        cols = np.empty((self.depth, len(h)), dtype=np.int64)
        for d in range(self.depth):
            cols[d] = (hash_ints64(h.view(np.int64), seed=d + 1) % np.uint64(self.width)).astype(
                np.int64
            )
        return cols

    _CHUNK = 1 << 18

    def _add(self, h: np.ndarray, counts: np.ndarray) -> None:
        if len(h) == 0:
            return
        # bincount is a buffered single pass — ~100x the throughput of the
        # unbuffered np.add.at for wide batches; float64 weight sums are
        # exact below 2^53 so the int64 cast is lossless here.  Fixed-size
        # chunks keep temporaries cache-sized and recyclable.
        uniform = counts.max() == 1 and counts.min() == 1
        for s in range(0, len(h), self._CHUNK):
            cols = self._row_indexes(h[s:s + self._CHUNK])
            for d in range(self.depth):
                if uniform:
                    self.table[d] += np.bincount(cols[d], minlength=self.width)
                else:
                    self.table[d] += np.bincount(
                        cols[d], weights=counts[s:s + self._CHUNK], minlength=self.width
                    ).astype(np.int64)
        self.total += int(counts.sum())

    # ---- queries ------------------------------------------------------------

    def _estimate(self, h: np.ndarray) -> np.ndarray:
        if len(h) == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._row_indexes(h)
        ests = np.empty((self.depth, len(h)), dtype=np.int64)
        for d in range(self.depth):
            ests[d] = self.table[d][cols[d]]
        return ests.min(axis=0)

    def estimate(self) -> int:
        """Total stream weight N (common-algebra estimate())."""
        return self.total

    def error_bound(self) -> float:
        """Additive overestimate bound eps*N (holds w.p. >= 1-delta)."""
        return self.eps * self.total

    def inner_product(self, other: "CountMinSketch") -> int:
        """Inner-product / equi-join-size estimate from two sketches
        (Cormode & Muthukrishnan 2005 §4.2): for streams a and b,
        ``min_d Σ_w table_a[d]·table_b[d]`` estimates ``a·b = Σ_k
        cnt_a(k)·cnt_b(k)`` — the row count of the equi-join on k —
        with ``a·b <= est <= a·b + eps·N_a·N_b`` w.p. ``>= 1-delta``.
        Requires identical geometry (same eps/delta ⇒ same per-row
        hash seeds, which this implementation fixes at d+1).

        This is how a planner sizes a join from two already-built
        sketches without running it: O(table) work on two blobs, no
        scan, no shuffle.  Row products are summed in float64 — exact
        below 2^53 per product and ~1e-16 relative above, far inside
        the eps slack; int64 einsum would silently wrap at
        counter-scale ~3e9."""
        self._check_combinable(other)
        per_row = np.einsum(
            "dw,dw->d",
            self.table.astype(np.float64, copy=False),
            other.table.astype(np.float64, copy=False),
        )
        return int(per_row.min())

    def inner_product_bound(self, other: "CountMinSketch") -> float:
        """The additive slack of ``inner_product``: eps * N_a * N_b."""
        return self.eps * float(self.total) * float(other.total)

    # ---- merge --------------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.depth, self.width)

    def _merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self.table += other.table
        self.total += other.total
        return self

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        params = {"eps": self.eps, "delta": self.delta, "total": self.total}
        return params, self.table.tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "CountMinSketch":
        c = cls(params["eps"], params["delta"])
        c.table = np.frombuffer(payload, np.int64).reshape(c.depth, c.width).copy()
        c.total = int(params.get("total", 0))
        return c

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountMinSketch)
            and (self.width, self.depth) == (other.width, other.depth)
            and bool(np.array_equal(self.table, other.table))
        )

    def __repr__(self) -> str:
        return f"CountMinSketch(eps={self.eps}, delta={self.delta}, N={self.total})"
