"""Count-Sketch (Charikar-Chen-Farach-Colton 2002) with AMS F2 /
inner-product estimation in the bucketed "fast-AMS" form
(Thorup-Zhang 2004).

The SIGNED sibling of count-min: ``d`` rows of ``w`` int64 counters;
element x adds sign s_j(x) ∈ {±1} at column h_j(x) in every row.
Three estimators fall out, all merge-compatible:

- point frequency: median_j( s_j(x) · C[j, h_j(x)] ) — UNBIASED
  (count-min only overestimates; count-sketch errs both ways with
  std ≤ sqrt(F2/w) per row);
- second moment F2 = Σ_x f_x² (self-join size): median_j( Σ_c C[j,c]² )
  — each row is the AMS estimator with Var ≤ 2·F2²/w;
- inner product Σ_x f_x·g_x (equi-join size between two multisets):
  median_j( Σ_c C[j,c]·D[j,c] ) for two sketches of identical geometry
  — unbiased, error ≤ sqrt(2·F2(f)·F2(g)/w) per row w.h.p.

Merge = elementwise counter addition: lossless, associative,
commutative, byte-identical under any merge tree — same strongest-form
merge algebra as DDSketch, which is exactly what the tree-merge
dataflow (operators/aggregate.py) and task-retry determinism need.

Reference parity: serialized with the same self-describing PBFS wire
format as the reference's bloom blobs (BloomFilter.java:315-382).
"""

from __future__ import annotations

import numpy as np

from presto_bloomfilter_spark.functions import hashing
from presto_bloomfilter_spark.functions import serialization as ser


class CountSketch(hashing.CountedInserts, ser.Sketch, kind=ser.KIND_COUNTSKETCH):
    DEFAULT_WIDTH = 4096
    DEFAULT_DEPTH = 7

    def __init__(self, width: int = DEFAULT_WIDTH, depth: int = DEFAULT_DEPTH,
                 _table: np.ndarray | None = None):
        if width < 16 or (width & (width - 1)) != 0:
            raise ValueError("width must be a power of two >= 16")
        if not (1 <= depth <= 64):
            raise ValueError("depth must be in [1, 64]")
        self.width = int(width)
        self.depth = int(depth)
        self.table = (
            _table if _table is not None
            else np.zeros((self.depth, self.width), dtype=np.int64)
        )
        self.n = 0  # total insertions (with multiplicity)

    # ---- row hashes -----------------------------------------------------------

    def _row_cols_signs(self, h64: np.ndarray, row: int):
        """Per-row column index and ±1 sign from one base hash."""
        hj = hashing.splitmix64(h64 ^ np.uint64(0x9E3779B97F4A7C15 * (row + 1) & 0xFFFFFFFFFFFFFFFF))
        cols = (hj & np.uint64(self.width - 1)).astype(np.int64)
        signs = np.where((hj >> np.uint64(63)) == 1, np.int64(1), np.int64(-1))
        return cols, signs

    def _add(self, h64: np.ndarray, counts: np.ndarray) -> None:
        for j in range(self.depth):
            cols, signs = self._row_cols_signs(h64, j)
            np.add.at(self.table[j], cols, signs * counts)
        self.n += int(counts.sum())

    # ---- estimators -----------------------------------------------------------

    def _estimate(self, h64: np.ndarray) -> np.ndarray:
        """Unbiased frequency estimates (may be negative for absent keys)."""
        est = np.empty((self.depth, len(h64)), dtype=np.float64)
        for j in range(self.depth):
            cols, signs = self._row_cols_signs(h64, j)
            est[j] = signs * self.table[j, cols]
        return np.median(est, axis=0)

    def estimate(self) -> int:
        """Family-generic estimate() (compat.sketch_estimate): exact
        total insertions, like CMS total weight."""
        return self.n

    def f2(self) -> float:
        """Self-join size Σ f² — median of the per-row AMS estimators.
        Relative error ≤ ~4·sqrt(2/width) w.h.p."""
        row_est = (self.table.astype(np.float64) ** 2).sum(axis=1)
        return float(np.median(row_est))

    def inner_product(self, other: "CountSketch") -> float:
        """Equi-join size Σ_x f_x·g_x against a same-geometry sketch —
        unbiased; error ≤ ~4·sqrt(2·F2(f)·F2(g)/width) w.h.p."""
        self._check_combinable(other)
        row_est = (self.table.astype(np.float64) * other.table.astype(np.float64)).sum(axis=1)
        return float(np.median(row_est))

    # ---- merge algebra ---------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.width, self.depth)

    def _merge(self, other: "CountSketch") -> "CountSketch":
        self.table += other.table
        self.n += other.n
        return self

    def size_bytes(self) -> int:
        return int(self.table.nbytes + 64)

    # ---- serialization ---------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        params = {"width": self.width, "depth": self.depth, "n": int(self.n)}
        return params, self.table.astype("<i8").tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "CountSketch":
        w, d = int(params["width"]), int(params["depth"])
        table = np.frombuffer(payload, "<i8").reshape(d, w).astype(np.int64)
        c = cls(w, d, _table=table)
        c.n = int(params.get("n", 0))
        return c

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountSketch)
            and self.width == other.width
            and self.depth == other.depth
            and np.array_equal(self.table, other.table)
        )

    def __repr__(self) -> str:
        return f"CountSketch(width={self.width}, depth={self.depth}, n={self.n})"
