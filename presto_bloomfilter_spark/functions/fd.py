"""Frequent Directions matrix sketch (Liberty KDD 2013; Ghashami,
Liberty, Phillips, Woodruff SIAM J. Comput. 2016) + an exact Gram
accumulator — the linear-algebra members of the sketch family, covering
the embeddings axis the way HLL/CMS cover tokens.

``FrequentDirections(d, ell)`` maintains an ℓ×d row sketch B of a tall
n×d matrix A (n in the billions, d = embedding dim) such that

    0  ⪯  AᵀA − BᵀB  ⪯  Δ·I,   Δ = Σ_t δ_t  ≤  ‖A‖_F² / ℓ

— the deterministic worst-case guarantee for covariance / PCA /
subspace estimation in ℓ·d floats of state.  Insertion is batched: one
LAPACK SVD per Arrow batch over [B; X], shrink every squared singular
value by δ = σ_ℓ²; each shrink removes at least ℓ·δ of Frobenius mass
(the top-ℓ singular values each lose δ), which is what caps Σδ at
‖A‖_F²/ℓ.  Both witnesses are tracked exactly: ``deltasum`` (= Δ, the
certified spectral-error bound) and ``shed`` (total removed mass).
Merge inserts the other sketch's rows and adds the witness/mass
counters — the mergeable-summaries property (GLPW16 Thm 3.1 carries
the same bound under arbitrary merge trees), which is what the
tree-merge dataflow (operators/aggregate.py) requires.

``ExactGram(d)`` accumulates AᵀA exactly (d×d float64, lossless
vector-add merge) — both the oracle for FD's guarantee and a useful
operator in itself: one distributed pass gives the exact covariance /
Gram matrix of an embedding corpus without shuffling any row data.

Reference parity: same PBFS self-describing blob contract as the
reference's bloom filters (BloomFilter.java:315-382).
"""

from __future__ import annotations

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser


class FrequentDirections(ser.Sketch, kind=ser.KIND_FD):
    DEFAULT_ELL = 32

    def __init__(self, d: int, ell: int = DEFAULT_ELL):
        if d < 1:
            raise ValueError("d must be >= 1")
        if not (2 <= ell <= 4096):
            raise ValueError("ell must be in [2, 4096]")
        self.d = int(d)
        self.ell = int(ell)
        self.B = np.zeros((0, self.d), dtype=np.float64)
        self.n = 0            # rows seen
        self.fnorm2 = 0.0     # exact ||A||_F^2
        self.shed = 0.0       # total removed Frobenius mass
        self.deltasum = 0.0   # Δ = Σ δ_t: certified ||AᵀA − BᵀB||₂ bound

    def add(self, X) -> "FrequentDirections":
        """Insert a batch of rows (m, d); one SVD per call."""
        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 1:
            X = X[None, :]
        if X.shape[1] != self.d:
            raise ValueError(f"row dim {X.shape[1]} != sketch d {self.d}")
        if not len(X):
            return self
        self.n += len(X)
        self.fnorm2 += float((X * X).sum())
        stacked = np.vstack([self.B, X]) if len(self.B) else X
        self._shrink(stacked)
        return self

    def _shrink(self, stacked: np.ndarray) -> None:
        if len(stacked) <= self.ell:
            self.B = stacked
            return
        # economy SVD; stacked is (m, d) with m > ell
        _, s, Vt = np.linalg.svd(stacked, full_matrices=False)
        s2 = s * s
        delta = s2[self.ell - 1] if len(s2) >= self.ell else 0.0
        kept = np.sqrt(np.maximum(s2 - delta, 0.0))
        nz = kept > 0.0
        self.B = kept[nz, None] * Vt[nz]
        # shed mass = ||stacked||_F^2 - ||B||_F^2, accumulated exactly
        self.shed += float(s2.sum() - (kept[nz] ** 2).sum())
        self.deltasum += float(delta)

    def _geometry(self) -> tuple:
        return (self.d, self.ell)

    def _merge(self, other: "FrequentDirections") -> "FrequentDirections":
        if len(other.B):
            stacked = np.vstack([self.B, other.B]) if len(self.B) else other.B
            self._shrink(stacked)
        self.n += other.n
        self.fnorm2 += other.fnorm2
        self.shed += other.shed
        self.deltasum += other.deltasum
        return self

    # ---- estimates -------------------------------------------------------------

    def gram(self) -> np.ndarray:
        """BᵀB — the covariance estimate with the spectral guarantee."""
        return self.B.T @ self.B

    def estimate(self) -> int:
        """Family-generic estimate() (compat.sketch_estimate): rows seen."""
        return self.n

    def cov_error_bound(self) -> float:
        """Certified upper bound on ‖AᵀA − BᵀB‖₂: the exactly-tracked
        Δ = Σ δ_t (itself ≤ ‖A‖_F²/ℓ)."""
        return self.deltasum

    def size_bytes(self) -> int:
        return int(self.B.nbytes + 64)

    # ---- serialization -----------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        params = {"d": self.d, "ell": self.ell, "n": int(self.n),
                  "rows": int(len(self.B)),
                  "fnorm2": self.fnorm2, "shed": self.shed,
                  "deltasum": self.deltasum}
        return params, self.B.astype("<f8").tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "FrequentDirections":
        c = cls(int(params["d"]), int(params["ell"]))
        rows = int(params["rows"])
        c.B = np.frombuffer(payload, "<f8").reshape(rows, c.d).copy()
        c.n = int(params["n"])
        c.fnorm2 = float(params["fnorm2"])
        c.shed = float(params["shed"])
        c.deltasum = float(params.get("deltasum", params["shed"]))
        return c

    def __repr__(self) -> str:
        return (f"FrequentDirections(d={self.d}, ell={self.ell}, n={self.n}, "
                f"delta={self.deltasum:.3g})")


class ExactGram(ser.Sketch, kind=ser.KIND_GRAM):
    """Exact AᵀA accumulator: d×d float64, lossless vector-add merge.
    The distributed one-pass covariance/Gram operator, and the oracle
    against which FD's spectral guarantee is asserted."""

    def __init__(self, d: int):
        if d < 1:
            raise ValueError("d must be >= 1")
        self.d = int(d)
        self.G = np.zeros((self.d, self.d), dtype=np.float64)
        self.n = 0

    def add(self, X) -> "ExactGram":
        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 1:
            X = X[None, :]
        if X.shape[1] != self.d:
            raise ValueError(f"row dim {X.shape[1]} != d {self.d}")
        if len(X):
            self.G += X.T @ X
            self.n += len(X)
        return self

    def _geometry(self) -> tuple:
        return (self.d,)

    def _merge(self, other: "ExactGram") -> "ExactGram":
        self.G += other.G
        self.n += other.n
        return self

    def estimate(self) -> int:
        """Family-generic estimate() (compat.sketch_estimate): rows seen."""
        return self.n

    def covariance(self) -> np.ndarray:
        """Uncentered covariance AᵀA / n."""
        if self.n == 0:
            raise ValueError("covariance of empty accumulator")
        return self.G / self.n

    def size_bytes(self) -> int:
        return int(self.G.nbytes + 32)

    def _state(self) -> tuple[dict, bytes]:
        return {"d": self.d, "n": int(self.n)}, self.G.astype("<f8").tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "ExactGram":
        c = cls(int(params["d"]))
        c.G = np.frombuffer(payload, "<f8").reshape(c.d, c.d).copy()
        c.n = int(params["n"])
        return c

    def __repr__(self) -> str:
        return f"ExactGram(d={self.d}, n={self.n})"
