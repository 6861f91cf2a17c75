"""t-digest quantile sketch (Dunning & Ertl, "Computing extremely
accurate quantiles using t-digests"), numpy-vectorized merging variant.

Second quantile sketch of the family (north_rule names both t-digest and
KLL): where KLL gives uniform rank-error guarantees, the t-digest's
k-scale concentrates centroids at the distribution tails, so extreme
quantiles (p99/p999 of sequence lengths, latencies) come out much
tighter for the same state size.

Design (merging digest, fully vectorized — no per-value Python):

- state = centroid arrays (mean float64, weight float64) kept sorted by
  mean, plus exact min/max for tail interpolation;
- updates append to a buffer; at ~8x compression the buffer and the
  existing centroids are merge-compacted in one vectorized pass:
  sort, cumulative-normalize weights to q ∈ (0,1], map each point's
  mid-q through the k1 scale  k(q) = δ/(2π)·asin(2q−1), floor to an
  integer cluster id, and reduce (weighted mean per cluster) with
  np.unique + np.add.reduceat.  The k-scale floor enforces the t-digest
  size invariant (cluster k-width ≤ 1), giving ≤ ~2δ centroids;
- merge(other) = concatenate centroid sets + compact — commutative, and
  associative at the estimate level (like every quantile sketch the
  exact bytes depend on merge order; tests pin the accuracy envelope,
  mirroring KLL's discipline);
- quantile(q): piecewise-linear interpolation over centroid midpoints
  with exact min/max endpoints.

Accuracy: relative rank error ~ q(1-q)·4/δ near the mid-range and far
tighter at the tails; tests assert a conservative 6/δ envelope at the
median against exact quantiles, and ~1e-3 absolute rank error at p99
with δ=200.
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser


class TDigest(ser.Sketch, kind=ser.KIND_TDIGEST):
    DEFAULT_COMPRESSION = 200

    def __init__(
        self,
        compression: int = DEFAULT_COMPRESSION,
        _means: np.ndarray | None = None,
        _weights: np.ndarray | None = None,
    ):
        if compression < 20:
            raise ValueError("compression must be >= 20")
        self.compression = int(compression)
        self.means = _means if _means is not None else np.empty(0, np.float64)
        self.weights = _weights if _weights is not None else np.empty(0, np.float64)
        self.n = float(self.weights.sum()) if self.weights.size else 0.0
        self.min = float(self.means.min()) if self.means.size else math.inf
        self.max = float(self.means.max()) if self.means.size else -math.inf
        self._buf_vals: list[np.ndarray] = []
        self._buf_wts: list[np.ndarray] = []
        self._buf_n = 0

    # ---- updates ------------------------------------------------------------

    def add(self, values, weights=None) -> "TDigest":
        a = np.asarray(values, dtype=np.float64).ravel()
        if weights is None:
            w = np.ones(a.size, np.float64)
        else:
            w = np.asarray(weights, dtype=np.float64).ravel()
        keep = ~np.isnan(a)
        a, w = a[keep], w[keep]
        if a.size == 0:
            return self
        self.min = min(self.min, float(a.min()))
        self.max = max(self.max, float(a.max()))
        self.n += float(w.sum())
        self._buf_vals.append(a)
        self._buf_wts.append(w)
        self._buf_n += a.size
        if self._buf_n >= 8 * self.compression:
            self._compact()
        return self

    def _k_scale(self, q: np.ndarray) -> np.ndarray:
        """k1 scale function: δ/(2π)·asin(2q−1) — tail-biased sizing."""
        return self.compression / (2 * math.pi) * np.arcsin(2 * q - 1)

    def _compact(self) -> None:
        if self._buf_n == 0 and self.means.size <= 2 * self.compression:
            return
        m = np.concatenate([self.means, *self._buf_vals]) if self._buf_vals else self.means
        w = np.concatenate([self.weights, *self._buf_wts]) if self._buf_wts else self.weights
        self._buf_vals, self._buf_wts, self._buf_n = [], [], 0
        if m.size == 0:
            return
        order = np.argsort(m, kind="stable")
        m, w = m[order], w[order]
        total = w.sum()
        # mid-quantile of each point, clipped away from the asin poles
        qmid = (np.cumsum(w) - 0.5 * w) / total
        np.clip(qmid, 1e-12, 1 - 1e-12, out=qmid)
        cluster = np.floor(self._k_scale(qmid) + 0.5 * self.compression).astype(np.int64)
        ids, starts = np.unique(cluster, return_index=True)
        wsum = np.add.reduceat(w, starts)
        msum = np.add.reduceat(m * w, starts)
        self.means = msum / wsum
        self.weights = wsum

    # ---- queries ------------------------------------------------------------

    def quantile(self, q: float) -> float:
        self._compact()
        if self.means.size == 0:
            return float("nan")
        q = min(max(q, 0.0), 1.0)
        if self.means.size == 1:
            return float(self.means[0])
        cum = np.cumsum(self.weights) - 0.5 * self.weights  # centroid mid-ranks
        target = q * self.n
        xs = np.concatenate([[0.0], cum, [self.n]])
        ys = np.concatenate([[self.min], self.means, [self.max]])
        return float(np.interp(target, xs, ys))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in np.asarray(qs, np.float64)])

    def rank(self, x: float) -> float:
        """Approximate normalized rank of x (inverse of quantile)."""
        self._compact()
        if self.means.size == 0:
            return float("nan")
        cum = np.cumsum(self.weights) - 0.5 * self.weights
        xs = np.concatenate([[self.min], self.means, [self.max]])
        ranks = np.concatenate([[0.0], cum, [self.n]])
        return float(np.interp(x, xs, ranks) / self.n)

    def estimate(self) -> float:
        """Common estimate() surface: the median."""
        return self.quantile(0.5)

    @property
    def rank_error(self) -> float:
        """Conservative mid-range normalized rank-error envelope."""
        return 6.0 / self.compression

    @property
    def size_bytes(self) -> int:
        return int(self.means.size * 16)

    # ---- merge --------------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.compression,)

    def _merge(self, other: "TDigest") -> "TDigest":
        other._compact()
        if other.means.size:
            self._buf_vals.append(other.means)
            self._buf_wts.append(other.weights)
            self._buf_n += other.means.size
            self.n += float(other.weights.sum())
            self.min = min(self.min, other.min)
            self.max = max(self.max, other.max)
            self._compact()
        return self

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        self._compact()
        params = {
            "compression": self.compression,
            "n": self.n,
            "min": None if math.isinf(self.min) else self.min,
            "max": None if math.isinf(self.max) else self.max,
            "k": int(self.means.size),
        }
        return params, self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "TDigest":
        k = int(params["k"])
        arr = np.frombuffer(payload, np.float64)
        td = cls(
            int(params["compression"]),
            _means=arr[:k].copy(),
            _weights=arr[k : 2 * k].copy(),
        )
        td.n = float(params["n"])
        if params.get("min") is not None:
            td.min = float(params["min"])
        if params.get("max") is not None:
            td.max = float(params["max"])
        return td

    def __repr__(self) -> str:
        return (
            f"TDigest(compression={self.compression}, n={self.n:.0f}, "
            f"centroids={self.means.size})"
        )
