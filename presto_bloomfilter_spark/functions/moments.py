"""Moments sketch for high-cardinality grouped quantiles (Gan,
Ding, Tai, Sharan & Bailis, "Moment-Based Quantile Sketches for
Efficient High Cardinality Aggregation Queries", VLDB 2018 — the
retrieved-papers list names this exact niche).

Where KLL gives uniform rank-error GUARANTEES and the t-digest tight
tails, both carry hundreds of retained values per sketch.  A grouped
quantile query over millions of keys (per-domain n_tok medians across
the whole crawl) wants the other trade: the moments sketch is a FIXED
~(k+3)·8 bytes of state — count, min, max, and the first k power sums
— whose merge is a pure vector add, so per-key state stays ~100 B and
map-side partial merging is exact float addition.  Quantiles come out
at query time by solving the maximum-entropy density consistent with
the stored moments (practical mid-range error well under 1 rank
percent on smooth distributions; NO worst-case guarantee — that is the
published trade, use KLL when you need the bound).

Conditioning design: the paper stores raw power sums and fights the
resulting ill-conditioning at solve time.  This implementation instead
takes the value RANGE ``(lo, hi)`` as a sketch parameter — the same
contract as every other family here (bloom takes n/p, CMS eps/delta) —
and accumulates power sums of the affinely standardized s ∈ [-1, 1],
which keeps every stored quantity in [-n, n] and the Hankel systems
numerically benign at any k ≤ 16.  Merge requires equal (lo, hi, k),
enforced like every geometry check.  Out-of-range values fail loud by
default (``clamp=True`` opts into saturating instead — the right mode
when a long tail is known and the tail mass is what you're asking
about is NOT a quantile near it).
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser

_GRID = 1024  # quadrature / inversion grid on [-1, 1]


class MomentsSketch(ser.Sketch, kind=ser.KIND_MOMENTS):
    DEFAULT_K = 12

    def __init__(self, lo: float, hi: float, k: int = DEFAULT_K,
                 clamp: bool = False, log: bool = False,
                 _sums: np.ndarray | None = None):
        if not (hi > lo) or not (math.isfinite(lo) and math.isfinite(hi)):
            raise ValueError(f"need finite hi > lo, got [{lo}, {hi}]")
        if not 2 <= k <= 16:
            raise ValueError("k must be in [2, 16]")
        if log and lo <= 0:
            raise ValueError("log moments need lo > 0")
        self.lo = float(lo)
        self.hi = float(hi)
        self.k = int(k)
        self.clamp = bool(clamp)
        # log=True accumulates moments of ln(x) — the paper's fix for
        # long-tailed data, where raw-moment maxent smears low quantiles
        self.log = bool(log)
        self.n = 0
        self.min = math.inf
        self.max = -math.inf
        self._flo = math.log(self.lo) if log else self.lo
        self._fhi = math.log(self.hi) if log else self.hi
        # power sums of standardized s: sums[j] = Σ s^(j+1), j = 0..k-1
        self.sums = (_sums if _sums is not None
                     else np.zeros(self.k, dtype=np.float64))

    @property
    def size_bytes(self) -> int:
        return self.sums.nbytes + 3 * 8

    # ---- updates ------------------------------------------------------------

    def _standardize(self, x: np.ndarray) -> np.ndarray:
        with np.errstate(divide="ignore", invalid="ignore"):
            f = np.log(x) if self.log else x
        s = (2.0 * f - (self._fhi + self._flo)) / (self._fhi - self._flo)
        if self.clamp:
            return np.clip(np.nan_to_num(s, nan=-1.0, neginf=-1.0), -1.0, 1.0)
        bad = (s < -1.0) | (s > 1.0) | ~np.isfinite(s)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            raise ValueError(
                f"value {x[i]!r} outside the sketch range [{self.lo}, "
                f"{self.hi}] — widen the range or build with clamp=True")
        return s

    def add(self, values) -> "MomentsSketch":
        x = np.asarray(values, dtype=np.float64)
        if x.ndim != 1:
            x = x.ravel()
        if not x.size:
            return self
        if not np.isfinite(x).all():
            raise ValueError("non-finite value in moments input")
        s = self._standardize(x)
        # vectorized power ladder: one multiply per order over the batch
        p = np.ones_like(s)
        for j in range(self.k):
            p = p * s
            self.sums[j] += p.sum()
        self.n += int(x.size)
        self.min = min(self.min, float(x.min()))
        self.max = max(self.max, float(x.max()))
        return self

    # ---- merge --------------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.lo, self.hi, self.k, self.log)

    def _merge(self, other: "MomentsSketch") -> "MomentsSketch":
        self.sums += other.sums
        self.n += other.n
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        return self

    # ---- queries ------------------------------------------------------------

    def estimate(self) -> int:
        """Total count (common-algebra estimate())."""
        return self.n

    def _maxent_density(self):
        """Solve the maximum-entropy density on the OBSERVED standardized
        support matching the stored moments.  Returns (grid s, cell
        probability p) — p sums to 1.  Damped Newton on the convex dual;
        if a high-order solve fails to converge the order backs off by
        two (the paper's own fallback), k=2 always converges.
        """
        if self.n == 0:
            raise ValueError("empty sketch has no quantiles")
        fmin = math.log(self.min) if self.log else self.min
        fmax = math.log(self.max) if self.log else self.max
        smin = (2.0 * fmin - (self._fhi + self._flo)) / (self._fhi - self._flo)
        smax = (2.0 * fmax - (self._fhi + self._flo)) / (self._fhi - self._flo)
        if self.clamp:
            smin, smax = max(smin, -1.0), min(smax, 1.0)
        if smax - smin < 1e-12:  # all mass at one point
            return np.array([smin]), np.array([1.0])
        grid = np.linspace(smin, smax, _GRID)
        mom = np.concatenate(([1.0], self.sums / self.n))  # raw moments 0..k
        for k_use in range(self.k, 1, -2):
            lam = self._solve_dual(grid, mom[: k_use + 1])
            if lam is not None:
                logp = np.polynomial.polynomial.polyval(grid, lam)
                logp -= logp.max()
                p = np.exp(logp)
                p /= p.sum()
                return grid, p
        # k=2 failed (numerically extreme variance) — uniform fallback,
        # loud in spirit: still moment-0 consistent, never an exception
        # path silently hit in practice (tests cover degenerate inputs)
        p = np.full(grid.shape, 1.0 / len(grid))
        return grid, p

    @staticmethod
    def _solve_dual(grid: np.ndarray, mom: np.ndarray):
        """Newton on Φ(λ) = log Σ_i exp(Σ_j λ_j s_i^j) − Σ_j λ_j m_j
        (normalized dual — λ_0 is fixed by the softmax).  Returns the
        monomial-basis λ (length k+1) or None if not converged."""
        k = len(mom) - 1
        # Vandermonde in the monomial basis; grid spans the observed
        # support so powers are in [-1, 1] — conditioning is fine
        B = np.vander(grid, k + 1, increasing=True)  # (G, k+1)
        lam = np.zeros(k + 1)
        target = mom
        for _ in range(60):
            z = B @ lam
            z -= z.max()
            w = np.exp(z)
            w /= w.sum()
            cur = B.T @ w                      # E_p[s^j]
            grad = cur - target
            if np.abs(grad[1:]).max() < 1e-9:
                return lam
            # Hessian = covariance of the basis under p (PSD)
            BW = B * w[:, None]
            H = B.T @ BW - np.outer(cur, cur)
            H[0, 0] += 1.0  # λ_0 direction is gauge — pin it
            try:
                step = np.linalg.solve(H + 1e-10 * np.eye(k + 1), grad)
            except np.linalg.LinAlgError:
                return None
            # damped: keep the softmax finite
            sn = np.abs(step).max()
            if sn > 5.0:
                step *= 5.0 / sn
            lam = lam - step
            if not np.isfinite(lam).all():
                return None
        return None

    def quantile(self, q) -> float | np.ndarray:
        """Quantile(s) from the maxent density; exact min/max endpoints."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if ((qs < 0) | (qs > 1)).any():
            raise ValueError("q must be in [0, 1]")
        grid, p = self._maxent_density()
        if len(grid) == 1:
            out = np.full(qs.shape, self._destandardize(grid[0]))
        else:
            cdf = np.cumsum(p)
            cdf = cdf / cdf[-1]
            s_q = np.interp(qs, cdf, grid)
            out = self._destandardize(s_q)
            out = np.clip(out, self.min, self.max)
            out = np.where(qs <= 0.0, self.min, out)
            out = np.where(qs >= 1.0, self.max, out)
        return float(out[0]) if np.isscalar(q) or np.ndim(q) == 0 else out

    def _destandardize(self, s):
        f = (np.asarray(s) * (self._fhi - self._flo)
             + (self._fhi + self._flo)) / 2.0
        return np.exp(f) if self.log else f

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        head = np.array([self.n, self.min, self.max], dtype=np.float64)
        params = {"lo": self.lo, "hi": self.hi, "k": self.k,
                  "clamp": self.clamp, "log": self.log}
        return params, np.concatenate((head, self.sums)).tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "MomentsSketch":
        arr = np.frombuffer(payload, np.float64)
        c = cls(params["lo"], params["hi"], int(params["k"]),
                bool(params.get("clamp", False)),
                bool(params.get("log", False)), _sums=arr[3:].copy())
        c.n = int(arr[0])
        c.min = float(arr[1])
        c.max = float(arr[2])
        return c

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MomentsSketch)
            and (self.lo, self.hi, self.k, self.log, self.n, self.min,
                 self.max)
            == (other.lo, other.hi, other.k, other.log, other.n, other.min,
                other.max)
            and bool(np.array_equal(self.sums, other.sums))
        )

    def __repr__(self) -> str:
        return (f"MomentsSketch(lo={self.lo}, hi={self.hi}, k={self.k}, "
                f"n={self.n})")
