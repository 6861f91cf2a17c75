"""KLL quantile sketch (Karnin-Lang-Liberty 2016), numpy-vectorized.

Sibling sketch per the north star (SURVEY.md §2.1 tail): per-sequence
``n_tok`` quantiles over the token corpus, cross-checkable against
Spark's ``percentile_approx``.

Standard compactor hierarchy with geometric capacities (c = 2/3): items
at level h carry weight 2^h; a full level sorts its buffer and promotes
every other item.  We use a *deterministic alternating* compaction
offset rather than random coin flips — estimates stay within the
published rank-error envelope (~1.65/k normalized rank error at k=200,
two-sided) and test runs are reproducible.  Like every quantile sketch,
byte-level output depends on merge order; what is order-invariant (and
what tests pin) is the rank-error bound (SURVEY.md §7 "What's hard").

Merge = levelwise concatenation + re-compaction — associative and
commutative at the estimate level.
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser

_C = 2.0 / 3.0


class KLLSketch(ser.Sketch, kind=ser.KIND_KLL):
    DEFAULT_K = 200

    def __init__(self, k: int = DEFAULT_K, _levels: list[np.ndarray] | None = None):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = int(k)
        self.levels: list[np.ndarray] = (
            [lv.astype(np.float64, copy=False) for lv in _levels]
            if _levels is not None
            else [np.empty(0, dtype=np.float64)]
        )
        self.n = 0
        self._parity = 0  # deterministic compaction offset toggle

    # ---- capacities ----------------------------------------------------------

    def _capacity(self, level: int) -> int:
        """Capacity of `level` given current height (top levels get k)."""
        height = len(self.levels)
        depth_from_top = height - 1 - level
        return max(2, int(math.ceil(self.k * (_C**depth_from_top))))

    def _total(self) -> int:
        return sum(len(lv) for lv in self.levels)

    def _total_capacity(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.levels)))

    @property
    def size_bytes(self) -> int:
        return self._total() * 8

    @property
    def rank_error(self) -> float:
        """Approximate two-sided normalized rank error bound (~1.65/k)."""
        return 1.65 / self.k

    # ---- updates ------------------------------------------------------------

    def add(self, values) -> "KLLSketch":
        a = np.asarray(values, dtype=np.float64)
        a = a[~np.isnan(a)]
        if a.size == 0:
            return self
        self.levels[0] = np.concatenate([self.levels[0], a])
        self.n += a.size
        self._compress()
        return self

    def _compress(self) -> None:
        # If total > total_capacity, some level is at/over its capacity
        # (all-below-capacity implies total < total_capacity), so the
        # inner scan always finds work and each compaction strictly
        # shrinks the total — the loop terminates.
        while self._total() > self._total_capacity():
            for h in range(len(self.levels)):
                if len(self.levels[h]) >= max(2, self._capacity(h)):
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        buf = np.sort(self.levels[h])
        keep = np.empty(0, dtype=np.float64)
        if len(buf) % 2 == 1:
            # keep one item at this level so total weight is preserved
            keep = buf[-1:]
            buf = buf[:-1]
        off = self._parity
        self._parity ^= 1
        promoted = buf[off::2]  # each survivor absorbs one neighbor: weight ×2
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[h] = keep
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # ---- queries ------------------------------------------------------------

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, lv in enumerate(self.levels):
            if len(lv):
                vals.append(lv)
                wts.append(np.full(len(lv), 2**h, dtype=np.float64))
        if not vals:
            return np.empty(0), np.empty(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q) -> np.ndarray | float:
        """Value(s) at normalized rank(s) q in [0, 1]."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        v, w = self._weighted_items()
        if len(v) == 0:
            out = np.full(len(qs), np.nan)
            return out if np.ndim(q) else float(out[0])
        cum = np.cumsum(w)
        targets = np.clip(qs, 0.0, 1.0) * cum[-1]
        idx = np.searchsorted(cum, targets, side="left")
        idx = np.clip(idx, 0, len(v) - 1)
        out = v[idx]
        return out if np.ndim(q) else float(out[0])

    def rank(self, value: float) -> float:
        """Approximate normalized rank of `value`."""
        v, w = self._weighted_items()
        if len(v) == 0:
            return float("nan")
        below = w[v <= value].sum()
        return float(below / w.sum())

    def estimate(self) -> float:
        """Median (common-algebra estimate())."""
        return float(self.quantile(0.5))

    # ---- merge --------------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.k,)

    def _merge(self, other: "KLLSketch") -> "KLLSketch":
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, lv in enumerate(other.levels):
            if len(lv):
                self.levels[h] = np.concatenate([self.levels[h], lv])
        self.n += other.n
        self._compress()
        return self

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        payload = np.concatenate(self.levels) if self._total() else np.empty(0)
        params = {"k": self.k, "n": self.n, "parity": self._parity,
                  "lens": [len(lv) for lv in self.levels]}
        return params, payload.astype(np.float64).tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "KLLSketch":
        flat = np.frombuffer(payload, np.float64)
        levels, off = [], 0
        for ln in params["lens"]:
            levels.append(flat[off : off + ln].copy())
            off += ln
        sk = cls(params["k"], _levels=levels or None)
        sk.n = int(params["n"])
        sk._parity = int(params.get("parity", 0))
        return sk

    def __repr__(self) -> str:
        return f"KLLSketch(k={self.k}, n={self.n}, levels={len(self.levels)})"
