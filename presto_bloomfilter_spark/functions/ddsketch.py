"""DDSketch — relative-error quantile sketch (Masson, Lee, Rim; VLDB 2019).

Fourth quantile member of the sketch family (KLL: worst-case rank error;
t-digest: tail rank accuracy; moments: ~120 B grouped state).  DDSketch's
contract is different and uniquely useful for token statistics: every
quantile estimate of a positive value is within RELATIVE error ``alpha``
of an exact quantile — ``|est - x_q| <= alpha * x_q`` — regardless of the
distribution, and (unlike KLL/t-digest, whose byte output depends on
merge order) its merge is bucket-count addition: associative,
commutative, and byte-identical under any merge tree.  That makes it the
one quantile sketch here whose estimates are provably invariant across
shuffle nondeterminism, task retries, and fan-in shape — the property
the north rule's "merge associativity" clause is really about.

Both claims are qualified once ``_collapse`` fires (more than
``max_bins`` buckets in a store): the merge stops being LOSSLESS, and
quantiles that fall in the folded low bucket lose the ``alpha`` bound.
The bytes stay merge-tree independent, since a fold always keeps the
top ``max_bins`` indices of the union and sums the rest into the lowest
kept one, whichever partial folded first.

Log-spaced buckets: value x > 0 maps to index ceil(log_gamma(x)) with
gamma = (1+alpha)/(1-alpha); bucket i estimates 2·gamma^i/(gamma+1)
(the bucket's harmonic midpoint).  Zeros and negatives are tracked in a
zero counter and a mirrored negative store, so the sketch is total over
doubles.  An optional collapsing bound (``max_bins``, paper §2.3) folds
the lowest-magnitude buckets together so worst-case size stays bounded;
collapsing only ever affects the extreme low quantiles.

Reference parity: same serialized-sketch contract as the reference's
bloom blobs (BloomFilter.java:315-382) — self-describing PBFS header,
params readable without payload decode (see serialization.py).
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser


class DDSketch(ser.Sketch, kind=ser.KIND_DDSKETCH):
    DEFAULT_ALPHA = 0.01
    DEFAULT_MAX_BINS = 2048

    def __init__(self, alpha: float = DEFAULT_ALPHA, max_bins: int = DEFAULT_MAX_BINS):
        if not (0.0 < alpha < 1.0):
            raise ValueError("alpha must be in (0, 1)")
        if max_bins < 16:
            raise ValueError("max_bins must be >= 16")
        self.alpha = float(alpha)
        self.max_bins = int(max_bins)
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._log_gamma = math.log(self.gamma)
        # sparse stores: bucket index -> count (int64), kept as sorted arrays
        self._pos_idx = np.empty(0, dtype=np.int32)
        self._pos_cnt = np.empty(0, dtype=np.int64)
        self._neg_idx = np.empty(0, dtype=np.int32)
        self._neg_cnt = np.empty(0, dtype=np.int64)
        self.zero_count = 0
        self.collapsed = False  # lowest-magnitude buckets were folded

    # ---- build ---------------------------------------------------------------

    def _bucket(self, mag: np.ndarray) -> np.ndarray:
        # ceil(log_gamma(x)); exact powers land on their own index
        return np.ceil(np.log(mag) / self._log_gamma - 1e-12).astype(np.int32)

    def add(self, values) -> "DDSketch":
        """Vectorized insert of an array of doubles (NaNs rejected)."""
        v = np.asarray(values, dtype=np.float64).ravel()
        if v.size == 0:
            return self
        if np.isnan(v).any():
            raise ValueError("DDSketch.add: NaN values")
        self.zero_count += int((v == 0.0).sum())
        pos = v[v > 0.0]
        if pos.size:
            idx, cnt = np.unique(self._bucket(pos), return_counts=True)
            self._pos_idx, self._pos_cnt = _merge_sparse(
                self._pos_idx, self._pos_cnt, idx, cnt.astype(np.int64))
        neg = -v[v < 0.0]
        if neg.size:
            idx, cnt = np.unique(self._bucket(neg), return_counts=True)
            self._neg_idx, self._neg_cnt = _merge_sparse(
                self._neg_idx, self._neg_cnt, idx, cnt.astype(np.int64))
        self._collapse()
        return self

    def _collapse(self) -> None:
        """Fold lowest-magnitude buckets so each store stays <= max_bins
        (paper §2.3: affects only the extreme low quantiles)."""
        for attr_i, attr_c in (("_pos_idx", "_pos_cnt"), ("_neg_idx", "_neg_cnt")):
            idx, cnt = getattr(self, attr_i), getattr(self, attr_c)
            if len(idx) > self.max_bins:
                keep_from = len(idx) - self.max_bins
                folded = cnt[: keep_from + 1].sum()
                idx = idx[keep_from:].copy()
                cnt = cnt[keep_from:].copy()
                cnt[0] = folded
                setattr(self, attr_i, idx)
                setattr(self, attr_c, cnt)
                self.collapsed = True

    # ---- merge (lossless, associative, commutative) --------------------------

    def _geometry(self) -> tuple:
        return (self.max_bins,)

    def _merge(self, other: "DDSketch") -> "DDSketch":
        if abs(other.alpha - self.alpha) > 1e-12:
            raise ValueError(f"geometry mismatch: alpha {self.alpha} vs {other.alpha}")
        self._pos_idx, self._pos_cnt = _merge_sparse(
            self._pos_idx, self._pos_cnt, other._pos_idx, other._pos_cnt)
        self._neg_idx, self._neg_cnt = _merge_sparse(
            self._neg_idx, self._neg_cnt, other._neg_idx, other._neg_cnt)
        self.zero_count += other.zero_count
        self.collapsed = self.collapsed or other.collapsed
        self._collapse()
        return self

    # ---- estimate ------------------------------------------------------------

    @property
    def n(self) -> int:
        return int(self._pos_cnt.sum() + self._neg_cnt.sum()) + self.zero_count

    def _value(self, idx: np.ndarray) -> np.ndarray:
        # harmonic bucket midpoint: relative error <= alpha for any x in bucket
        return 2.0 * np.power(self.gamma, idx.astype(np.float64)) / (self.gamma + 1.0)

    def quantile(self, q) -> float | np.ndarray:
        """q in [0,1]; scalar or vectorized.  Walks the global value order:
        negatives (descending index = ascending value), zeros, positives."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if ((qs < 0.0) | (qs > 1.0)).any():
            raise ValueError("quantile q must be in [0, 1]")
        n = self.n
        if n == 0:
            raise ValueError("quantile of empty sketch")
        # value-ascending concatenation of (value, count)
        vals = np.concatenate([
            -self._value(self._neg_idx[::-1]),
            np.zeros(1 if self.zero_count else 0),
            self._value(self._pos_idx),
        ])
        cnts = np.concatenate([
            self._neg_cnt[::-1].astype(np.float64),
            np.asarray([self.zero_count], dtype=np.float64)[: 1 if self.zero_count else 0],
            self._pos_cnt.astype(np.float64),
        ])
        cum = np.cumsum(cnts)
        ranks = qs * (n - 1)  # paper's convention: rank in [0, n-1]
        pos = np.searchsorted(cum, ranks + 1.0, side="left")
        pos = np.minimum(pos, len(vals) - 1)
        out = vals[pos]
        return float(out[0]) if np.isscalar(q) or np.asarray(q).ndim == 0 else out

    def estimate(self) -> int:
        """Family-generic estimate() (compat.sketch_estimate): the
        exact insert count, like KLL/t-digest."""
        return self.n

    def size_bytes(self) -> int:
        return int(12 * (len(self._pos_idx) + len(self._neg_idx)) + 64)

    # ---- serialization ---------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        payload = b"".join([
            self._pos_idx.astype("<i4").tobytes(),
            self._pos_cnt.astype("<i8").tobytes(),
            self._neg_idx.astype("<i4").tobytes(),
            self._neg_cnt.astype("<i8").tobytes(),
        ])
        params = {
            "alpha": self.alpha,
            "max_bins": self.max_bins,
            "n_pos": int(len(self._pos_idx)),
            "n_neg": int(len(self._neg_idx)),
            "zero": int(self.zero_count),
            "collapsed": bool(self.collapsed),
        }
        return params, payload

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "DDSketch":
        c = cls(float(params["alpha"]), int(params["max_bins"]))
        np_, nn = int(params["n_pos"]), int(params["n_neg"])
        off = 0
        c._pos_idx = np.frombuffer(payload, "<i4", np_, off).astype(np.int32); off += 4 * np_
        c._pos_cnt = np.frombuffer(payload, "<i8", np_, off).astype(np.int64); off += 8 * np_
        c._neg_idx = np.frombuffer(payload, "<i4", nn, off).astype(np.int32); off += 4 * nn
        c._neg_cnt = np.frombuffer(payload, "<i8", nn, off).astype(np.int64)
        c.zero_count = int(params["zero"])
        c.collapsed = bool(params.get("collapsed", False))
        return c

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, DDSketch)
            and abs(self.alpha - other.alpha) < 1e-12
            and self.max_bins == other.max_bins
            and self.zero_count == other.zero_count
            and np.array_equal(self._pos_idx, other._pos_idx)
            and np.array_equal(self._pos_cnt, other._pos_cnt)
            and np.array_equal(self._neg_idx, other._neg_idx)
            and np.array_equal(self._neg_cnt, other._neg_cnt)
        )

    def __repr__(self) -> str:
        return (f"DDSketch(alpha={self.alpha}, n={self.n}, "
                f"bins={len(self._pos_idx) + len(self._neg_idx)})")


def _merge_sparse(idx_a: np.ndarray, cnt_a: np.ndarray,
                  idx_b: np.ndarray, cnt_b: np.ndarray):
    """Union two sorted sparse (index, count) stores, summing counts."""
    if len(idx_a) == 0:
        return idx_b.astype(np.int32, copy=True), cnt_b.astype(np.int64, copy=True)
    if len(idx_b) == 0:
        return idx_a, cnt_a
    allidx = np.concatenate([idx_a, idx_b])
    allcnt = np.concatenate([cnt_a.astype(np.int64), cnt_b.astype(np.int64)])
    uniq, inv = np.unique(allidx, return_inverse=True)
    out = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(out, inv, allcnt)
    return uniq.astype(np.int32), out
