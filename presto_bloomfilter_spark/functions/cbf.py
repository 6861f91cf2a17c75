"""Counting Bloom filter: membership with DELETION, distributed-first.

Fan, Cao, Almeida & Broder, "Summary Cache: A Scalable Wide-Area Web
Cache Sharing Protocol" (IEEE/ACM ToN 2000) — the classic counting
generalization of the Bloom filter: each of the k positions holds a
small COUNTER instead of a bit, so elements can be removed again.
This is the one membership capability neither the classic filter nor
the split-block sibling has (a set bit cannot be unset without false
negatives), and it is what incremental corpus maintenance needs:
"these documents were retracted — stop treating their keys as seen"
without rebuilding the filter over the surviving 10^12 keys.

Distributed-first algebra (the part the 2000 paper didn't need):
counters form a commutative monoid under saturating element-wise
ADDITION, so a CBF builds through the exact same partial/tree-merge
dataflow as every other sketch here (``SketchSpec(col, CountingBloomFilter)``).  Deletion
is the same job run backwards: aggregate a SECOND filter over the
delete-key DataFrame with identical geometry and ``subtract`` it —
one distributed build, one driver-side vector op, no per-key driver
loop.  ``subtract`` is exact multiset arithmetic: deleting keys that
were never inserted (or more times than inserted) underflows some
counter and raises loudly instead of silently corrupting membership.

Counter width is uint8 with STICKY saturation: a counter that reaches
255 never decrements again (on either subtract side).  Saturation can
only cause lingering false POSITIVES, never false negatives — the
same one-sided error contract as the plain filter.  At the classic
(n, p) geometry a counter is Poisson(k·n/m ≈ ln 2 ≈ 0.7) at capacity,
so P(counter ≥ 255) is astronomically small; the width costs 8x the
bits of a plain filter, the textbook counting trade.

Same contracts as BloomFilter otherwise: batch add/probe with None/''
ignored, geometry-checked merge, PBFS serialization (KIND_CBF),
duck-type compatible with aggregate specs, probes, semi-joins, the
store, and the SQL surface.  ``count_*`` gives the CMS-style
min-counter upper bound on an element's remaining multiplicity.
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.hashing import Inserts, Membership, km_indexes

_U64 = np.uint64
_SAT = 255
_CHUNK = 1 << 16


class CountingBloomFilter(Inserts, Membership, ser.Sketch, kind=ser.KIND_CBF):
    DEFAULT_EXPECTED_INSERTIONS = 1_000_000
    DEFAULT_FPP = 0.01

    def __init__(
        self,
        expected_insertions: int = DEFAULT_EXPECTED_INSERTIONS,
        fpp: float = DEFAULT_FPP,
        _counters: np.ndarray | None = None,
    ):
        if expected_insertions <= 0:
            raise ValueError("expected_insertions must be positive")
        if not (0.0 < fpp < 1.0):
            raise ValueError("fpp must be in (0, 1)")
        self.expected_insertions = int(expected_insertions)
        self.fpp = float(fpp)
        # classic geometry — a CBF's FPR analysis is the plain filter's
        # with "bit set" := "counter > 0"
        self.m = int(math.ceil(-expected_insertions * math.log(fpp)
                               / (math.log(2) ** 2)))
        self.k = max(1, round(self.m / expected_insertions * math.log(2)))
        if _counters is not None:
            if len(_counters) != self.m:
                raise ValueError("payload does not match geometry")
            self.counters = _counters
        else:
            self.counters = np.zeros(self.m, dtype=np.uint8)
        self.approx_items = 0  # net rows offered (adds minus removes)

    # ---- geometry / metrics -------------------------------------------------

    @property
    def size_bytes(self) -> int:
        return self.m  # one byte per counter

    @property
    def fill_ratio(self) -> float:
        return float((self.counters > 0).mean())

    def estimated_fpr(self) -> float:
        return float(self.fill_ratio ** self.k)

    def estimate(self) -> float:
        """Approximate distinct LIVE insertions from the nonzero ratio
        (the plain filter's -m/k * ln(1 - X))."""
        x = self.fill_ratio
        if x >= 1.0:
            return float("inf")
        return -self.m / self.k * math.log(1.0 - x)

    # ---- counter arithmetic -------------------------------------------------

    def _apply(self, h: np.ndarray, sign: int) -> None:
        """Saturating add (sign=+1) / exact subtract (sign=-1) of each
        element's k counter positions.  Chunked sort-based accumulation:
        no m-sized temporaries, duplicate positions (within one element
        or across a batch) counted exactly."""
        for s in range(0, len(h), _CHUNK):
            idx = km_indexes(h[s:s + _CHUNK], self.k, self.m).ravel().astype(np.int64)
            pos, cnt = np.unique(idx, return_counts=True)
            cur = self.counters[pos].astype(np.int64)
            sat = cur == _SAT  # sticky: saturated counters never move
            if sign > 0:
                self.counters[pos] = np.where(
                    sat, _SAT, np.minimum(cur + cnt, _SAT)).astype(np.uint8)
            else:
                nxt = cur - cnt
                bad = (nxt < 0) & ~sat
                if bad.any():
                    raise ValueError(
                        f"counter underflow at {int(bad.sum())} position(s) "
                        "— removing keys that were never inserted (or more "
                        "times than inserted) would create false negatives")
                self.counters[pos] = np.where(sat, _SAT, nxt).astype(np.uint8)

    def _add(self, h: np.ndarray) -> None:
        self._apply(h, +1)
        self.approx_items += len(h)

    def remove_strings(self, values) -> "CountingBloomFilter":
        """Delete a batch of previously-inserted strings; raises on
        provable misuse (underflow)."""
        return self._remove(values, False)

    def remove_ints(self, values) -> "CountingBloomFilter":
        return self._remove(values, True)

    def remove(self, value) -> "CountingBloomFilter":
        return self if value is None else self._remove([value], isinstance(value, (int, np.integer)))

    def _remove(self, values, ints: bool) -> "CountingBloomFilter":
        h, _ = self._digests(values, ints)
        self._apply(h, -1)
        self.approx_items -= len(h)
        return self

    # ---- probes -------------------------------------------------------------

    def _probe(self, h: np.ndarray) -> np.ndarray:
        out = np.empty(len(h), dtype=bool)
        for s in range(0, len(h), _CHUNK):
            idx = km_indexes(h[s:s + _CHUNK], self.k, self.m).astype(np.int64)
            out[s:s + _CHUNK] = (self.counters[idx] > 0).all(axis=0)
        return out

    def _count(self, h: np.ndarray) -> np.ndarray:
        out = np.empty(len(h), dtype=np.int32)
        for s in range(0, len(h), _CHUNK):
            idx = km_indexes(h[s:s + _CHUNK], self.k, self.m).astype(np.int64)
            out[s:s + _CHUNK] = self.counters[idx].min(axis=0)
        return out

    def count_strings(self, values) -> np.ndarray:
        """CMS-style upper bound (min over the k counters, capped at
        255) on each string's remaining multiplicity; never
        underestimates below saturation."""
        return self._answer(self._count, values, False)

    def count_ints(self, values) -> np.ndarray:
        return self._answer(self._count, values, True)

    # ---- algebra ------------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.m, self.k)

    def _merge(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        """Saturating element-wise counter addition — the multiset
        union, commutative and associative (NOT idempotent: merging a
        filter with itself doubles counts, exactly as inserting every
        element twice would)."""
        wide = self.counters.astype(np.uint16) + other.counters
        np.minimum(wide, _SAT, out=wide)
        self.counters = wide.astype(np.uint8)
        self.approx_items += other.approx_items
        return self

    def subtract(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        """Multiset difference: the distributed DELETE.  Build ``other``
        over the delete-key DataFrame with the same (n, p) and subtract
        it; underflow (deleting never-inserted keys) raises.  Counters
        saturated on EITHER side stay saturated here (their true count
        is unknown; sticky keeps the no-false-negative contract)."""
        self._check_combinable(other)
        sat = (self.counters == _SAT) | (other.counters == _SAT)
        nxt = self.counters.astype(np.int16) - other.counters
        bad = (nxt < 0) & ~sat
        if bad.any():
            raise ValueError(
                f"counter underflow at {int(bad.sum())} position(s) — the "
                "delete set is not contained in the inserted multiset")
        self.counters = np.where(sat, np.uint8(_SAT),
                                 nxt.astype(np.uint8))
        self.approx_items -= other.approx_items
        return self

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        params = {"n": self.expected_insertions, "p": self.fpp, "items": self.approx_items}
        return params, self.counters.tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "CountingBloomFilter":
        sk = cls(params["n"], params["p"],
                 _counters=np.frombuffer(payload, np.uint8).copy())
        sk.approx_items = int(params.get("items", 0))
        return sk

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountingBloomFilter)
            and self.m == other.m
            and self.k == other.k
            and bool(np.array_equal(self.counters, other.counters))
        )

    def __repr__(self) -> str:
        return (f"CountingBloomFilter(n={self.expected_insertions}, "
                f"p={self.fpp}, m={self.m}, k={self.k}, "
                f"fill={self.fill_ratio:.4f})")
