"""Misra–Gries frequent-items summary, numpy-vectorized and mergeable.

Sibling sketch per the north rule's "approximate-aggregation library":
where CMS answers point-frequency queries with ``w x d`` counters and a
probabilistic (eps, delta) bound, Misra–Gries keeps AT MOST ``k``
exact (item, count) pairs and gives the DETERMINISTIC guarantee

    true(x) - k/(k+1)-trimmed deficit  <=  est(x)  <=  true(x)
    true(x) - est(x)  <=  (n - S) / (k + 1)  <=  n / (k + 1)

where n is the total inserted weight and S the summary's retained
weight — so every item with true count > n/(k+1) is PRESENT in the
summary, which is exactly the heavy-hitter candidate-generation
contract the two-phase ``top_k_tokens`` dataflow needs, at k counters
instead of CMS's e/eps-wide table.

Merge is the Agarwal, Cormode, Huang, Phillips, Vesely & Yi
"Mergeable Summaries" (PODS 2012 / JACM 2013 §3.2) construction:
add the counter multisets, and if more than k survive, subtract the
(k+1)-th largest count from every counter and drop the non-positive
ones.  Each trim of size m removes >= m*(k+1) retained weight (the
k+1 largest counters all lose exactly m), so the cumulative
undercount telescopes to (n - S)/(k+1) — the bound above holds after
ANY merge tree, which is what makes the summary safe in the partial →
tree-merge dataflow of operators/aggregate.py.

Batch updates are group-sums over numpy arrays (np.unique + bincount);
no per-item Python in the hot path.  State lives as two parallel
arrays (items, counts) sorted by item; dicts appear only in the params
JSON, never in the update loop.

Reference tie-in: the reference's only sketch is the Bloom filter
(BloomFilter.java); MG is one of the north-rule "sketch siblings"
(SURVEY.md §2.1 tail) sharing the same mergeable-UDAF algebra and the
PBFS wire contract (functions/serialization.py).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from presto_bloomfilter_spark.functions import serialization as ser


class MisraGries(ser.Sketch, kind=ser.KIND_MG):
    DEFAULT_K = 4096

    def __init__(self, k: int = DEFAULT_K,
                 _items: np.ndarray | None = None,
                 _counts: np.ndarray | None = None):
        if not 1 <= k <= 1 << 24:
            raise ValueError("k must be in [1, 2^24]")
        self.k = int(k)
        self.n = 0  # total inserted weight
        # item_type pins the key domain on first insert ('str' | 'int');
        # mixing domains in one summary would make np.unique compare
        # across types and the serialized layout ambiguous — fail loud.
        self.item_type: str | None = None
        self._items = _items if _items is not None else np.empty(0, object)
        self._counts = (_counts if _counts is not None
                        else np.empty(0, np.int64))

    @property
    def size_bytes(self) -> int:
        payload = self._counts.nbytes
        if self.item_type == "int":
            payload += 8 * len(self._items)
        else:
            payload += sum(len(s.encode()) + 4 for s in self._items)
        return payload + 16

    # ---- updates ------------------------------------------------------------

    def _pin_type(self, t: str) -> None:
        if self.item_type is None:
            self.item_type = t
        elif self.item_type != t:
            raise ValueError(
                f"summary holds {self.item_type} items, got {t}")

    def _combine(self, items: np.ndarray, counts: np.ndarray) -> None:
        """Group-sum (existing ∪ batch) then trim to k counters — the
        PODS'12 merge step, shared by add and merge."""
        if len(self._items):
            items = np.concatenate([self._items, items])
            counts = np.concatenate([self._counts, counts])
        uniq, inv = np.unique(items, return_inverse=True)
        sums = np.bincount(inv, weights=counts.astype(np.float64))
        # weights go through float64; counts are bounded by n < 2^53 so
        # the round trip is exact
        sums = sums.astype(np.int64)
        if len(uniq) > self.k:
            m = np.partition(sums, len(sums) - self.k - 1)[
                len(sums) - self.k - 1]
            keep = sums > m
            uniq, sums = uniq[keep], sums[keep] - m
        self._items, self._counts = uniq, sums

    def add_strings(self, values: pd.Series) -> "MisraGries":
        """Insert a batch of strings; nulls are skipped (the reference's
        null handling, BloomFilterAggregation.java input function)."""
        s = pd.Series(values).dropna()
        if not len(s):
            return self
        self._pin_type("str")
        vc = s.value_counts(sort=False)
        self._combine(vc.index.to_numpy(dtype=object),
                      vc.to_numpy(np.int64))
        self.n += int(len(s))
        return self

    def add_ints(self, values) -> "MisraGries":
        x = np.asarray(values)
        if x.dtype.kind == "f":
            raise TypeError("add_ints got floats — cast or use a CMS")
        x = x.astype(np.int64, copy=False)
        if not x.size:
            return self
        self._pin_type("int")
        uniq, cnt = np.unique(x, return_counts=True)
        self._combine(uniq, cnt.astype(np.int64))
        self.n += int(x.size)
        return self

    # ---- merge --------------------------------------------------------------

    def _geometry(self) -> tuple:
        return (self.k,)

    def _merge(self, other: "MisraGries") -> "MisraGries":
        if other.item_type is not None:
            if self.item_type is None:
                self.item_type = other.item_type
                self._items = self._items.astype(other._items.dtype)
            elif self.item_type != other.item_type:
                raise ValueError(
                    f"item-type mismatch: {self.item_type} vs "
                    f"{other.item_type}")
            if len(other._items):
                self._combine(other._items, other._counts)
        self.n += other.n
        return self

    # ---- queries ------------------------------------------------------------

    def estimate(self) -> int:
        """Total inserted weight (common-algebra estimate(), like CMS)."""
        return self.n

    def error_bound(self) -> int:
        """Max undercount of any single item: (n - S) // (k + 1).
        Deterministic — every trim of size m removed >= m*(k+1) weight."""
        return (self.n - int(self._counts.sum())) // (self.k + 1)

    def _lookup(self, keys: np.ndarray) -> np.ndarray:
        if not len(self._items):
            return np.zeros(len(keys), np.int64)
        # _items is np.unique output — sorted — so searchsorted works
        pos = np.searchsorted(self._items, keys)
        pos = np.clip(pos, 0, len(self._items) - 1)
        hit = self._items[pos] == keys
        return np.where(hit, self._counts[pos], 0).astype(np.int64)

    def estimate_strings(self, values: pd.Series) -> np.ndarray:
        """Lower-bound counts; true(x) - est <= error_bound()."""
        if self.item_type not in (None, "str"):
            raise ValueError("summary holds int items")
        return self._lookup(pd.Series(values).to_numpy(dtype=object))

    def estimate_ints(self, values) -> np.ndarray:
        if self.item_type not in (None, "int"):
            raise ValueError("summary holds str items")
        return self._lookup(np.asarray(values).astype(np.int64, copy=False))

    def topk(self, j: int) -> list[tuple[object, int]]:
        """Top-j retained items by estimated count (desc), ties by item
        (asc) — deterministic across merge orders of the same data only
        when counts are past the error bound; callers wanting exactness
        should re-count candidates (the two-phase pattern)."""
        if not len(self._items):
            return []
        order = np.lexsort((self._items, -self._counts))[:j]
        return [(self._items[i].item() if self.item_type == "int"
                 else str(self._items[i]), int(self._counts[i]))
                for i in order]

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        head = struct.pack("<qq", self.n, len(self._items))
        counts = self._counts.tobytes()
        if self.item_type == "int":
            keys = self._items.astype(np.int64).tobytes()
        else:
            enc = [s.encode() for s in self._items]
            keys = (np.array([len(b) for b in enc], np.uint32).tobytes()
                    + b"".join(enc))
        return {"k": self.k, "item_type": self.item_type}, head + counts + keys

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "MisraGries":
        n, m = struct.unpack_from("<qq", payload)
        counts = np.frombuffer(payload, np.int64, m, 16).copy()
        body = payload[16 + 8 * m:]
        t = params.get("item_type")
        if t == "int":
            items = np.frombuffer(body, np.int64, m).copy()
        elif m:
            lens = np.frombuffer(body, np.uint32, m)
            blob = body[4 * m:]
            ends = np.cumsum(lens.astype(np.int64))
            items = np.array(
                [blob[e - int(ln):e].decode()
                 for e, ln in zip(ends, lens)], object)
        else:
            items = np.empty(0, object)
        c = cls(int(params["k"]), _items=items, _counts=counts)
        c.n, c.item_type = int(n), t
        return c

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MisraGries)
            and (self.k, self.n, self.item_type)
            == (other.k, other.n, other.item_type)
            and bool(np.array_equal(self._items, other._items))
            and bool(np.array_equal(self._counts, other._counts))
        )

    def __repr__(self) -> str:
        return (f"MisraGries(k={self.k}, n={self.n}, "
                f"items={len(self._items)})")
