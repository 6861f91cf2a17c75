"""Xor filter: static membership at ~9.84 bits/key (fp_bits=8).

Graf & Lemire, "Xor Filters: Faster and Smaller Than Bloom and Cuckoo
Filters" (ACM JEA 2020, arXiv:1912.08258).  A key k maps to three cells
(one per segment third) plus an ``fp_bits``-bit fingerprint; the filter
stores a cell array B such that for every inserted key

    fingerprint(k) == B[h0(k)] ^ B[h1(k)] ^ B[h2(k)]

so membership is three loads and two xors with FPR ~= 2^-fp_bits and
NO false negatives.  Space is 3*seglen cells with 3*seglen ~= 1.23*n —
9.84 bits/key at fp_bits=8 vs a classic Bloom's 14.4 bits/key at the
nearby 1% FPR (n log2(1/p)*1.44), and ~32% less than Bloom at EQUAL
FPR for any p.

The trade: construction needs the COMPLETE key set at once (hypergraph
peeling), so the filter is STATIC — no incremental add, and ``merge``
raises loudly.  That makes it the wrong shape for the mergeable-UDAF
dataflow (use Bloom/SBBF there) and exactly the right shape for the
pipeline's *frozen* key sets: eval-set contamination probes, stopword /
blocklist membership, a completed crawl snapshot's doc-id set.  The
distributed build (operators/staticfilter.py) shards the key space so
each executor peels one bounded shard.

Construction here is fully vectorized round-based peeling, no per-key
Python:

- count + xor-of-key-index accumulators per cell (``np.bincount`` /
  ``np.bitwise_xor.at``);
- each round peels EVERY currently-singleton cell at once (a cell with
  count 1 holds exactly the key index its xor accumulator reads);
- assignment replays rounds in reverse, vectorized per round.  Within
  one round all assignments are independent, and across rounds every
  cell a key reads was finalized by a LATER-peeled key: if key k was
  still unpeeled when cell c became j's singleton, k cannot occupy c —
  so reverse-round order is a valid topological order of the peel
  stack (the same argument as the paper's stack replay, batched).

Measured build throughput ~1M keys/s/core (numpy round-based peeling;
~60 rounds at n=4M, later rounds scan only touched cells) — a one-time
cost per frozen key set, parallelized across shards by
operators/staticfilter.py; probes are three gathers + two xors, far
cheaper than the classic filter's k scattered bit reads.

Peeling fails with probability ~O(1/n) at capacity 1.23n+32; the seed
is re-derived deterministically (splitmix64 of the attempt index) and
construction retried, so a rebuilt filter over the same key SET is
byte-identical — the task-retry determinism the rest of the library
guarantees.

Reference parity note: the reference repo has only the classic filter
(BloomFilter.java); this sibling exists for the static-key-set niche,
same rationale as the SBBF/CBF variants (SURVEY.md §2 sketch siblings).
"""

from __future__ import annotations

import math

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.hashing import (
    Inserts,
    Membership,
    key_digests,
    splitmix64,
)

_U64 = np.uint64
_FP_DTYPES = {8: np.uint8, 16: np.uint16, 32: np.uint32}
_MAX_ATTEMPTS = 64


def _rotl(h: np.ndarray, r: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return (h << _U64(r)) | (h >> _U64(64 - r))


def _positions(h: np.ndarray, seglen: int) -> np.ndarray:
    """(n, 3) cell indices: one multiply-shift-reduced 32-bit slice of
    the mixed hash per segment third (the paper's h0/h1/h2 layout)."""
    out = np.empty((len(h), 3), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i, rot in enumerate((0, 21, 42)):
            r = _rotl(h, rot) & _U64(0xFFFFFFFF)
            out[:, i] = ((r * _U64(seglen)) >> _U64(32)).astype(np.int64) + i * seglen
    return out


def _fingerprints(h: np.ndarray, dtype) -> np.ndarray:
    with np.errstate(over="ignore"):
        return (h ^ (h >> _U64(32))).astype(dtype)


def _seed_for(attempt: int) -> int:
    return int(splitmix64(np.array([attempt + 1], dtype=_U64))[0])


class XorFilter(Membership, ser.Sketch, kind=ser.KIND_XOR):
    """Static xor filter over 64-bit key digests (the library's shared
    key rule, ``hashing.key_digests``, same as BloomFilter)."""

    def __init__(self, fp_bits: int, seglen: int, seed: int,
                 cells: np.ndarray, n_keys: int):
        if fp_bits not in _FP_DTYPES:
            raise ValueError(f"fp_bits must be one of {sorted(_FP_DTYPES)}")
        if len(cells) != 3 * seglen:
            raise ValueError("payload does not match geometry")
        self.fp_bits = int(fp_bits)
        self.seglen = int(seglen)
        self.seed = int(seed)
        self.cells = cells
        self.n_keys = int(n_keys)

    # ---- construction -------------------------------------------------------

    @classmethod
    def build_digests(cls, digests: np.ndarray, fp_bits: int = 8) -> "XorFilter":
        """Build from uint64 key digests; duplicates are deduped (the
        key SET defines the filter, so rebuilds are byte-identical)."""
        if fp_bits not in _FP_DTYPES:
            raise ValueError(f"fp_bits must be one of {sorted(_FP_DTYPES)}")
        dtype = _FP_DTYPES[fp_bits]
        keys = np.unique(np.asarray(digests, dtype=_U64))
        n = len(keys)
        seglen = max(1, -(-(32 + math.ceil(1.23 * n)) // 3))
        capacity = 3 * seglen
        for attempt in range(_MAX_ATTEMPTS):
            seed = _seed_for(attempt)
            with np.errstate(over="ignore"):
                h = splitmix64(keys ^ _U64(seed))
            pos = _positions(h, seglen)
            order, cell_of, bounds = cls._peel(pos, n, capacity)
            if order is None:
                continue
            cells = np.zeros(capacity, dtype=dtype)
            fps = _fingerprints(h, dtype)
            # reverse-round replay: see module docstring for why every
            # B[] a key reads here is already final
            for s, e in reversed(bounds):
                k = order[s:e]
                v = fps[k] ^ cells[pos[k, 0]] ^ cells[pos[k, 1]] ^ cells[pos[k, 2]]
                cells[cell_of[s:e]] = v
            return cls(fp_bits, seglen, seed, cells, n)
        raise RuntimeError(
            f"xor filter peeling failed {_MAX_ATTEMPTS} times for n={n} "
            f"(capacity {capacity}) — astronomically unlikely; corrupt digests?")

    @staticmethod
    def _peel(pos: np.ndarray, n: int, capacity: int):
        """Round-based batched peeling.  Returns (order, cell_of,
        round_bounds) with keys in peel order, or (None, None, None) if
        the 3-hypergraph has a 2-core (retry with a new seed)."""
        cnt = np.bincount(pos.ravel(), minlength=capacity).astype(np.int64)
        acc = np.zeros(capacity, dtype=_U64)
        idx = np.arange(n, dtype=_U64)
        np.bitwise_xor.at(acc, pos.ravel(), np.repeat(idx, 3))
        order = np.empty(n, dtype=np.int64)
        cell_of = np.empty(n, dtype=np.int64)
        bounds: list[tuple[int, int]] = []
        done = 0
        touched = None  # cells updated last round; None = scan everything
        while done < n:
            # a NEW singleton can only appear in a cell some removal
            # touched (an old one was peeled the round it appeared), so
            # rounds after the first scan O(|touched|), not O(capacity).
            # np.unique keeps `singles` in the same ascending order a
            # full flatnonzero scan yields, so the peel schedule — and
            # therefore the finished filter bytes — is unchanged.
            if touched is None:
                singles = np.flatnonzero(cnt == 1)
            else:
                cand = np.unique(touched)
                singles = cand[cnt[cand] == 1]
            if len(singles) == 0:
                return None, None, None
            kidx = acc[singles].astype(np.int64)
            # one key can be the sole occupant of 2-3 cells at once:
            # keep one (cell, key) pair per key
            uk, first = np.unique(kidx, return_index=True)
            order[done:done + len(uk)] = uk
            cell_of[done:done + len(uk)] = singles[first]
            bounds.append((done, done + len(uk)))
            done += len(uk)
            p = pos[uk].ravel()
            # buffered bincount beats the unbuffered .at ufunc ~5x when
            # the update set is a sizable fraction of the table
            if len(p) * 8 > capacity:
                cnt -= np.bincount(p, minlength=capacity)
            else:
                np.subtract.at(cnt, p, 1)
            np.bitwise_xor.at(acc, p, np.repeat(uk.astype(_U64), 3))
            touched = p
        return order, cell_of, bounds

    @classmethod
    def build_strings(cls, values, fp_bits: int = 8) -> "XorFilter":
        return cls.build_digests(key_digests(values, False, cls.skips_empty)[0], fp_bits)

    @classmethod
    def build_ints(cls, values, fp_bits: int = 8) -> "XorFilter":
        return cls.build_digests(key_digests(values, True)[0], fp_bits)

    # ---- probes -------------------------------------------------------------

    def _probe(self, digests: np.ndarray) -> np.ndarray:
        if self.n_keys == 0:
            return np.zeros(len(digests), dtype=bool)
        with np.errstate(over="ignore"):
            h = splitmix64(np.asarray(digests, dtype=_U64) ^ _U64(self.seed))
        pos = _positions(h, self.seglen)
        fp = _fingerprints(h, self.cells.dtype)
        got = self.cells[pos[:, 0]] ^ self.cells[pos[:, 1]] ^ self.cells[pos[:, 2]]
        return got == fp

    # ---- introspection / algebra --------------------------------------------

    @property
    def size_bytes(self) -> int:
        return self.cells.nbytes

    @property
    def bits_per_key(self) -> float:
        return 8.0 * self.cells.nbytes / self.n_keys if self.n_keys else 0.0

    def false_positive_rate(self) -> float:
        return 2.0 ** -self.fp_bits

    def _geometry(self) -> tuple:
        return ()  # no two xor filters merge: _merge refuses every pair

    def _merge(self, other) -> "XorFilter":
        raise TypeError(
            "XorFilter is a STATIC filter — the peeling construction needs "
            "the complete key set, so there is no union merge.  Rebuild over "
            "the unioned keys, or use BloomFilter/SplitBlockBloomFilter for "
            "mergeable membership.")

    # ---- serialization ------------------------------------------------------

    def _state(self) -> tuple[dict, bytes]:
        params = {"fp_bits": self.fp_bits, "seglen": self.seglen,
                  "seed": self.seed, "n_keys": self.n_keys}
        return params, self.cells.tobytes()

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "XorFilter":
        dtype = _FP_DTYPES[int(params["fp_bits"])]
        return cls(int(params["fp_bits"]), int(params["seglen"]),
                   int(params["seed"]),
                   np.frombuffer(payload, dtype).copy(),
                   int(params["n_keys"]))

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, XorFilter)
            and self.fp_bits == other.fp_bits
            and self.seglen == other.seglen
            and self.seed == other.seed
            and bool(np.array_equal(self.cells, other.cells))
        )


class _XorKeyCollector(Inserts):
    """The build state of one distributed XorFilter: ``add_ints`` /
    ``add_strings`` (fed by ``operators.aggregate.hash_dispatch``, so a
    column hashes as it probes) collect key digests, and ``to_bytes`` is
    the filter peeled over them.  The peel needs every key at once, so
    a build folds exactly one collector per filter (no merge)."""

    skips_empty = XorFilter.skips_empty

    def __init__(self, fp_bits: int = 8):
        self.fp_bits = fp_bits
        self._parts: list[np.ndarray] = [np.empty(0, _U64)]

    def _add(self, h: np.ndarray) -> None:
        self._parts.append(h)

    def finish(self) -> XorFilter:
        return XorFilter.build_digests(np.concatenate(self._parts), self.fp_bits)

    def to_bytes(self) -> bytes:
        return self.finish().to_bytes()
