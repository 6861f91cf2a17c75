"""Vectorized hashing primitives shared by all sketch cores.

The reference hashes elements with murmur3 under a Kirsch-Mitzenmacher
double-hashing scheme (``g_i(x) = h1(x) + i*h2(x) mod m``; reference:
src/main/java/com/facebook/presto/bloomfilter/BloomFilter.java:298-304).
We keep the *scheme* (two 64-bit base hashes expanded to k indexes) but
pick hash functions that vectorize in numpy/pandas with zero per-row
Python:

- strings / bytes: ``pandas.util.hash_pandas_object`` (C-implemented
  SipHash-like 64-bit hash with a fixed key, deterministic across
  processes and machines);
- integer arrays (token ids): splitmix64 finalizer, pure numpy uint64
  arithmetic.

Both produce one uint64 per element; a second independent 64-bit hash is
derived by a different splitmix64 round constant, which is the standard
"two hashes from one" construction the Kirsch-Mitzenmacher analysis
permits.

The key rule
------------
Every hash sketch turns a batch of keys into digests through
:func:`key_digests`, so a key hashes alike whichever kind, method or
input form (Arrow, numpy, pandas, list) it arrives through:

- an integer key hashes with :func:`hash_ints64` (every int width
  alike); a floating array is refused, never truncated;
- a string key hashes with :func:`hash_strings64` over its characters;
- NULL is never a key: it is not inserted, it probes False and it
  estimates 0;
- ``''`` is a key of the counting sketches and not of the membership
  filters, which ignore zero-length elements as the reference does
  (BloomFilter.java:161-167):

  =============================================  ============
  kind                                           ``''`` a key
  =============================================  ============
  bloom, split-block bloom, counting bloom, xor  no
  HLL, theta, count-min, count-sketch            yes
  =============================================  ============

:class:`HashKeys` and its subclasses write the public batch methods
(``add_*``, ``might_contain_*``, ``estimate_*``) once over each kind's
digest kernels, and :func:`takes_counts` is the one rule for which
sketches take a multiplicity per key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_U64 = np.uint64

# splitmix64 constants (Steele et al., public domain reference impl)
_SM_GAMMA = _U64(0x9E3779B97F4A7C15)
_SM_M1 = _U64(0xBF58476D1CE4E5B9)
_SM_M2 = _U64(0x94D049BB133111EB)
# a second, independent stream offset for deriving h2 from the same input
_H2_SEED = _U64(0xD6E8FEB86659FD93)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += _SM_GAMMA
        x ^= x >> _U64(30)
        x *= _SM_M1
        x ^= x >> _U64(27)
        x *= _SM_M2
        x ^= x >> _U64(31)
    return x


def hash_ints64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash an integer array (any int dtype) to uint64, vectorized.

    Floating input raises: the classic trap is a nullable int column
    that Arrow→pandas silently converted to float64 — NaN would cast
    to INT64_MIN garbage and ids above 2^53 have ALREADY lost
    precision, so hashing the cast-back would produce silent bloom
    false negatives.  Drop the NULLs while the column is still Arrow
    and keep it integral (``hash_dispatch`` in operators/aggregate.py
    does this for both build and probe).
    """
    x = np.asarray(values)
    if x.dtype.kind == "f":
        raise ValueError(
            "hash_ints64 got a floating array (nullable-int column "
            "converted to float64?) — NaN and >2^53 values corrupt "
            "silently; pass an integer array")
    x = x.astype(np.int64, copy=False).view(np.uint64)
    if seed:
        with np.errstate(over="ignore"):
            x = x + _U64(seed & 0xFFFFFFFFFFFFFFFF) * _SM_GAMMA
    return splitmix64(x)


def hash_strings64(values, seed: int = 0) -> np.ndarray:
    """Hash a string/bytes sequence (an Arrow array among them) to
    uint64, vectorized via pandas.

    ``pd.util.hash_pandas_object`` uses a fixed internal key, so results
    are stable across Python processes (unlike builtin ``hash``).  Each
    value is hashed on its own (``categorize=False``): the categorizing
    path factorizes strings as C strings, so within one batch every
    string that agrees up to its first NUL got the first one's hash.
    """
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        # to_numpy makes one str per value; to_pandas would also
        # deduplicate them, which costs ~5x the conversion
        values = values.to_numpy(zero_copy_only=False)
    s = values if isinstance(values, pd.Series) else pd.Series(values, dtype=object)
    h = pd.util.hash_pandas_object(s, index=False, categorize=False).to_numpy(dtype=np.uint64)
    if seed:
        with np.errstate(over="ignore"):
            h = h + _U64(seed & 0xFFFFFFFFFFFFFFFF) * _SM_GAMMA
        h = splitmix64(h)
    return h


def double_hash(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Derive (h1, h2) for Kirsch-Mitzenmacher from one uint64 hash."""
    h1 = h
    with np.errstate(over="ignore"):
        h2 = splitmix64(h ^ _H2_SEED)
        h2 = h2 | _U64(1)  # force odd so h2 never collapses the probe walk
    return h1, h2


def km_indexes(h: np.ndarray, k: int, m: int) -> np.ndarray:
    """Kirsch-Mitzenmacher index expansion.

    Returns a (k, len(h)) uint64 array of bit positions in [0, m);
    mirrors the reference's Murmur3KirschMitzenmacher scheme
    (reference BloomFilter.java:298-304) without per-element loops.
    """
    h1, h2 = double_hash(h)
    out = np.empty((k, len(h)), dtype=np.uint64)
    acc = h1.copy()
    mm = _U64(m)
    # in-place accumulation: same values as h1 + i*h2 (mod 2^64) but no
    # (k, n) uint64 temporaries — keeps the hot path memory-bandwidth bound
    with np.errstate(over="ignore"):
        for i in range(k):
            if i:
                acc += h2
            np.mod(acc, mm, out=out[i])
    return out


# ---- the key rule ------------------------------------------------------------


def key_digests(values, ints: bool, skip_empty: bool = False
                ) -> tuple[np.ndarray, np.ndarray | None]:
    """The key rule (module docstring): ``(digests, keys)`` of one
    batch, ``digests`` the uint64 hashes of its keys in batch order and
    ``keys`` the bool mask of the positions that hold a key, None when
    every position does.

    ``values`` is an Arrow array (integer, string, large_string or a
    dictionary of string), a numpy array, a pandas Series or a list.
    ``ints`` picks :func:`hash_ints64`, else :func:`hash_strings64`.
    NULL is never a key; with ``skip_empty`` neither is ``''``."""
    if ints and isinstance(values, np.ndarray) and values.dtype != object:
        return hash_ints64(values), None  # no NULL fits in this array
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    arr = values if isinstance(values, pa.Array) else pa.array(values, from_pandas=True)
    if pa.types.is_dictionary(arr.type):
        arr = arr.dictionary_decode()
    keys = arr.is_valid()
    if skip_empty and not ints and keys.true_count:
        keys = pc.fill_null(pc.greater(pc.binary_length(arr), 0), False)
    mask = None
    if keys.true_count < len(arr):
        arr, mask = arr.filter(keys), keys.to_numpy(zero_copy_only=False)
    if ints:
        return hash_ints64(arr.to_numpy(zero_copy_only=False)), mask
    return hash_strings64(arr), mask


def scatter(answers: np.ndarray, keys: np.ndarray | None) -> np.ndarray:
    """Per-key ``answers`` spread back over the batch ``keys`` (a mask
    from :func:`key_digests`) came from; a position holding no key
    answers 0 (False)."""
    if keys is None:
        return answers
    out = np.zeros(len(keys), dtype=answers.dtype)
    out[keys] = answers
    return out


def takes_counts(sketch) -> bool:
    """Whether ``sketch.add_ints(values, counts=...)`` takes a
    multiplicity per key: the one rule the token accumulator and
    ``MultiSketch`` read to pass counts on."""
    return getattr(sketch, "takes_counts", False)


def _is_int(value) -> bool:
    return isinstance(value, (int, np.integer))


class HashKeys:
    """The public key methods of the hash sketches, written once over
    each kind's digest kernels: ``_add(h)`` (``_add(h, counts)`` when
    ``takes_counts``), ``_probe(h)`` and ``_estimate(h)`` take the
    uint64 digests :func:`key_digests` makes.  ``skips_empty`` marks
    the membership filters, for which ``''`` is not a key."""

    skips_empty = False
    takes_counts = False

    def _digests(self, values, ints: bool):
        return key_digests(values, ints, self.skips_empty)

    def _answer(self, kernel, values, ints: bool) -> np.ndarray:
        h, keys = self._digests(values, ints)
        return scatter(kernel(h), keys)

    def _insert(self, values, ints: bool, counts=None):
        h, keys = self._digests(values, ints)
        if not self.takes_counts:
            self._add(h)
        elif counts is None:
            self._add(h, np.ones(len(h), dtype=np.int64))
        else:
            c = np.asarray(counts, dtype=np.int64)
            self._add(h, c if keys is None else c[keys])
        return self


class Inserts(HashKeys):
    def add_strings(self, values):
        """Insert a batch of string keys."""
        return self._insert(values, False)

    def add_ints(self, values):
        """Insert a batch of integer keys (e.g. token ids)."""
        return self._insert(values, True)

    def add(self, value):
        """Insert one key (tests, interactive use)."""
        return self if value is None else self._insert([value], _is_int(value))


class CountedInserts(Inserts):
    """Inserts with a multiplicity per key, and per-key estimates."""

    takes_counts = True

    def add_strings(self, values, counts=None):
        """Insert a batch of string keys, ``counts`` times each (once
        when None)."""
        return self._insert(values, False, counts)

    def add_ints(self, values, counts=None):
        """Insert a batch of integer keys, ``counts`` times each (once
        when None)."""
        return self._insert(values, True, counts)

    def estimate_strings(self, values) -> np.ndarray:
        """Estimated count of each string key (0 for NULL)."""
        return self._answer(self._estimate, values, False)

    def estimate_ints(self, values) -> np.ndarray:
        """Estimated count of each integer key (0 for NULL)."""
        return self._answer(self._estimate, values, True)


class Membership(HashKeys):
    skips_empty = True

    def might_contain_strings(self, values) -> np.ndarray:
        """Vectorized membership probe; NULL and '' probe False
        (reference BloomFilterContainsScalarFunction.java:33-42)."""
        return self._answer(self._probe, values, False)

    def might_contain_ints(self, values) -> np.ndarray:
        """Vectorized membership probe of integer keys; NULL probes False."""
        return self._answer(self._probe, values, True)

    def might_contain(self, value) -> bool:
        """Membership of one key (tests, interactive use)."""
        return value is not None and bool(
            self._answer(self._probe, [value], _is_int(value))[0])
