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
"""

from __future__ import annotations

import numpy as np
import pandas as pd

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
    """Hash a string/bytes sequence to uint64, vectorized via pandas.

    ``pd.util.hash_pandas_object`` uses a fixed internal key, so results
    are stable across Python processes (unlike builtin ``hash``).  Each
    value is hashed on its own (``categorize=False``): the categorizing
    path factorizes strings as C strings, so within one batch every
    string that agrees up to its first NUL got the first one's hash.
    """
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
