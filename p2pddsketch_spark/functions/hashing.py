"""Vectorized 64-bit hashing for sketch updates.

splitmix64 (public-domain finalizer, Steele et al. 2014) over numpy
uint64 arrays — the common hash for HLL / count-min / Bloom / MinHash so
every sketch sees identical, deterministic, seedable hashes with zero
per-row Python.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray, seed: int = 0) -> np.ndarray:
    """Vectorized splitmix64 of int64/uint64 array -> uint64 array."""
    with np.errstate(over="ignore"):
        z = (np.asarray(x).astype(np.uint64) + _U64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF) + _U64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


def nlz64(w: np.ndarray) -> np.ndarray:
    """Vectorized count of leading zeros of uint64 (64 for w == 0)."""
    w = w.astype(np.uint64)
    n = np.full(w.shape, 64, dtype=np.int64)
    nz = w != 0
    if nz.any():
        # binary-search clz with masks, branch-free per lane
        x = w[nz]
        c = np.zeros(x.shape, dtype=np.int64)
        for shift in (32, 16, 8, 4, 2, 1):
            mask = x >> np.uint64(64 - shift) == 0
            c = np.where(mask, c + shift, c)
            x = np.where(mask, x << np.uint64(shift), x)
        n[nz] = c
    return n
