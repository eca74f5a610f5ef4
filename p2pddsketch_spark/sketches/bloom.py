"""Bloom filter — mergeable set-membership sketch over token ids.

Gap-fill sketch per BASELINE.json north_rule. No false negatives;
false-positive rate ≈ (1 - e^{-kn/m})^k. Merge = bitwise OR.
Cross-checkable against Spark's `bloom_filter_agg` where available.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from p2pddsketch_spark.functions.hashing import splitmix64

_MAGIC = b"BLM1"


class BloomFilter:
    """k-hash bit array. `n_added` counts the values passed to
    `update_batch`, so it is not a property of the set: the harness feeds
    (unique, count) pairs once per stage-1 task, or per accumulator flush
    when a task's vocabulary passes its cap, so `n_added` depends on task
    and flush boundaries. `bits` does not."""

    __slots__ = ("m_bits", "k", "seed", "bits", "n_added")

    def __init__(self, m_bits: int = 1 << 20, k: int = 5, seed: int = 0) -> None:
        if m_bits % 64 != 0:
            raise ValueError("m_bits must be a multiple of 64")
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.seed = int(seed)
        self.bits = np.zeros(m_bits // 64, dtype=np.uint64)
        self.n_added = 0

    @classmethod
    def for_capacity(cls, n: int, fpp: float = 0.01, seed: int = 0) -> "BloomFilter":
        m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = ((m + 63) // 64) * 64
        k = max(1, round(m / max(n, 1) * math.log(2)))
        return cls(m_bits=m, k=k, seed=seed)

    def _bit_positions(self, values: np.ndarray) -> np.ndarray:
        """(k, n) bit indices via double hashing h1 + i*h2."""
        v = np.asarray(values).astype(np.int64).ravel()
        h1 = splitmix64(v, seed=self.seed)
        h2 = splitmix64(v, seed=self.seed + 0x51ED)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m_bits)).astype(np.int64)

    # state depends only on the summed (value, count) multiset, not on how
    # update_batch calls split it: the harness feeds it once per task
    BATCH_INVARIANT = True

    def update_batch(self, values: np.ndarray, weights=None) -> "BloomFilter":
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return self
        # sorted-unique positions + segment-OR via reduceat — much faster
        # than np.bitwise_or.at scatter on large batches
        pos = np.unique(self._bit_positions(v).ravel())
        words = pos >> 6
        masks = np.uint64(1) << (pos & 63).astype(np.uint64)
        starts = np.empty(words.size, dtype=bool)
        starts[0] = True
        starts[1:] = words[1:] != words[:-1]
        seg_starts = np.flatnonzero(starts)
        or_masks = np.bitwise_or.reduceat(masks, seg_starts)
        uw = words[seg_starts]
        self.bits[uw] |= or_masks
        self.n_added += v.size
        return self

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.m_bits, self.k, self.seed) != (other.m_bits, other.k, other.seed):
            raise ValueError("Bloom shape/seed mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_added += other.n_added
        return self

    def contains(self, values: np.ndarray) -> np.ndarray:
        """Vectorized membership test -> bool array."""
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return np.empty(0, dtype=bool)
        pos = self._bit_positions(v)  # (k, n)
        words = pos >> 6
        masks = np.uint64(1) << (pos & 63).astype(np.uint64)
        hit = (self.bits[words] & masks) != 0
        return hit.all(axis=0)

    def to_bytes(self) -> bytes:
        return struct.pack("<4sqqqq", _MAGIC, self.m_bits, self.k, self.seed, self.n_added) + \
            self.bits.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        magic, m_bits, k, seed, n_added = struct.unpack_from("<4sqqqq", data, 0)
        if magic != _MAGIC:
            raise ValueError("bad Bloom magic")
        s = cls(m_bits=int(m_bits), k=int(k), seed=int(seed))
        s.n_added = int(n_added)
        s.bits = np.frombuffer(data, dtype="<u8", count=m_bits // 64,
                               offset=struct.calcsize("<4sqqqq")).astype(np.uint64)
        return s
