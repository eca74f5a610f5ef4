"""Count-min sketch (Cormode & Muthukrishnan 2005) — mergeable point
frequency estimator for heavy-hitter queries over token ids.

Gap-fill sketch per BASELINE.json north_rule; same zero → update_batch →
merge algebra as the rest of the library. Estimates over-count only:
f̂(x) ≥ f(x), with P[f̂(x) > f(x) + εN] ≤ δ for width ⌈e/ε⌉, depth ⌈ln 1/δ⌉.
"""

from __future__ import annotations

import struct

import numpy as np

from p2pddsketch_spark.functions.hashing import splitmix64

_MAGIC = b"CMS1"


class CountMinSketch:
    __slots__ = ("depth", "width", "seed", "table", "total")

    # state depends only on the summed (value, count) multiset, not on how
    # update_batch calls split it: the harness feeds it once per task
    BATCH_INVARIANT = True

    def __init__(self, depth: int = 5, width: int = 16384, seed: int = 0) -> None:
        if depth < 1 or width < 2:
            raise ValueError("depth >= 1 and width >= 2 required")
        self.depth = int(depth)
        self.width = int(width)
        self.seed = int(seed)
        self.table = np.zeros((depth, width), dtype=np.int64)
        self.total = 0

    def _rows_cols(self, values: np.ndarray) -> np.ndarray:
        v = np.asarray(values).astype(np.int64).ravel()
        cols = np.empty((self.depth, v.size), dtype=np.int64)
        for d in range(self.depth):
            cols[d] = (splitmix64(v, seed=self.seed * 1000003 + d) % np.uint64(self.width)).astype(np.int64)
        return cols

    def update_batch(self, values: np.ndarray, weights: np.ndarray | None = None) -> "CountMinSketch":
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return self
        w = np.ones(v.size, dtype=np.float64) if weights is None else np.asarray(weights, dtype=np.float64).ravel()
        cols = self._rows_cols(v)
        for d in range(self.depth):
            # bincount is ~10× faster than np.add.at; float64 sums are exact
            # for counts < 2^53
            self.table[d] += np.bincount(cols[d], weights=w, minlength=self.width).astype(np.int64)
        self.total += int(w.sum())
        return self

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.depth, self.width, self.seed) != (other.depth, other.width, other.seed):
            raise ValueError("CMS shape/seed mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def estimate(self, values: np.ndarray) -> np.ndarray:
        """Vectorized point-frequency estimates (min over depth rows)."""
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return np.empty(0, dtype=np.int64)
        cols = self._rows_cols(v)
        ests = np.stack([self.table[d, cols[d]] for d in range(self.depth)])
        return ests.min(axis=0)

    def to_bytes(self) -> bytes:
        return struct.pack("<4sqqqq", _MAGIC, self.depth, self.width, self.seed, self.total) + \
            self.table.astype("<i8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        magic, depth, width, seed, total = struct.unpack_from("<4sqqqq", data, 0)
        if magic != _MAGIC:
            raise ValueError("bad CMS magic")
        s = cls(depth=int(depth), width=int(width), seed=int(seed))
        s.total = int(total)
        s.table = np.frombuffer(data, dtype="<i8", count=depth * width,
                                offset=struct.calcsize("<4sqqqq")).reshape(depth, width).astype(np.int64)
        return s
