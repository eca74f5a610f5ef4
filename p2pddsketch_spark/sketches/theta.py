"""KMV/Theta sketch (Bar-Yossef et al. 2002; Dasgupta et al. 2016) —
distinct counting WITH set operations: union, intersection, difference
cardinality estimates across sketches. HLL can only union; theta
sketches make "how many token ids do web and code share?" answerable
from two 8 KB summaries.

State: the k minimum 64-bit hash values (uniform on [0, 2^64)), plus
theta = k-th minimum once full. Estimate: (k−1) / (theta / 2^64).
Union: merge min-sets. Intersection: |A∩B restricted to hashes <
min(θ_A, θ_B)| scaled by the common theta. Mergeable, deterministic,
exact below capacity.
"""

from __future__ import annotations

import struct

import numpy as np

from p2pddsketch_spark.functions.hashing import splitmix64

_MAGIC = b"THT1"
_MAX = float(1 << 64)


class ThetaSketch:
    __slots__ = ("k", "seed", "hashes")

    # state depends only on the summed (value, count) multiset, not on how
    # update_batch calls split it: the harness feeds it once per task
    BATCH_INVARIANT = True

    def __init__(self, k: int = 4096, seed: int = 0) -> None:
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.seed = int(seed)
        self.hashes = np.empty(0, dtype=np.uint64)  # sorted ascending

    # --------------------------------------------------------------- update

    def update_batch(self, values: np.ndarray, weights=None) -> "ThetaSketch":
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return self
        h = splitmix64(v, seed=self.seed)
        self.hashes = np.unique(np.concatenate([self.hashes, h]))[:self.k]
        return self

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("theta k/seed mismatch")
        self.hashes = np.unique(np.concatenate([self.hashes, other.hashes]))[:self.k]
        return self

    # ---------------------------------------------------------------- query

    @property
    def theta(self) -> float:
        """Sampling threshold as a fraction of the hash space."""
        if self.hashes.size < self.k:
            return 1.0
        return float(self.hashes[-1]) / _MAX

    def cardinality(self) -> float:
        if self.hashes.size < self.k:
            return float(self.hashes.size)  # exact below capacity
        return (self.k - 1) / self.theta

    @staticmethod
    def _restrict(hashes: np.ndarray, theta: float) -> np.ndarray:
        return hashes[hashes.astype(np.float64) / _MAX < theta]

    def union_cardinality(self, other: "ThetaSketch") -> float:
        return self.copy().merge(other).cardinality()

    def intersection_cardinality(self, other: "ThetaSketch") -> float:
        theta = min(self.theta, other.theta)
        a = self._restrict(self.hashes, theta)
        b = self._restrict(other.hashes, theta)
        common = np.intersect1d(a, b, assume_unique=True)
        if theta >= 1.0:
            return float(common.size)
        return common.size / theta

    def difference_cardinality(self, other: "ThetaSketch") -> float:
        """|A \\ B| estimate."""
        theta = min(self.theta, other.theta)
        a = self._restrict(self.hashes, theta)
        b = self._restrict(other.hashes, theta)
        only = np.setdiff1d(a, b, assume_unique=True)
        if theta >= 1.0:
            return float(only.size)
        return only.size / theta

    # --------------------------------------------------------- serialization

    def copy(self) -> "ThetaSketch":
        s = ThetaSketch(k=self.k, seed=self.seed)
        s.hashes = self.hashes.copy()
        return s

    def to_bytes(self) -> bytes:
        return struct.pack("<4sqqq", _MAGIC, self.k, self.seed, self.hashes.size) + \
            self.hashes.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "ThetaSketch":
        magic, k, seed, sz = struct.unpack_from("<4sqqq", data, 0)
        if magic != _MAGIC:
            raise ValueError("bad theta magic")
        s = cls(k=int(k), seed=int(seed))
        s.hashes = np.frombuffer(data, dtype="<u8", count=int(sz),
                                 offset=struct.calcsize("<4sqqq")).astype(np.uint64)
        return s
