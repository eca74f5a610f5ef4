"""HyperLogLog cardinality sketch (Flajolet et al. 2007) — mergeable,
vectorized, deterministic.

Not present in the reference (its only sketch is DDSketch); mandated by
BASELINE.json north_rule. Same three-phase algebra as DDSketch:
zero → update_batch → merge (elementwise max of registers), query at the
end. Cross-checkable against Spark's built-in HLL++
(`approx_count_distinct`).
"""

from __future__ import annotations

import struct

import numpy as np

from p2pddsketch_spark.functions.hashing import nlz64, splitmix64

_MAGIC = b"HLL1"
# Sparse serialization (same in-memory state, alternate wire format):
# below ~m/5 occupied registers a (u32 idx, u8 rho) pair list is smaller
# than the dense register array. Grouped rollups at corpus scale carry
# millions of per-(group, salt, partition) partials where most groups
# are tiny — dense p=14 pays 16 KiB per partial regardless, sparse pays
# 5 B per occupied register, so the merge-tree shuffle shrinks by the
# group-occupancy factor. The encoding choice is a pure function of
# state (sparse iff strictly smaller), so equal registers still yield
# equal bytes and every byte-identity merge property is preserved.
_MAGIC_SPARSE = b"HLL2"
_HDR = struct.calcsize("<4sqq")
_SPARSE_HDR = struct.calcsize("<4sqqq")

# Bias-correction constants from the HLL paper.
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}

# HLL++ linear-counting → bias-corrected-raw crossover thresholds
# (Heule et al. 2013, table in §4; one value per precision p).
_LC_THRESHOLD = {4: 10, 5: 20, 6: 40, 7: 80, 8: 220, 9: 400, 10: 900,
                 11: 1800, 12: 3100, 13: 6500, 14: 11500, 15: 20000,
                 16: 50000, 17: 120000, 18: 350000}

try:  # empirical mid-range bias tables (tools/gen_hll_bias.py)
    from p2pddsketch_spark.sketches._hll_bias import BIAS_TABLE as _BIAS_TABLE
except ImportError:  # pragma: no cover - table is committed
    _BIAS_TABLE = {}


class HyperLogLog:
    """2^p uint8 registers; register j = max rho of hashes landing in j."""

    __slots__ = ("p", "m", "seed", "registers")

    def __init__(self, p: int = 14, seed: int = 0) -> None:
        if not (4 <= p <= 18):
            raise ValueError(f"p must be in [4,18], got {p}")
        self.p = int(p)
        self.m = 1 << p
        self.seed = int(seed)
        self.registers = np.zeros(self.m, dtype=np.uint8)

    # --------------------------------------------------------------- updates

    def update_hashes(self, h: np.ndarray) -> "HyperLogLog":
        h = h.astype(np.uint64).ravel()
        if h.size == 0:
            return self
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)  # remaining 64-p bits, left-aligned
        rho = np.minimum(nlz64(w), 64 - self.p).astype(np.int64) + 1
        # scatter-max via sorted unique of (idx, rho) packed keys — orders of
        # magnitude faster than np.maximum.at on large batches
        packed = np.unique((idx.astype(np.uint64) << np.uint64(6)) | rho.astype(np.uint64))
        u_idx = (packed >> np.uint64(6)).astype(np.int64)
        u_rho = (packed & np.uint64(63)).astype(np.uint8)
        # packed is sorted, so the last entry per idx holds its max rho
        last = np.empty(u_idx.size, dtype=bool)
        last[:-1] = u_idx[1:] != u_idx[:-1]
        last[-1] = True
        np.maximum.at(self.registers, u_idx[last], u_rho[last])
        return self

    # state depends only on the summed (value, count) multiset, not on how
    # update_batch calls split it: the harness feeds it once per task
    BATCH_INVARIANT = True

    def update_batch(self, values: np.ndarray, weights=None) -> "HyperLogLog":
        """Insert a batch of int64 identifiers (e.g. token ids). Weights
        are ignored — cardinality is a set property."""
        v = np.asarray(values).ravel()
        if v.size == 0:
            return self
        return self.update_hashes(splitmix64(v.astype(np.int64), seed=self.seed))

    # ----------------------------------------------------------------- merge

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if self.p != other.p or self.seed != other.seed:
            raise ValueError("HLL p/seed mismatch")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    # ----------------------------------------------------------------- query

    def cardinality(self) -> float:
        """HLL++ estimator (Heule et al. 2013): raw harmonic-mean estimate
        with empirical mid-range bias subtraction (raw ≤ 5m, table
        self-calibrated against splitmix64 — tools/gen_hll_bias.py), and
        linear counting while it is the better estimator (below the
        published per-p crossover threshold). Deterministic."""
        m = float(self.m)
        alpha = _ALPHA.get(self.m, 0.7213 / (1 + 1.079 / m))
        regs = self.registers.astype(np.float64)
        raw = alpha * m * m / np.sum(np.exp2(-regs))
        table = _BIAS_TABLE.get(self.p)
        if table is not None and raw <= 5.0 * m:
            raws, biases = table
            est = raw - float(np.interp(raw, raws, biases,
                                        left=biases[0], right=0.0))
        else:
            est = raw
        zeros = int(np.count_nonzero(self.registers == 0))
        if zeros:
            lc = m * np.log(m / zeros)  # linear counting
            threshold = _LC_THRESHOLD.get(self.p, 2.5 * m)
            if lc <= threshold:
                return float(lc)
            # no bias table for this p: keep the classic 2.5m rule so
            # small-range estimates never regress to the biased raw
            if table is None and raw <= 2.5 * m:
                return float(lc)
        return float(est)

    # --------------------------------------------------------- serialization

    def to_bytes(self) -> bytes:
        nz = np.flatnonzero(self.registers)
        sparse_size = _SPARSE_HDR + 5 * nz.size
        if sparse_size < _HDR + self.m:
            return (struct.pack("<4sqqq", _MAGIC_SPARSE, self.p, self.seed,
                                nz.size)
                    + nz.astype("<u4").tobytes()
                    + self.registers[nz].tobytes())
        return struct.pack("<4sqq", _MAGIC, self.p, self.seed) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HyperLogLog":
        magic = bytes(data[:4])
        if magic == _MAGIC_SPARSE:
            _, p, seed, n_nz = struct.unpack_from("<4sqqq", data, 0)
            s = cls(p=int(p), seed=int(seed))
            idx = np.frombuffer(data, dtype="<u4", count=int(n_nz),
                                offset=_SPARSE_HDR).astype(np.int64)
            rho = np.frombuffer(data, dtype=np.uint8, count=int(n_nz),
                                offset=_SPARSE_HDR + 4 * int(n_nz))
            s.registers[idx] = rho
            return s
        if magic != _MAGIC:
            raise ValueError("bad HLL magic")
        _, p, seed = struct.unpack_from("<4sqq", data, 0)
        s = cls(p=int(p), seed=int(seed))
        s.registers = np.frombuffer(data, dtype=np.uint8, count=s.m,
                                    offset=_HDR).copy()
        return s
