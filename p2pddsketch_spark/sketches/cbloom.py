"""Counting Bloom filter — mergeable, DELETABLE set-membership sketch.

Turnstile companion to `bloom.BloomFilter`: each of the k hash slots
holds a signed counter instead of a bit, so the sketch supports the
same insert/delete stream the reference's `DDS_DeleteCollapse*` family
handles for quantiles (/root/reference/ddsketch.cc:303-420 — deletions
as negative-weight updates), applied to membership:

* insert  = +w on k counters        (update_batch with positive weights)
* delete  = -w on the same counters (delete_batch / negative weights)
* merge   = element-wise counter ADD — associative and commutative, so
  per-partition partials fold in any order to the identical state
* contains(x) = all k counters > 0 — NO false negatives for any item
  whose net inserted weight is positive, false-positive rate identical
  to a plain Bloom filter with the same (m, k) on the net-live set

Counters are int32 on the wire (4 bytes each — the blob is m×4 B, 4×
a bit-Bloom of equal m but exact under deletion, where a bit-Bloom
cannot delete at all). Updates accumulate in int64 and the sketch
raises rather than silently wrapping if any counter would leave int32
(a net count of ±2³¹ on one slot means the filter is catastrophically
under-sized — fail loudly, the way the harness's other exactness
guards do).

Weight-linear: `update_batch(uniques, counts)` is equivalent to raw
values, so the harness feeds it the shared bincount pre-agg
(NEEDS_RAW = False) and only (m×4 B) blobs ever shuffle.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

from p2pddsketch_spark.functions.hashing import splitmix64

_MAGIC = b"CBF1"
_I32_MIN = -(1 << 31)
_I32_MAX = (1 << 31) - 1


class CountingBloomFilter:
    """Turnstile membership: Bloom with signed int32 counters instead of
    bits — insert adds, delete subtracts, merge is counter addition, and
    contains(x) is "all k slots positive" (no false negatives for any
    net-live item; delete exactly undoes insert, byte-for-byte)."""

    __slots__ = ("m", "k", "seed", "counts", "net_weight")

    def __init__(self, m: int = 1 << 16, k: int = 5, seed: int = 0) -> None:
        if m <= 0:
            raise ValueError("m must be positive")
        self.m = int(m)
        self.k = int(k)
        self.seed = int(seed)
        self.counts = np.zeros(self.m, dtype=np.int64)
        self.net_weight = 0  # Σ weights (Python int — exact past 2^53)

    @classmethod
    def for_capacity(cls, n: int, fpp: float = 0.01, seed: int = 0
                     ) -> "CountingBloomFilter":
        """Same (m, k) sizing rule as BloomFilter.for_capacity — the FP
        analysis is unchanged; only the slot width differs."""
        m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / max(n, 1) * math.log(2)))
        return cls(m=max(m, 1), k=k, seed=seed)

    def _slots(self, values: np.ndarray) -> np.ndarray:
        """(k, n) counter indices via double hashing h1 + i*h2 — the same
        scheme as BloomFilter._bit_positions so the FP rate analysis
        carries over verbatim."""
        v = np.asarray(values).astype(np.int64).ravel()
        h1 = splitmix64(v, seed=self.seed)
        h2 = splitmix64(v, seed=self.seed + 0x51ED)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)
                    ).astype(np.int64)

    NEEDS_RAW = False  # weight-linear: (uniques, counts) == raw values
    # state depends only on the summed (value, count) multiset, not on how
    # update_batch calls split it: the harness feeds it once per task
    BATCH_INVARIANT = True

    def _check_range(self) -> None:
        # int64 accumulation never wraps for any realistic stream
        # (2^63 / 2^31 partial merges deep); the int32 bound is the WIRE
        # contract, enforced eagerly so a failure names the update that
        # caused it instead of a later to_bytes().
        if self.counts.size and (
                self.counts.max(initial=0) > _I32_MAX
                or self.counts.min(initial=0) < _I32_MIN):
            raise OverflowError(
                "CountingBloomFilter slot counter left int32 — the filter "
                "is undersized for this stream (grow m or shard the key)")

    def update_batch(self, values: np.ndarray, weights=None
                     ) -> "CountingBloomFilter":
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return self
        if weights is None:
            w = np.ones(v.size, dtype=np.int64)
        else:
            w = np.asarray(weights).astype(np.int64).ravel()
            if w.size != v.size:
                raise ValueError("values/weights length mismatch")
        pos = self._slots(v)                      # (k, n)
        wk = np.broadcast_to(w, pos.shape).ravel()
        pos = pos.ravel()
        # sorted-segment reduceat (house pattern from BloomFilter):
        # one sort + one segment-sum beats np.add.at scatter on large
        # batches because reduceat is a single contiguous pass
        order = np.argsort(pos, kind="stable")
        pos_s, wk_s = pos[order], wk[order]
        starts = np.empty(pos_s.size, dtype=bool)
        starts[0] = True
        starts[1:] = pos_s[1:] != pos_s[:-1]
        seg = np.flatnonzero(starts)
        self.counts[pos_s[seg]] += np.add.reduceat(wk_s, seg)
        self.net_weight += int(w.sum(dtype=object)) if w.size > (1 << 20) \
            else int(w.sum(dtype=np.int64))
        self._check_range()
        return self

    def delete_batch(self, values: np.ndarray, weights=None
                     ) -> "CountingBloomFilter":
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return self
        if weights is None:
            w = np.ones(v.size, dtype=np.int64)
        else:
            w = np.asarray(weights).astype(np.int64).ravel()
        return self.update_batch(v, -w)

    def merge(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        if (self.m, self.k, self.seed) != (other.m, other.k, other.seed):
            raise ValueError("CountingBloom shape/seed mismatch")
        self.counts += other.counts
        self.net_weight += other.net_weight
        self._check_range()
        return self

    def contains(self, values: np.ndarray) -> np.ndarray:
        """Vectorized membership -> bool array. True iff every one of the
        k slots is positive: no false negatives for net-live items;
        an item fully deleted (net weight 0) reads False unless it
        collides on ALL k slots with live items (the ordinary Bloom FP
        event)."""
        v = np.asarray(values).astype(np.int64).ravel()
        if v.size == 0:
            return np.empty(0, dtype=bool)
        return (self.counts[self._slots(v)] > 0).all(axis=0)

    def to_bytes(self) -> bytes:
        """Canonical wire: header + int32 counters, zlib-deflated when
        that is smaller (codec flag byte). A partition partial's counter
        array is overwhelmingly zeros — deflate shrinks the per-partial
        shuffle payload from m×4 B to roughly the live-slot mass, which
        is what the merge-tree exchange actually carries."""
        self._check_range()
        raw = self.counts.astype("<i4").tobytes()
        packed = zlib.compress(raw, 6)
        codec, body = (1, packed) if len(packed) < len(raw) else (0, raw)
        return (struct.pack("<4sqqqqB", _MAGIC, self.m, self.k, self.seed,
                            self.net_weight, codec) + body)

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountingBloomFilter":
        magic, m, k, seed, net, codec = struct.unpack_from("<4sqqqqB", data, 0)
        if magic != _MAGIC:
            raise ValueError("bad CountingBloom magic")
        s = cls(m=int(m), k=int(k), seed=int(seed))
        s.net_weight = int(net)
        body = bytes(data[struct.calcsize("<4sqqqqB"):])
        if codec == 1:
            try:
                body = zlib.decompress(body)
            except zlib.error as e:
                # keep the ValueError decode contract (wire-robustness
                # suite): a torn deflate stream is corruption like any
                # other truncation
                raise ValueError(
                    f"truncated CountingBloom payload: {e}") from e
        elif codec != 0:
            raise ValueError(f"unknown CountingBloom codec {codec}")
        s.counts = np.frombuffer(body, dtype="<i4", count=int(m)
                                 ).astype(np.int64)
        return s
