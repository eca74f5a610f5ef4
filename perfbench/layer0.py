"""L0 replay: the sketch families' public API (update_batch, merge,
to_bytes/from_bytes) on a seeded slice of the workload's own columns,
in the benchmark process with no JVM, so the numbers stay low-noise on
a shared host."""

from __future__ import annotations

import time

import numpy as np

DAY_US = 86_400_000_000
PARTS = 8               # partial sketches merged per round, as stage 1 makes them
MIN_SECONDS = 0.2       # each timing repeats until it has run this long


def _families():
    from p2pddsketch_spark.sketches.bloom import BloomFilter
    from p2pddsketch_spark.sketches.cms import CountMinSketch
    from p2pddsketch_spark.sketches.ddsketch import DDSketch
    from p2pddsketch_spark.sketches.eh import ExpHistogram
    from p2pddsketch_spark.sketches.hll import HyperLogLog
    from p2pddsketch_spark.sketches.kll import KLLSketch
    from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog
    from p2pddsketch_spark.sketches.tdigest import TDigest
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch
    from p2pddsketch_spark.sketches.wss import WindowedSpaceSaving
    # name -> (constructor, input kind, update timed?)
    return {
        "dds": (lambda: DDSketch(alpha=0.001, bin_limit=1 << 22), "values", True),
        "kll": (lambda: KLLSketch(k=256), "values", True),
        "tdigest": (lambda: TDigest(delta=200), "values", True),
        "hll": (lambda: HyperLogLog(p=14), "items", True),
        "cms": (lambda: CountMinSketch(depth=4, width=1 << 16), "items", True),
        "bloom": (lambda: BloomFilter(m_bits=1 << 21, k=5), "items", True),
        "wdds": (lambda: WindowedDDSketch(alpha=0.01, bucket_width=DAY_US,
                                          max_buckets=1024), "value_ts", False),
        "shll": (lambda: SlidingHyperLogLog(p=14), "item_ts", False),
        "eh": (lambda: ExpHistogram(k=32), "ts", False),
        "wss": (lambda: WindowedSpaceSaving(k=64, bucket_width=DAY_US,
                                            max_buckets=1024), "item_ts", False),
    }


def _repeat(fn) -> tuple[int, float]:
    """Run fn until MIN_SECONDS have passed; (calls, seconds)."""
    n, t0 = 0, time.monotonic()
    while True:
        fn()
        n += 1
        dt = time.monotonic() - t0
        if dt >= MIN_SECONDS:
            return n, dt


def _rounds(fn) -> tuple[int, float]:
    """Call fn, which returns the seconds of its own timed part, until
    those add up to MIN_SECONDS; (calls, timed seconds). Its untimed
    preparation can dominate the wall time of cheap calls, so the wall
    time is capped at 5 x MIN_SECONDS too."""
    n, timed, t0 = 0, 0.0, time.monotonic()
    while timed < MIN_SECONDS and time.monotonic() - t0 < 5 * MIN_SECONDS:
        timed += fn()
        n += 1
    return n, timed


def replay(values: np.ndarray, items: np.ndarray, ts: np.ndarray) -> dict:
    """Per-family L0 metrics, keyed `sketches.<family>.<metric>`."""
    from p2pddsketch_spark.operators.harness import sketch_from_bytes
    from p2pddsketch_spark.sketches.wdds import PAIR_DTYPE
    n_v = min(values.size, ts.size)
    n_i = min(items.size, ts.size)
    value_ts = np.empty(n_v, dtype=PAIR_DTYPE)       # vpair_extractor's output
    value_ts["v"], value_ts["t"] = values[:n_v], ts[:n_v]
    data = {
        "values": values.astype(np.float64),
        "items": items.astype(np.int64),
        "ts": np.sort(ts),
        "value_ts": value_ts,
        "item_ts": np.column_stack((items[:n_i].astype(np.int64), ts[:n_i])),
    }
    out = {}
    for name, (make, kind, timed_update) in _families().items():
        chunks = np.array_split(data[kind], PARTS)
        parts = [make().update_batch(c) for c in chunks]        # also the warm-up
        blobs = [p.to_bytes() for p in parts]

        def update_round():
            fresh = [make() for _ in chunks]
            t = time.monotonic()
            for sk, c in zip(fresh, chunks):
                sk.update_batch(c)
            return time.monotonic() - t

        def merge_round():
            acc = sketch_from_bytes(blobs[0])
            others = [sketch_from_bytes(b) for b in blobs[1:]]
            t = time.monotonic()
            for o in others:
                acc.merge(o)
            return time.monotonic() - t

        merges, merge_s = _rounds(merge_round)
        acc = sketch_from_bytes(blobs[0])
        for b in blobs[1:]:
            acc.merge(sketch_from_bytes(b))
        blob = acc.to_bytes()
        calls, serde_s = _repeat(lambda: sketch_from_bytes(acc.to_bytes()))
        key = f"sketches.{name}"
        if timed_update:
            updates, update_s = _rounds(update_round)
            out[f"{key}.update_items_per_s"] = updates * data[kind].shape[0] / update_s
        out[f"{key}.merge_per_s"] = merges * (PARTS - 1) / merge_s
        out[f"{key}.serde_mb_per_s"] = calls * len(blob) / serde_s / 1e6
        out[f"{key}.blob_bytes"] = len(blob)
    return out
