"""The sketch aggregation harness — the engine that replaces the
reference's P2P gossip protocol (`/root/reference/main.cpp:475-658`)
with Spark's exact shuffle-based partial-aggregation merge tree.

Pipeline shape (the "two shuffle boundaries" of SURVEY.md §3.1):

  stage 1  mapInArrow over the raw scan: one sketch per
           (input partition × spec × group), built from whole Arrow
           batches with numpy — zero per-row Python, zero shuffle of raw
           data (this is what makes it work at 10^12 rows: only sketch
           blobs ever cross the wire). Sketches whose state depends only
           on the summed (value, count) multiset (`BATCH_INVARIANT`:
           HLL, CMS, Bloom, theta, counting Bloom) are fed once per task
           from summed per-batch counts; every other family is fed per
           batch
  stage 2  groupBy(name, group, salt).applyInArrow(merge) — salted
           partial merge; salt = partition_id % salt_buckets bounds any
           single reducer's fan-in regardless of input partition count.
           `build_sketches_from_files` runs it only when stage 1 has more
           tasks than salt_buckets: otherwise each salt holds one partial
  stage 3  groupBy(name, group).applyInArrow(merge) — final merge of
           ≤ salt_buckets blobs per key

Merging is deterministic: blobs are sorted lexicographically before the
fold, and DDSketch uses the order-invariant n-way merge (α-alignment
collapses commute with summation). Compare the gossip loop this
replaces: per-round pairwise averaging merges + push-sum weight
normalization (`main.cpp:549-631`, `ddsketch.cc:613-615`) that only
*converges stochastically* to the global sketch — the shuffle tree
computes it exactly in two deterministic steps.
"""

from __future__ import annotations

import json
import logging
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, ByteType,
                               DataType, DateType, DecimalType, DoubleType,
                               FloatType, IntegerType, LongType, MapType,
                               ShortType, StringType, StructField, StructType,
                               TimestampNTZType, TimestampType)

from p2pddsketch_spark.sketches.ddsketch import DDSketch
from p2pddsketch_spark.sketches.hll import HyperLogLog
from p2pddsketch_spark.sketches.cms import CountMinSketch
from p2pddsketch_spark.sketches.bloom import BloomFilter
from p2pddsketch_spark.sketches.cbloom import CountingBloomFilter
from p2pddsketch_spark.sketches.kll import KLLSketch
from p2pddsketch_spark.sketches.kll_turnstile import TurnstileKLL
from p2pddsketch_spark.sketches.bottomk import BottomKSample
from p2pddsketch_spark.sketches.spacesaving import SpaceSaving
from p2pddsketch_spark.sketches.tdigest import TDigest
from p2pddsketch_spark.sketches.theta import ThetaSketch
from p2pddsketch_spark.sketches.fd import FrequentDirections
from p2pddsketch_spark.sketches.moments import MomentSketch
from p2pddsketch_spark.sketches.req import ReqSketch
from p2pddsketch_spark.sketches.weightedk import WeightedTopK
from p2pddsketch_spark.sketches.ams import AmsSketch
from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog
from p2pddsketch_spark.sketches.eh import ExpHistogram
from p2pddsketch_spark.sketches.ecm import EcmSketch
from p2pddsketch_spark.sketches.wdds import WindowedDDSketch
from p2pddsketch_spark.sketches.wss import WindowedSpaceSaving

__all__ = ["SketchSpec", "scalar_extractor", "array_extractor",
           "pair_extractor", "vpair_extractor", "apair_extractor",
           "build_sketches", "build_partials", "merge_partials",
           "build_sketches_from_files", "build_partials_from_files",
           "parquet_file_list", "collect_sketches", "merge_blobs",
           "final_sketches", "sketch_from_bytes", "SKETCH_TYPES", "EMPTY_MARKER"]

_log = logging.getLogger(__name__)

# sketch_name of the zero-row marker a stage-1 task emits when its
# partition contained no rows: the row carries lineage (partition_id →
# chunk identity for checkpoint/resume) but no sketch, and every merge
# path filters it out. Without it an empty input file would never enter
# committed state and resume would rebuild it forever.
EMPTY_MARKER = "__empty__"

# magic prefix (first 4 bytes of every canonical serialization) → class
SKETCH_TYPES = {
    b"DDS1": DDSketch,
    b"HLL1": HyperLogLog,
    b"HLL2": HyperLogLog,  # sparse wire format, same class
    b"CMS1": CountMinSketch,
    b"BLM1": BloomFilter,
    b"CBF1": CountingBloomFilter,
    b"KLL1": KLLSketch,
    b"KLT1": TurnstileKLL,
    b"TDG1": TDigest,
    b"SSV2": SpaceSaving,
    b"BTK1": BottomKSample,
    b"THT1": ThetaSketch,
    b"FRD1": FrequentDirections,
    b"WTK1": WeightedTopK,
    b"MOM1": MomentSketch,
    b"REQ1": ReqSketch,
    b"AMS1": AmsSketch,
    b"SHL1": SlidingHyperLogLog,
    b"EXH1": ExpHistogram,
    b"ECM1": EcmSketch,
    b"WDD1": WindowedDDSketch,
    b"WSS1": WindowedSpaceSaving,
}


def _cap_worker_threads() -> None:
    """One Spark task == one core: cap pyarrow's per-process thread pools,
    which default to nproc. 32 Python workers × 32 Arrow threads each
    destroys scaling (observed local[8] outrunning local[32] 4×)."""
    try:
        if pa.cpu_count() > 2:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(2)
    except Exception:
        pass


def sketch_from_bytes(blob: bytes):
    cls = SKETCH_TYPES.get(bytes(blob[:4]))
    if cls is None:
        raise ValueError(f"unknown sketch magic {blob[:4]!r}")
    return cls.from_bytes(bytes(blob))


def merge_blobs(blobs: list[bytes]) -> bytes:
    """Deterministic merge of serialized sketches of one type.

    Sorting the blobs first makes the fold independent of shuffle arrival
    order; DDSketch additionally uses the order-invariant n-way merge.
    """
    blobs = sorted(bytes(b) for b in blobs)
    if not blobs:
        raise ValueError("merge_blobs: no blobs to merge")
    # all blobs must decode to ONE sketch class (HLL1/HLL2 are the same
    # class in two wire formats); a mixed GROUP BY otherwise surfaces as
    # a confusing AttributeError from deep inside some .merge()
    classes = {SKETCH_TYPES.get(b[:4]) for b in blobs}
    if len(classes) != 1 or None in classes:
        magics = sorted({repr(bytes(b[:4])) for b in blobs})
        raise ValueError(
            f"merge_blobs: blobs of mixed/unknown sketch types {magics}")
    first = sketch_from_bytes(blobs[0])
    if isinstance(first, DDSketch):
        return DDSketch.merge_many([sketch_from_bytes(b) for b in blobs]).to_bytes()
    acc = first
    for b in blobs[1:]:
        acc.merge(sketch_from_bytes(b))
    return acc.to_bytes()


# --------------------------------------------------------------- extractors

def scalar_extractor(column: str) -> Callable[[pa.RecordBatch], np.ndarray]:
    """Extract a numeric column from an Arrow batch as float64 (nulls
    dropped — explicit NaN/null policy, cf. SURVEY.md §1 NaN note)."""
    def extract(batch: pa.RecordBatch) -> np.ndarray:
        col = batch.column(column)
        if col.null_count:
            col = col.drop_null()
        return col.to_numpy(zero_copy_only=False).astype(np.float64)
    extract.columns = [column]
    extract.key = f"scalar:{column}"
    return extract


def scalar_int_extractor(column: str) -> Callable[[pa.RecordBatch], np.ndarray]:
    """Extract an integer column from an Arrow batch as int64 (nulls
    dropped) — the identity-key sibling of `scalar_extractor` for
    HLL/Bloom/theta/CMS ingestion, where values are keys, not
    measurements."""
    def extract(batch: pa.RecordBatch) -> np.ndarray:
        col = batch.column(column)
        if col.null_count:
            col = col.drop_null()
        return col.to_numpy(zero_copy_only=False).astype(np.int64)
    extract.columns = [column]
    extract.key = f"scalar_int:{column}"
    return extract


def pair_extractor(value_col: str, ts_col: str) -> Callable[[pa.RecordBatch], np.ndarray]:
    """Extract two int64-able columns as an (n, 2) [value, ts] array for
    the sliding-window sketches (SlidingHyperLogLog / EcmSketch /
    ExpHistogram), which need each observation's timestamp alongside its
    identity. Timestamp columns become int64 epoch units (Arrow's native
    resolution); rows where either side is null are dropped (the same
    explicit null policy as scalar_extractor)."""
    def _int64(col: pa.Array) -> np.ndarray:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        return col.to_numpy(zero_copy_only=False).astype(np.int64)

    def extract(batch: pa.RecordBatch) -> np.ndarray:
        v, t = batch.column(value_col), batch.column(ts_col)
        if v.null_count or t.null_count:
            ok = pa.compute.and_(v.is_valid(), t.is_valid())
            v, t = v.filter(ok), t.filter(ok)
        return np.column_stack((_int64(v), _int64(t)))
    extract.columns = [value_col, ts_col]
    extract.key = f"pair:{value_col}:{ts_col}"
    return extract


def apair_extractor(tokens_col: str, ts_col: str) -> Callable[[pa.RecordBatch], np.ndarray]:
    """Flatten an array<int> column against its row timestamp into the
    same (n, 2) [item, ts] shape `pair_extractor` emits — every element
    of a row's array is one observation stamped with that row's event
    time (the windowed heavy-hitter feed: "which token ids dominated
    the last hour"). Flattening stays inside Arrow (north_rule: tokens
    arrays never explode into per-row Python); rows with a null array
    or null ts drop whole, null elements inside an array drop alone."""
    def extract(batch: pa.RecordBatch) -> np.ndarray:
        col, t = batch.column(tokens_col), batch.column(ts_col)
        if col.null_count or t.null_count:
            ok = pa.compute.and_(col.is_valid(), t.is_valid())
            col, t = col.filter(ok), t.filter(ok)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if pa.types.is_timestamp(t.type):
            t = t.cast(pa.int64())
        lens = (pa.compute.list_value_length(col)
                .to_numpy(zero_copy_only=False).astype(np.int64))
        ts = np.repeat(t.to_numpy(zero_copy_only=False).astype(np.int64),
                       lens)
        flat = col.flatten()
        if flat.null_count:
            valid = flat.is_valid().to_numpy(zero_copy_only=False)
            flat = flat.drop_null()
            ts = ts[valid]
        items = flat.to_numpy(zero_copy_only=False).astype(np.int64)
        return np.column_stack((items, ts))
    extract.columns = [tokens_col, ts_col]
    extract.key = f"apair:{tokens_col}:{ts_col}"
    return extract


def vpair_extractor(value_col: str, ts_col: str) -> Callable[[pa.RecordBatch], np.ndarray]:
    """Like `pair_extractor` but the value side keeps full float64
    precision (for the windowed-quantile sketch, whose payload is the
    measurement itself, not an identity): emits a structured
    (v float64, t int64) array. Timestamps become int64 epoch units in
    Arrow's native resolution; rows with a null on either side drop."""
    from p2pddsketch_spark.sketches.wdds import PAIR_DTYPE

    def extract(batch: pa.RecordBatch) -> np.ndarray:
        v, t = batch.column(value_col), batch.column(ts_col)
        if v.null_count or t.null_count:
            ok = pa.compute.and_(v.is_valid(), t.is_valid())
            v, t = v.filter(ok), t.filter(ok)
        if pa.types.is_timestamp(t.type):
            t = t.cast(pa.int64())
        out = np.empty(len(v), dtype=PAIR_DTYPE)
        out["v"] = v.to_numpy(zero_copy_only=False).astype(np.float64)
        out["t"] = t.to_numpy(zero_copy_only=False).astype(np.int64)
        return out
    extract.columns = [value_col, ts_col]
    extract.key = f"vpair:{value_col}:{ts_col}"
    return extract


def array_extractor(column: str) -> Callable[[pa.RecordBatch], np.ndarray]:
    """Flatten an array<int> column *inside* the Arrow batch
    (`pa.ListArray.flatten()` → numpy int64) — the tokens arrays are never
    exploded into per-row Python (north_rule)."""
    def extract(batch: pa.RecordBatch) -> np.ndarray:
        col = batch.column(column)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        flat = col.flatten()
        if flat.null_count:
            flat = flat.drop_null()
        # Zero-copy first: the flatten->copy path's large short-lived
        # allocations caused mmap/TLB churn that destroyed multi-core
        # scaling (measured 74M -> 255M tokens/s at 8 procs). Native
        # (int32) dtype kept — sketches cast only the tiny unique arrays.
        try:
            return flat.to_numpy(zero_copy_only=True)
        except (pa.ArrowInvalid, ValueError):
            return flat.to_numpy(zero_copy_only=False)
    extract.columns = [column]
    extract.key = f"array:{column}"
    return extract


_BINCOUNT_MAX = 1 << 24


def _dense_counts(vals: np.ndarray) -> tuple[int, np.ndarray] | None:
    """(offset, counts) with counts[i] = occurrences of offset + i — the
    np.bincount fast path for narrow-range int ids (token vocabularies):
    O(n) sequential writes into an L2-resident array instead of an
    O(n log n) sort. The sort path's random-access traffic saturates
    memory bandwidth when 32 executor threads run it concurrently;
    bincount keeps stage 1 compute-bound. The range guard is computed in
    Python ints (an int64-extreme vmin/vmax pair must not wrap) and the
    count array is sized by the RANGE via a vmin shift, so a narrow band
    of high-offset (or negative) ids stays on the fast path instead of
    allocating vmax entries or falling back to the sort. None when the
    values are off the fast path (floats, wide ranges, empty)."""
    if vals.size and np.issubdtype(vals.dtype, np.integer):
        vmin, vmax = vals.min(), vals.max()
        rng = int(vmax) - int(vmin)
        if rng < max(vals.size * 4, 1 << 16):
            if vmin >= 0 and vmax < _BINCOUNT_MAX:
                # small ids: no shift copy needed
                return int(vmin), np.bincount(vals)[vmin:]
            return int(vmin), np.bincount(vals - vmin)
    return None


def _nonzero_counts(offset: int, counts: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray]:
    """(uniques, counts) of a `_dense_counts` array."""
    uv = np.flatnonzero(counts)
    return uv + np.int64(offset), counts[uv].astype(np.int64)


def _unique_counts(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(uniques, counts) — via `_dense_counts` when the ids are narrow,
    else the sort."""
    dense = _dense_counts(vals)
    if dense is None:
        return np.unique(vals, return_counts=True)
    return _nonzero_counts(*dense)


# Most (value, count) entries one stage-1 task accumulates for its
# BATCH_INVARIANT sketches before feeding them (2^22 int64 = 32 MB).
# Flush points cannot change those sketches, so this only bounds memory.
_TASK_COUNTS_MAX = 1 << 22


class _TaskCounts:
    """Per-task (value → count) accumulators, one per (extractor, group),
    for sketches whose state depends only on the summed (value, count)
    multiset (`BATCH_INVARIANT`): each batch's bincount is added here and
    the sketches hash the task's vocabulary once at `flush`, instead of
    once per (Arrow batch × group). An accumulator spans the union of its
    batches' value ranges; when the total would pass `cap` every
    accumulator is flushed first."""

    def __init__(self, cap: int) -> None:
        self.cap, self.size = cap, 0
        # (extractor key, group key) -> [offset, counts, sketches]
        self.slots: dict[tuple, list] = {}

    def add(self, slot: tuple, sketches: list, offset: int,
            counts: np.ndarray) -> None:
        cur = self.slots.get(slot)
        if cur is None:
            grow = counts.size
        else:
            lo = min(cur[0], offset)
            hi = max(cur[0] + cur[1].size, offset + counts.size)
            grow = hi - lo - cur[1].size
        if self.size and self.size + grow > self.cap:
            self.flush()
            cur, grow = None, counts.size
        self.size += grow
        if cur is None:
            self.slots[slot] = [offset, counts.astype(np.int64), sketches]
            return
        if grow:
            wide = np.zeros(hi - lo, np.int64)
            wide[cur[0] - lo:cur[0] - lo + cur[1].size] = cur[1]
            cur[0], cur[1] = lo, wide
        cur[1][offset - cur[0]:offset - cur[0] + counts.size] += counts

    def flush(self) -> None:
        for offset, counts, sketches in self.slots.values():
            uv, uc = _nonzero_counts(offset, counts)
            for st in sketches:
                st.update_batch(uv, uc)
        self.slots.clear()
        self.size = 0


@dataclass
class SketchSpec:
    """One sketch to build during the single pass over the data."""
    name: str
    factory: Callable[[], object]            # () -> zero sketch
    extractor: Callable[[pa.RecordBatch], np.ndarray]
    columns: list[str] = field(default_factory=list)

    def __post_init__(self):
        if not self.columns:
            self.columns = list(getattr(self.extractor, "columns", []))


# ------------------------------------------------------------------ stage 1

_FIXED_FIELDS = [
    StructField("sketch_name", StringType(), False),
    StructField("salt", IntegerType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("rows_seen", LongType(), False),
    StructField("build_secs", DoubleType(), False),
    StructField("sketch", BinaryType(), False),
]


def _partial_schema(schema: StructType, group_cols: tuple[str, ...]) -> StructType:
    fields = [schema[c] for c in group_cols]
    return StructType(list(fields) + _FIXED_FIELDS)


def _make_stage1(specs: list[SketchSpec], group_cols: tuple[str, ...],
                 salt_buckets: int, out_schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema
    # every field nullable: the zero-row marker emits NULL group values
    arrow_schema = pa.schema([f.with_nullable(True)
                              for f in to_arrow_schema(out_schema)])
    # read here, on the driver, so the cap ships with the stage closure
    counts_cap = _TASK_COUNTS_MAX

    def _update_all(states, task_counts, key, batch):
        """Update every spec's sketch from one (sub-)batch. Extraction and
        per-batch pre-aggregation (unique + counts) are shared across specs
        reading the same column: HLL/Bloom are set-semantics and CMS/DDS/
        t-digest are weight-exact, so feeding (uniques, counts) is
        equivalent to raw values but ~vocab/batch_len cheaper. Sketches
        marked BATCH_INVARIANT go further when the batch is on the bincount
        fast path: its counts join the task's accumulator and the sketch is
        fed once per task (`_TaskCounts`)."""
        extracted: dict[str, np.ndarray] = {}
        dense: dict[str, tuple[int, np.ndarray] | None] = {}
        uniqued: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        deferred: dict[str, list] = {}
        for si, spec in enumerate(specs):
            ekey = getattr(spec.extractor, "key", None) or id(spec.extractor)
            if ekey not in extracted:
                extracted[ekey] = spec.extractor(batch)
            vals = extracted[ekey]
            st = states.get((si, key))
            if st is None:
                st = states[(si, key)] = spec.factory()
            if getattr(st, "NEEDS_RAW", False):
                st.update_batch(vals)
                continue
            if ekey not in dense:
                dense[ekey] = _dense_counts(vals)
            if dense[ekey] is not None and getattr(st, "BATCH_INVARIANT", False):
                deferred.setdefault(ekey, []).append(st)
                continue
            if ekey not in uniqued:
                uniqued[ekey] = (np.unique(vals, return_counts=True)
                                 if dense[ekey] is None
                                 else _nonzero_counts(*dense[ekey]))
            uv, uc = uniqued[ekey]
            st.update_batch(uv, uc.astype(np.int64))
        for ekey, sketches in deferred.items():
            task_counts.add((ekey, key), sketches, *dense[ekey])

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        _cap_worker_threads()
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        salt = pid % salt_buckets
        t0 = time.monotonic()
        # (spec_idx, group_key_tuple) -> sketch
        states: dict[tuple, object] = {}
        task_counts = _TaskCounts(counts_cap)
        # group_key_tuple -> rows contributing to that group (lineage)
        rows_by_key: dict[tuple, int] = {}
        for batch in batches:
            if not group_cols:
                rows_by_key[()] = rows_by_key.get((), 0) + batch.num_rows
                _update_all(states, task_counts, (), batch)
            else:
                gcols = [batch.column(c).to_numpy(zero_copy_only=False)
                         for c in group_cols]
                # factorize each column separately, then combine codes —
                # np.unique over a 2-D object array would flatten (and
                # raises outright on mixed column types)
                if len(gcols) == 1:
                    uniq, inv = np.unique(gcols[0], return_inverse=True)
                    keys = [(u,) for u in uniq.tolist()]
                else:
                    col_uniqs, col_codes = [], []
                    for arr in gcols:
                        u, c = np.unique(arr, return_inverse=True)
                        col_uniqs.append(u.tolist())
                        col_codes.append(c)
                    dims = tuple(len(u) for u in col_uniqs)
                    combo = np.ravel_multi_index(col_codes, dims)
                    ucombo, inv = np.unique(combo, return_inverse=True)
                    midx = np.unravel_index(ucombo, dims)
                    keys = [tuple(col_uniqs[d][midx[d][j]]
                                  for d in range(len(gcols)))
                            for j in range(len(ucombo))]
                # gather ONCE into group order, then hand out zero-copy
                # slices — a per-group take() would copy the batch G times
                order = np.argsort(inv, kind="stable")
                sorted_batch = batch.take(pa.array(order))
                counts = np.bincount(inv, minlength=len(keys))
                start = 0
                for gi, key in enumerate(keys):
                    sub = sorted_batch.slice(start, int(counts[gi]))
                    start += int(counts[gi])
                    rows_by_key[key] = rows_by_key.get(key, 0) + int(counts[gi])
                    _update_all(states, task_counts, key, sub)
        task_counts.flush()
        secs = time.monotonic() - t0
        if not states:
            # zero-row partition: emit the lineage marker so checkpoint
            # resume can mark this chunk done (merges filter it out)
            arrays = [pa.array([None], type=arrow_schema.field(c).type)
                      for c in group_cols]
            arrays += [pa.array([EMPTY_MARKER], pa.string()),
                       pa.array([salt], pa.int32()), pa.array([pid], pa.int32()),
                       pa.array([0], pa.int64()), pa.array([secs], pa.float64()),
                       pa.array([b""], pa.binary())]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
            return
        names, salts, pids, rws, secs_l, blobs = [], [], [], [], [], []
        gvals: list[list] = [[] for _ in group_cols]
        for (si, key), st in sorted(states.items(), key=lambda kv: (kv[0][0], str(kv[0][1]))):
            names.append(specs[si].name)
            salts.append(salt)
            pids.append(pid)
            rws.append(rows_by_key[key])
            secs_l.append(secs)
            blobs.append(st.to_bytes())
            for ci in range(len(group_cols)):
                gvals[ci].append(key[ci])
        arrays = [pa.array(gvals[ci], type=arrow_schema.field(c).type)
                  for ci, c in enumerate(group_cols)]
        arrays += [pa.array(names, pa.string()), pa.array(salts, pa.int32()),
                   pa.array(pids, pa.int32()), pa.array(rws, pa.int64()),
                   pa.array(secs_l, pa.float64()), pa.array(blobs, pa.binary())]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return build


def _merge_fn(out_schema: StructType, group_cols: tuple[str, ...], final: bool):
    """Arrow-native group merge for stages 2-3 (`applyInArrow`): one
    output row per group, no pandas round-trip — on 10^5-group builds
    the per-group Series/DataFrame construction was the stage cost, the
    blobs themselves are tiny."""
    def merge(tbl: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc
        blob = merge_blobs(tbl.column("sketch").to_pylist())
        arrays = []
        for field in tbl.schema:
            name = field.name
            if name == "salt":
                v = -1 if final else tbl.column(name)[0].as_py()
                arrays.append(pa.array([v], field.type))
            elif name == "partition_id":
                arrays.append(pa.array([-1], field.type))
            elif name == "rows_seen":
                arrays.append(pa.array([pc.sum(tbl.column(name)).as_py() or 0], field.type))
            elif name == "build_secs":
                arrays.append(pa.array([pc.sum(tbl.column(name)).as_py() or 0.0], field.type))
            elif name == "sketch":
                arrays.append(pa.array([blob], field.type))
            else:  # group cols + sketch_name: constant within the group
                arrays.append(tbl.column(name).slice(0, 1).combine_chunks())
        return pa.table(arrays, schema=tbl.schema)

    return merge


# ----------------------------------------------------------------- pipeline

# floor on rows per sub-row-group slice: below this the per-task decode
# prefix waste outweighs the parallelism gained
_MIN_SLICE_ROWS = 32_768


def _file_work_units(paths: list[str], files_per_task: int,
                     target_tasks: int) -> list[list[tuple]]:
    """Task list for the stage-1 file reader. Unit = (path, row_group,
    start_row, n_rows); row_group −1 means the whole file and n_rows −1
    the row group's tail. Whole-file units grouped `files_per_task` per
    task are the default (the 10^12-row regime: the file IS the
    parallelism grain); when that yields fewer tasks than
    `target_tasks` — the single/few-file inputs a local bench or an
    unpartitioned drop produces — the footers are probed (driver-side,
    metadata only) and work splits per ROW GROUP, then into row RANGES
    within a row group, so one 126 MB file no longer serializes stage 1
    onto one core. `files_per_task` > 1 is treated as a deliberate
    undersubscription factor (the measured fat-worker win on
    memory-bus-bound token workloads) and scales the target down."""
    import pyarrow.parquet as pq

    chunks = [[(p, -1, 0, -1) for p in paths[i:i + files_per_task]]
              for i in range(0, len(paths), files_per_task)]
    if len(chunks) >= target_tasks:
        return chunks
    rg_units: list[tuple] = []
    for p in paths:
        meta = pq.ParquetFile(p).metadata
        for rg in range(meta.num_row_groups):
            rg_units.append((p, rg, 0, meta.row_group(rg).num_rows))
    if not rg_units:
        return chunks
    out: list[tuple] = []
    if len(rg_units) >= target_tasks:
        out = rg_units
    else:
        per_rg = -(-target_tasks // len(rg_units))   # ceil
        for p, rg, _, n in rg_units:
            slices = max(1, min(per_rg, n // _MIN_SLICE_ROWS))
            bounds = [(n * i) // slices for i in range(slices + 1)]
            out.extend((p, rg, lo, hi - lo)
                       for lo, hi in zip(bounds, bounds[1:]) if hi > lo)
    return [[u] for u in out]


def build_partials_from_files(spark: SparkSession, paths: list[str],
                              specs: list[SketchSpec],
                              group_cols: tuple[str, ...] = (),
                              salt_buckets: int = 32,
                              files_per_task: int = 1,
                              batch_size: int = 2048,
                              split_within_files: bool = True) -> DataFrame:
    """Stage 1 fast path: parallelize the parquet FILE LIST and read each
    file with pyarrow inside the Python task — no JVM scan, no JVM→Python
    Arrow IPC. ~10× stage-1 throughput for Python-side consumers; column
    pruning via `columns=` is preserved. The unit of parallelism (and of
    checkpoint lineage) is the input file — exactly the granularity a
    10^12-row Iceberg table exposes via its manifest — refined to row
    groups / row ranges only when the file list alone would leave cores
    idle (`_file_work_units`)."""
    import pyarrow.parquet as pq

    needed = sorted({c for s in specs for c in s.columns} | set(group_cols))
    in_schema = _footer_schema(spark, paths[0])
    out_schema = _partial_schema(in_schema, group_cols)
    build = _make_stage1(specs, group_cols, salt_buckets, out_schema)

    # `split_within_files=False` pins the task list to exactly one
    # files_per_task-sized file group per partition — callers whose
    # durable lineage is keyed on (partition id == file-chunk id), like
    # operators/checkpoint.py, need that bijection more than parallelism
    par = max(1, int(spark.sparkContext.defaultParallelism))
    target = max(1, par // max(1, files_per_task)) if split_within_files else 1
    chunks = _file_work_units(paths, files_per_task, target)
    # scalar-only reads take bigger batches: the 2048-row default guards
    # the token-ARRAY workloads' mmap-churn cliff (large per-batch list
    # allocations); a few plain numeric/string columns at 32k rows are
    # a couple hundred KB and the per-batch Python overhead dominates
    if not any(isinstance(in_schema[c].dataType, ArrayType) for c in needed):
        batch_size = max(batch_size, 32_768)
    # spark.range with numPartitions == len(chunks) puts EXACTLY one chunk
    # id in each partition — no round-robin skew in file→task assignment
    ids_df = spark.range(0, len(chunks), numPartitions=len(chunks))
    chunks_bc = spark.sparkContext.broadcast(chunks)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def file_batches():
            for b in batches:
                for cid in b.column(0).to_pylist():
                    for f, rg, start, n in chunks_bc.value[cid]:
                        # modest batch_size keeps per-batch allocations a few
                        # MB — large batches re-trigger the mmap-churn cliff
                        pf = pq.ParquetFile(f)
                        if rg < 0:
                            yield from pf.iter_batches(
                                columns=needed, batch_size=batch_size)
                            continue
                        # row-range slice: stream the row group and crop to
                        # [start, start+n) — the prefix is decoded and
                        # dropped (parquet has no sub-row-group seek), the
                        # tail is never read thanks to the early break
                        end, pos = start + n, 0
                        for bb in pf.iter_batches(columns=needed,
                                                  batch_size=batch_size,
                                                  row_groups=[rg]):
                            lo = max(start - pos, 0)
                            hi = min(end - pos, bb.num_rows)
                            if hi > lo:
                                yield bb.slice(lo, hi - lo)
                            pos += bb.num_rows
                            if pos >= end:
                                break
        yield from build(file_batches())

    return ids_df.mapInArrow(run, schema=out_schema)


def parquet_file_list(path: str) -> list[str]:
    """All data files of a parquet directory (sorted, deterministic).
    Raises FileError (reference FILE_ERROR, −3) when nothing is there —
    an empty file list would otherwise surface as an opaque index error
    deep in stage-1 planning."""
    import glob
    import os
    from p2pddsketch_spark.errors import FileError
    if os.path.isfile(path):
        return [path]
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileError(f"no parquet files at {path!r}")
    return files


# the footer key under which Spark's parquet writer stores the exact
# schema it wrote; Spark's own inference prefers it to the parquet types
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt: DataType) -> DataType:
    """Spark's `asNullable`: every field, element and value nullable."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                           for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


# the only leaf types Spark's parquet inference yields; pyarrow maps
# some footers to others (durations → intervals, all-null → NullType)
_INFERRED_LEAVES = (BooleanType, ByteType, ShortType, IntegerType, LongType,
                    FloatType, DoubleType, DecimalType, StringType, BinaryType,
                    DateType, TimestampType, TimestampNTZType)


def _spark_infers(dt: DataType) -> bool:
    if isinstance(dt, StructType):
        return all(_spark_infers(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _spark_infers(dt.elementType)
    if isinstance(dt, MapType):
        return _spark_infers(dt.keyType) and _spark_infers(dt.valueType)
    return isinstance(dt, _INFERRED_LEAVES)


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema `spark.read.parquet(path)` would infer, read on the
    driver from the first data file's footer instead of by a Spark job;
    `spark.read.schema(_footer_schema(spark, p)).parquet(p)` then plans
    with no job at all.

    The schema a Spark writer stored in the footer is taken as is; else
    the Arrow schema pyarrow reads from the footer (rebuilt from its
    stored `ARROW:schema` when there is one) is mapped with tz-less
    timestamps as TimestampNTZ, every field forced nullable. What that
    cannot match is left to Spark's inference, one job: a URI path
    (only Spark's filesystems resolve it), INT96 timestamps, columns
    pyspark cannot map (unsigned, half-float) and columns that map to a
    type Spark's inference never yields (a duration, an all-null
    column)."""
    import pyarrow.parquet as pq
    from urllib.parse import urlparse
    from pyspark.sql.pandas.types import from_arrow_schema
    if urlparse(path).scheme:
        return spark.read.parquet(path).schema
    meta = pq.read_metadata(parquet_file_list(path)[0])
    stored = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return _as_nullable(StructType.fromJson(json.loads(stored)))
    if all(c.physical_type != "INT96" for c in meta.schema):
        try:
            mapped = from_arrow_schema(meta.schema.to_arrow_schema(),
                                       prefer_timestamp_ntz=True)
        except TypeError:
            mapped = None
        if mapped is not None and _spark_infers(mapped):
            return _as_nullable(mapped)
    return spark.read.parquet(path).schema


# don't bother spreading inputs smaller than this: the repartition
# shuffle + 32-way tiny partials cost more than the serial build saves
# (measured +~1 s per 50k-row micro-batch on the stream-dedup path)
_SPREAD_MIN_BYTES = 8 << 20


def _spread_worthwhile(files: list[str]) -> bool:
    """True when the (small) backing file set is big enough that
    spreading stage 1 beats running it serially. Sizes come from a
    driver-side stat of local paths; non-local URIs (no cheap stat)
    spread unconditionally, as before."""
    import os as _os
    from urllib.parse import unquote, urlparse
    total = 0
    for f in files:
        if f.startswith("file:"):
            p = unquote(urlparse(f).path)
        elif "://" not in f:
            p = f
        else:
            return True
        try:
            total += _os.path.getsize(p)
        except OSError:
            return True
        if total >= _SPREAD_MIN_BYTES:
            return True
    return total >= _SPREAD_MIN_BYTES


def build_partials(df: DataFrame, specs: list[SketchSpec],
                   group_cols: tuple[str, ...] = (),
                   salt_buckets: int = 32) -> DataFrame:
    """Stage 1 only: per-(partition, spec, group) sketch rows with lineage
    metrics. Persist this to parquet for checkpoint/resume.

    Small-file inputs arrive as one (or a few) scan partitions — a
    single-file table serializes stage 1 onto one core. When the backing
    file count is positive but below the parallelism AND the files are
    big enough to be worth spreading (`_spread_worthwhile`), the PRUNED
    projection is round-robin repartitioned first: the shuffle moves only
    the needed columns of an input that is by definition small, and at
    production scale (files ≫ cores) the branch never fires, so raw data
    is still never shuffled there. Non-file-backed frames (views,
    foreachBatch micro-batches) report no files and keep their layout."""
    needed = sorted({c for s in specs for c in s.columns} | set(group_cols))
    out_schema = _partial_schema(df.schema, group_cols)
    pruned = df.select(*needed)
    par = max(1, int(df.sparkSession.sparkContext.defaultParallelism))
    try:
        files = list(df.inputFiles())
    except Exception:
        files = []
    if 0 < len(files) < par and _spread_worthwhile(files):
        pruned = pruned.repartition(par)
    return pruned.mapInArrow(_make_stage1(specs, group_cols, salt_buckets, out_schema),
                             schema=out_schema)


def _merge(partials: DataFrame, group_cols: tuple[str, ...],
           salted: bool) -> DataFrame:
    """Final merge per (group, name), after the salted level when
    `salted` — the one merge path behind `merge_partials` and
    `build_sketches_from_files`."""
    partials = partials.where(F.col("sketch_name") != EMPTY_MARKER)
    out_schema = partials.schema
    keys = list(group_cols) + ["sketch_name"]
    if salted:
        partials = partials.groupBy(*keys, "salt").applyInArrow(
            _merge_fn(out_schema, group_cols, final=False), schema=out_schema)
    return partials.groupBy(*keys).applyInArrow(
        _merge_fn(out_schema, group_cols, final=True), schema=out_schema)


def merge_partials(partials: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Stages 2+3: salted partial merge, then final merge per (name, group)."""
    return _merge(partials, group_cols, salted=True)


def build_sketches(df: DataFrame, specs: list[SketchSpec],
                   group_cols: tuple[str, ...] = (),
                   salt_buckets: int = 32) -> DataFrame:
    """Full pipeline: returns one row per (group, sketch_name) with the
    final merged sketch blob plus total rows/build-time lineage."""
    return merge_partials(build_partials(df, specs, group_cols, salt_buckets),
                          group_cols)


def build_sketches_from_files(spark: SparkSession, path: str,
                              specs: list[SketchSpec],
                              group_cols: tuple[str, ...] = (),
                              salt_buckets: int = 32,
                              files_per_task: int = 1,
                              batch_size: int = 2048) -> DataFrame:
    """Full pipeline over a parquet directory via the file-list fast path.

    The salt is `partition_id % salt_buckets`, so when stage 1 has at most
    `salt_buckets` tasks every (group, name, salt) key holds exactly one
    partial and the salted level would only re-serialize it behind a
    shuffle: the merge is then the final level alone (one exchange).
    Stage 1 here is a mapInArrow over `spark.range`, whose partition
    count is known from the plan without running a job."""
    paths = parquet_file_list(path)
    partials = build_partials_from_files(spark, paths, specs, group_cols,
                                         salt_buckets, files_per_task, batch_size)
    return _merge(partials, group_cols,
                  salted=partials.rdd.getNumPartitions() > salt_buckets)


def final_sketches(partials: DataFrame, group_cols: tuple[str, ...] = (),
                   driver_max_partials: int = 4096,
                   driver_max_bytes: int = 64 << 20) -> dict:
    """Final merge with an automatic driver/shuffle switch.

    Materializes stage 1 once (`localCheckpoint`, one job) and reads the
    partial count and total blob bytes from an `Observation` on that
    same job, so deciding costs no extra pass over the partials. When
    both are interactive-small the checkpointed partials are collected
    and the blobs fold driver-side (2 jobs in all); otherwise the salted
    shuffle merge tree (`merge_partials`) runs over the checkpoint and
    only the final one-row-per-(group, spec) results are collected —
    the 10^5+-partial regime where funnelling every (partition × group)
    blob through the driver would bottleneck. The chosen route is
    logged at INFO with the two numbers that chose it.

    The threshold is partials-count AND bytes so a few huge DDSketch
    blobs (bin_limit 2^22) also route through the tree.
    Returns {(group..., name): sketch} either way.
    """
    # Materialize stage 1 EXACTLY ONCE with a fully-parallel job, so the
    # merge tree never re-executes it. The Observation is unnamed (a
    # fresh UUID name), so concurrent calls on one session cannot
    # collide; the checkpoint blocks are freed by the ContextCleaner
    # once the DataFrame goes out of scope.
    obs = Observation()
    mat = partials.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("sketch")), F.lit(0)).alias("bytes")
    ).localCheckpoint(eager=True)
    m = obs.get
    n, nbytes = int(m["n"]), int(m["bytes"])
    driver = n <= driver_max_partials and nbytes <= driver_max_bytes
    _log.info("final_sketches: %s over %d partials, %d bytes",
              "driver fold" if driver else "merge tree", n, nbytes)
    if driver:
        rows = mat.select(*group_cols, "sketch_name", "sketch").collect()
        return _merge_partial_rows(rows, group_cols)
    return collect_sketches(merge_partials(mat, group_cols), group_cols)


def _merge_partial_rows(rows, group_cols: tuple[str, ...]) -> dict:
    grouped: dict = {}
    for row in rows:
        if row["sketch_name"] == EMPTY_MARKER:
            continue
        key = tuple(row[c] for c in group_cols) + (row["sketch_name"],)
        grouped.setdefault(key, []).append(bytes(row["sketch"]))
    out = {}
    for key, blobs in grouped.items():
        out[key if len(key) > 1 else key[0]] = sketch_from_bytes(merge_blobs(blobs))
    return out


def collect_sketches(sketch_df: DataFrame, group_cols: tuple[str, ...] = ()) -> dict:
    """Driver-side: {(group..., name): sketch object}. The final sketch rows
    are tiny (one per group×spec) — this is the only collect in the system."""
    out = {}
    for row in sketch_df.collect():
        key = tuple(row[c] for c in group_cols) + (row["sketch_name"],)
        out[key if len(key) > 1 else key[0]] = sketch_from_bytes(row["sketch"])
    return out
