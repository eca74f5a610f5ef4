"""The two workloads, and the warehouse round the traced query_mix run
adds. Each workload is a closed loop with one client: a pass is the
sequence of library calls one caller waits on, and the next pass starts
when the previous one has returned.

Every pass is checked against exact answers computed during set-up,
outside the timed region; a pass fails on a wrong answer, a breached
accuracy bound or an exception.

A workload's `run_pass(tracer)` returns a `Pass`. With a tracer, the
library calls of the pass run inside spans (see tracing.py); the
untraced and traced passes call the same library functions, except that
the traced tokens_build pass materializes stage 1 and the merge tree
separately so each layer gets its own span.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import inputs

DAY_US = inputs.DAY_US


@dataclass
class Pass:
    secs: float              # wall time of the pass's library calls
    quantile_err_ratio: float = 0.0   # mean |est - exact| / exact / alpha
    errors: list = field(default_factory=list)
    sizes: dict = field(default_factory=dict)   # harness sizes, traced passes


@contextmanager
def _span(tracer, name: str, trace_id: str | None):
    if tracer is None:
        yield
    else:
        with tracer.span(name, trace_id):
            yield


def _timed(tracer, name: str, fn, trace_id: str | None = None):
    """Run fn() inside a span when tracing; return (result, seconds)."""
    t0 = time.monotonic()
    with _span(tracer, name, trace_id):
        out = fn()
    return out, time.monotonic() - t0


def _stage1(spark, tracer, trace_id, paths, specs, group_cols):
    """Stage 1 in its own span, materialized as `final_sketches` does it."""
    from p2pddsketch_spark.operators import harness as H
    mat, _ = _timed(tracer, "harness.stage1", lambda: H.build_partials_from_files(
        spark, paths, specs, group_cols).localCheckpoint(eager=True), trace_id)
    return mat


def harness_split(spark, tracer, trace_id, paths, specs, group_cols):
    """tokens_build's build (`build_sketches_from_files` then
    `collect_sketches`) as three calls, each in its own span: stage 1
    (materialized), the merge tree on the materialized partials
    (materialized), and the driver fold. Returns (sketches, partials,
    collected rows)."""
    from p2pddsketch_spark.operators import harness as H
    mat = _stage1(spark, tracer, trace_id, paths, specs, group_cols)
    merged, _ = _timed(tracer, "harness.merge_tree", lambda: H.merge_partials(
        mat, group_cols).localCheckpoint(eager=True), trace_id)
    out, _ = _timed(tracer, "harness.fold",
                    lambda: H.collect_sketches(merged, group_cols), trace_id)
    return out, mat, merged


def final_split(spark, tracer, trace_id, paths, specs, group_cols):
    """An interactive query's build (`build_partials_from_files` then
    `final_sketches`, as `plans.queries.ddsketch_quantiles_via_harness`
    runs it) as two spans: stage 1 (materialized), then `final_sketches`
    on those partials, which at interactive sizes probes them and folds
    them on the driver with no merge tree. `final_sketches` checkpoints
    its input again, so the split runs one job more than the query (a
    re-checkpoint of partials already in memory). Returns (sketches,
    partials, collected rows)."""
    from p2pddsketch_spark.operators import harness as H
    mat = _stage1(spark, tracer, trace_id, paths, specs, group_cols)
    out, _ = _timed(tracer, "harness.fold",
                    lambda: H.final_sketches(mat, group_cols), trace_id)
    return out, mat, mat


def harness_sizes(partials, collected) -> dict:
    """Partial count and bytes, and bytes the fold collects; run outside
    any span so these probe jobs are not attributed to a layer."""
    from pyspark.sql import functions as F
    n, nbytes = partials.agg(F.count("*"), F.sum(F.length("sketch"))).first()
    return {"partials": int(n), "partial_bytes": int(nbytes or 0),
            "collect_bytes": int(collected.agg(F.sum(F.length("sketch"))).first()[0] or 0)}


def _check(errors: list, ok: bool, what: str) -> None:
    if not ok:
        errors.append(what)


# ------------------------------------------------------------- tokens_build

class TokensBuild:
    """The north-star one-pass build: six sketches over a seeded
    sequences table, grouped by the 80 %-skewed `source`."""

    name = "tokens_build"
    group_cols = ("source",)
    alpha = 0.001
    # p50/p95/p99/p999 plus every percentile: the mean error over this many
    # points is steady across seeds (the max over p50..p999 alone ranged
    # 0.81-0.97 of alpha, and over all percentiles it is pinned at alpha by
    # the rows clipped to n_tok = 1)
    qs = sorted(set(inputs.QS) | {i / 100 for i in range(1, 100)})

    n_rows = 200_000        # stage 1 is over half of a pass at this size

    def __init__(self, spark, work_dir: str, seed: int):
        from p2pddsketch_spark.sources.sequences import SOURCES
        self.spark, self.work_dir, self.seed = spark, work_dir, seed
        self.sources = [str(s) for s in SOURCES]

    def specs(self):
        from p2pddsketch_spark.operators.harness import (SketchSpec, array_extractor,
                                                         scalar_extractor)
        from p2pddsketch_spark.sketches.bloom import BloomFilter
        from p2pddsketch_spark.sketches.cms import CountMinSketch
        from p2pddsketch_spark.sketches.ddsketch import DDSketch
        from p2pddsketch_spark.sketches.hll import HyperLogLog
        from p2pddsketch_spark.sketches.kll import KLLSketch
        from p2pddsketch_spark.sketches.tdigest import TDigest
        alpha = self.alpha
        return [
            SketchSpec("dds_ntok", lambda: DDSketch(alpha=alpha, bin_limit=1 << 22),
                       scalar_extractor("n_tok")),
            SketchSpec("kll_ntok", lambda: KLLSketch(k=256), scalar_extractor("n_tok")),
            SketchSpec("tdigest_ntok", lambda: TDigest(delta=200), scalar_extractor("n_tok")),
            SketchSpec("hll_tokens", lambda: HyperLogLog(p=14), array_extractor("tokens")),
            SketchSpec("cms_tokens", lambda: CountMinSketch(depth=4, width=1 << 16),
                       array_extractor("tokens")),
            SketchSpec("bloom_tokens", lambda: BloomFilter(m_bits=1 << 21, k=5),
                       array_extractor("tokens")),
        ]

    def make_inputs(self) -> None:
        self.seq = inputs.write_sequences(os.path.join(self.work_dir, "sequences"),
                                          self.seed, self.n_rows)
        rng = np.random.default_rng([self.seed, 9])
        self.samples = {}
        for i, s in enumerate(self.sources):
            present = np.flatnonzero(self.seq.token_counts[i])
            pick = rng.choice(present, size=min(512, present.size), replace=False)
            self.samples[s] = (pick.astype(np.int64), self.seq.token_counts[i][pick])
        self.exact_q = {s: [inputs.exact_quantile(v, q) for q in self.qs]
                        for s, v in self.seq.ntok_by_source.items()}
        self.exact_distinct = {s: int(np.count_nonzero(self.seq.token_counts[i]))
                               for i, s in enumerate(self.sources)}

    def harness_input(self):
        from p2pddsketch_spark.operators.harness import parquet_file_list
        return parquet_file_list(self.seq.path), self.specs(), self.group_cols

    def run_pass(self, tracer=None, trace_id=None) -> Pass:
        from p2pddsketch_spark.operators import harness as H
        sizes = {}
        t0 = time.monotonic()
        if tracer is None:
            out = H.collect_sketches(
                H.build_sketches_from_files(self.spark, self.seq.path, self.specs(),
                                            self.group_cols), self.group_cols)
            secs = time.monotonic() - t0
        else:
            with _span(tracer, "pass", trace_id):
                out, mat, merged = harness_split(self.spark, tracer, trace_id,
                                                 *self.harness_input())
            secs = time.monotonic() - t0
            sizes = harness_sizes(mat, merged)
        p = Pass(secs=secs, sizes=sizes)
        self.check(out, p)
        return p

    def check(self, out: dict, p: Pass) -> None:
        e = p.errors
        _check(e, len(out) == 6 * len(self.sources), f"{len(out)} sketches")
        ratios = []
        for s in self.sources:
            dds = out.get((s, "dds_ntok"))
            if dds is None:
                e.append(f"missing sketches for {s}")
                continue
            for q, est, exact in zip(self.qs, dds.quantiles(self.qs), self.exact_q[s]):
                r = inputs.rel_err(float(est), exact) / self.alpha
                ratios.append(r)
                _check(e, r <= 1 + 1e-9, f"dds {s} p{q}: err/alpha {r:.3f}")
            exact = self.exact_distinct[s]
            est = out[(s, "hll_tokens")].cardinality()
            _check(e, abs(est - exact) <= 4 * 1.04 / 128 * exact,
                   f"hll {s}: {est:.0f} vs {exact}")
            toks, counts = self.samples[s]
            _check(e, bool(out[(s, "bloom_tokens")].contains(toks).all()),
                   f"bloom {s}: false negative")
            _check(e, bool((out[(s, "cms_tokens")].estimate(toks) >= counts).all()),
                   f"cms {s}: undercount")
        p.quantile_err_ratio = float(np.mean(ratios)) if ratios else 0.0

    def l0_columns(self):
        """(values, items, ts) slice of this workload's own columns."""
        import pyarrow.parquet as pq
        from p2pddsketch_spark.operators.harness import parquet_file_list
        tb = pq.read_table(parquet_file_list(self.seq.path)[0], columns=["n_tok", "tokens"])
        values = tb.column("n_tok").to_numpy().astype(np.float64)[:200_000]
        items = tb.column("tokens").combine_chunks().flatten().to_numpy()[:2_000_000]
        # sequences carry no time: spread row order over 30 days
        ts = (np.arange(items.size, dtype=np.int64) * (30 * DAY_US // items.size))
        return values, items.astype(np.int64), ts


# ---------------------------------------------------------------- query_mix

def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """tools/check_correctness.py's canonical form: columns by name,
    integer and float widths unified, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


class QueryMix:
    """Interactive declared queries over the sf0.1 tables in `data/sf0.1`,
    in a seed-permuted order. `tpch_q1` runs no library code."""

    name = "query_mix"
    QUERIES = ["dds_quantiles_lineitem", "dds_price_by_flag", "dds_catalyst",
               "sketch_counts_events", "minhash_lsh_pairs_prod", "ann_cosine_topk",
               "tpch_q1"]
    # compared with their DuckDB twins exactly; the other two are checked
    # against their contracts (see RATIONALE.md)
    TWINNED = ["dds_quantiles_lineitem", "dds_price_by_flag", "sketch_counts_events",
               "ann_cosine_topk", "tpch_q1"]
    ALPHA = {"dds_quantiles_lineitem": 0.01, "dds_price_by_flag": 0.005,
             "dds_catalyst": 0.01}        # each query's DDSketch alpha

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark, self.work_dir, self.seed = spark, work_dir, seed
        self.order = list(self.QUERIES)
        random.Random(seed).shuffle(self.order)

    def make_inputs(self) -> None:
        import duckdb
        import pyarrow.parquet as pq
        from p2pddsketch_spark.plans.oracles import ORACLES
        sf = self.sf_dir = inputs.SF_DIR
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.work_dir, 'duckdb')}'")
        try:
            for t in inputs.SF_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            self.twins = {q: _canon(con.sql(ORACLES[q]).df()) for q in self.TWINNED}
            self.exact = {
                "lineitem.l_quantity": np.sort(con.sql(
                    "SELECT l_quantity FROM lineitem").fetchnumpy()["l_quantity"]),
                "events.value": np.sort(con.sql(
                    "SELECT value FROM events WHERE value IS NOT NULL AND NOT isnan(value)"
                ).fetchnumpy()["value"]),
            }
            for flag, in con.sql("SELECT DISTINCT l_returnflag FROM lineitem").fetchall():
                self.exact[f"price.{flag}"] = np.sort(con.sql(
                    "SELECT l_extendedprice FROM lineitem WHERE l_returnflag = ?",
                    params=[flag]).fetchnumpy()["l_extendedprice"])
            for lang, in con.sql("SELECT DISTINCT lang FROM documents").fetchall():
                self.exact[f"doclen.{lang}"] = np.sort(con.sql(
                    "SELECT n_chars FROM documents WHERE lang = ?",
                    params=[lang]).fetchnumpy()["n_chars"]).astype(np.float64)
        finally:
            con.close()
        docs = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text"])
        self.shingles = dict(zip(docs.column("doc_id").to_pylist(),
                                 map(inputs.word_shingles, docs.column("text").to_pylist())))
        # LSH with 32 bands x 4 rows misses a pair with J >= 0.8 with
        # probability below 5e-8, so every such pair must be returned
        self.must_pair = inputs.similar_pairs(self.shingles, 0.8)

    def harness_input(self):
        """dds_price_by_flag's build: one scalar DDSketch per return flag."""
        from p2pddsketch_spark.operators.harness import SketchSpec, scalar_extractor
        from p2pddsketch_spark.sketches.ddsketch import DDSketch
        spec = SketchSpec("dds", lambda: DDSketch(alpha=0.005, bin_limit=1 << 22),
                          scalar_extractor("l_extendedprice"))
        return [f"{self.sf_dir}/lineitem.parquet"], [spec], ("l_returnflag",)

    def run_pass(self, tracer=None, trace_id=None) -> Pass:
        import __spark_entry__ as E
        fns = E.queries()
        sf = self.sf_dir
        results, errors = {}, []
        t0 = time.monotonic()
        with _span(tracer, "pass", trace_id):
            for q in self.order:
                try:
                    results[q], _ = _timed(tracer, f"queries.{q}",
                                           lambda: fns[q](self.spark, sf).toPandas(),
                                           trace_id)
                except Exception as ex:          # a failed query fails the pass
                    errors.append(f"{q}: {type(ex).__name__}: {ex}")
        p = Pass(secs=time.monotonic() - t0, errors=errors)
        self.check(results, p)
        return p

    def _quantile_rows(self, df, alpha, exact_of, p: Pass, what: str) -> list:
        ratios = []
        for row in df.itertuples(index=False):
            vals = exact_of(row)
            _check(p.errors, vals is not None and int(row.n) == len(vals),
                   f"{what}: row count")
            if vals is None or not len(vals):
                continue
            r = inputs.rel_err(row.estimate, inputs.exact_quantile(vals, row.q)) / alpha
            ratios.append(r)
            _check(p.errors, r <= 1 + 1e-9, f"{what} q={row.q}: err/alpha {r:.3f}")
        return ratios

    def check(self, res: dict, p: Pass) -> None:
        for q in self.TWINNED:
            if q in res:
                got = _canon(res[q])
                _check(p.errors, got.shape == self.twins[q].shape and got.equals(self.twins[q]),
                       f"{q}: differs from its DuckDB twin")
        ex = self.exact
        ratios = []
        if "dds_quantiles_lineitem" in res:
            ratios.extend(self._quantile_rows(
                res["dds_quantiles_lineitem"], self.ALPHA["dds_quantiles_lineitem"],
                lambda r: ex["lineitem.l_quantity"],
                p, "dds_quantiles_lineitem"))
        if "dds_price_by_flag" in res:
            ratios.extend(self._quantile_rows(
                res["dds_price_by_flag"], self.ALPHA["dds_price_by_flag"],
                lambda r: ex.get(f"price.{r.l_returnflag}"),
                p, "dds_price_by_flag"))
        if "dds_catalyst" in res:
            df = res["dds_catalyst"]
            _check(p.errors, set(df["src"]) == {"events_value", "documents_len_by_lang"},
                   "dds_catalyst: sources")

            def catalyst_values(r):
                return (ex["events.value"] if r.src == "events_value"
                        else ex.get(f"doclen.{r.lang}"))
            ratios.extend(self._quantile_rows(df, self.ALPHA["dds_catalyst"],
                                              catalyst_values, p, "dds_catalyst"))
        if "minhash_lsh_pairs_prod" in res:
            df = res["minhash_lsh_pairs_prod"]
            sh = self.shingles
            for a, b, jac in df[["id_a", "id_b", "jaccard"]].itertuples(index=False):
                exact = round(inputs.jaccard(sh[a], sh[b]), 6)
                _check(p.errors, a < b and jac == exact and jac >= 0.5,
                       f"minhash pair ({a},{b}): {jac} vs exact {exact}")
            found = set(zip(df["id_a"], df["id_b"]))
            _check(p.errors, self.must_pair <= found,
                   f"minhash: {len(self.must_pair - found)} pairs with J>=0.8 missed")
        p.quantile_err_ratio = float(np.mean(ratios)) if ratios else 0.0

    def l0_columns(self):
        import pyarrow.parquet as pq
        tb = pq.read_table(f"{self.sf_dir}/lineitem.parquet",
                           columns=["l_extendedprice", "l_partkey", "l_shipdate"])
        ts = tb.column("l_shipdate").combine_chunks().cast("int64").to_numpy()
        return (tb.column("l_extendedprice").to_numpy(),
                tb.column("l_partkey").to_numpy().astype(np.int64), ts)


# ---------------------------------------------------------------- warehouse

class WarehouseRound:
    """Writes beside reads, over the sf0.1 `events` table split into
    seeded batches: a round commits one batch with `rollup_update` (five
    window families by event_type, merging with the prior version), then
    answers the four trailing-window monitors from the committed blobs.
    Only the traced query_mix run runs it (see RATIONALE.md)."""

    n_batches = 8
    window = 7 * DAY_US
    alpha = 0.01

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark, self.work_dir, self.seed = spark, work_dir, seed
        self.state = os.path.join(work_dir, "state")
        self.next_batch = 0

    def specs(self):
        from p2pddsketch_spark.operators.harness import (SketchSpec, pair_extractor,
                                                         scalar_extractor, vpair_extractor)
        from p2pddsketch_spark.sketches.ddsketch import DDSketch
        from p2pddsketch_spark.sketches.eh import ExpHistogram
        from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog
        from p2pddsketch_spark.sketches.wdds import WindowedDDSketch
        from p2pddsketch_spark.sketches.wss import WindowedSpaceSaving
        return [
            SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 22),
                       scalar_extractor("value")),
            SketchSpec("wdds", lambda: WindowedDDSketch(alpha=0.01, bucket_width=DAY_US,
                                                        max_buckets=1024),
                       vpair_extractor("value", "ts")),
            SketchSpec("shll", lambda: SlidingHyperLogLog(p=14),
                       pair_extractor("user_id", "ts")),
            SketchSpec("eh", lambda: ExpHistogram(k=32), scalar_extractor("ts")),
            SketchSpec("wss", lambda: WindowedSpaceSaving(k=64, bucket_width=DAY_US,
                                                          max_buckets=1024),
                       pair_extractor("user_id", "ts")),
        ]

    def make_inputs(self) -> None:
        import pyarrow.parquet as pq
        ev = pq.read_table(f"{inputs.SF_DIR}/events.parquet")
        perm = np.random.default_rng([self.seed, 8]).permutation(ev.num_rows)
        parts = np.array_split(perm, self.n_batches)
        self.batch_paths = []
        bdir = os.path.join(self.work_dir, "batches")
        os.makedirs(bdir, exist_ok=True)
        for i, idx in enumerate(parts):
            path = os.path.join(bdir, f"batch-{i:03d}.parquet")
            pq.write_table(ev.take(np.sort(idx)), path)
            self.batch_paths.append(path)
        self.batch_of = np.empty(ev.num_rows, dtype=np.int64)
        for i, idx in enumerate(parts):
            self.batch_of[idx] = i
        self.ts = ev.column("ts").combine_chunks().cast("int64").to_numpy()
        self.user = ev.column("user_id").to_numpy()
        self.value = ev.column("value").to_numpy()
        self.etype = np.array(ev.column("event_type").to_pylist())

    def run_pass(self, tracer=None, trace_id=None) -> Pass:
        from p2pddsketch_spark.operators import rollup as R
        b = self.next_batch
        self.next_batch += 1
        wins = [self.window]
        sp = self.spark
        out = {}
        t0 = time.monotonic()
        with _span(tracer, "rollup", trace_id):
            _timed(tracer, "rollup.update", lambda: R.rollup_update(
                sp, self.batch_paths[b], self.state, self.specs(),
                group_cols=("event_type",), salt_buckets=8), trace_id)
            for key, fn in [
                    ("quantiles", lambda: R.rollup_window_quantiles(
                        sp, self.state, [0.5, 0.99], wins, sketch_name="wdds")),
                    ("cardinality", lambda: R.rollup_window_cardinality(sp, self.state, wins)),
                    ("rows", lambda: R.rollup_window_rows(sp, self.state, wins)),
                    ("topk", lambda: R.rollup_window_topk(sp, self.state, wins, m=10))]:
                out[key], _ = _timed(tracer, f"rollup.window.{key}",
                                     lambda: fn().toPandas(), trace_id)
        p = Pass(secs=time.monotonic() - t0)
        self.check(out, b, p)
        return p

    def check(self, out: dict, b: int, p: Pass) -> None:
        """Each monitor against the exact answer over batches 0..b, within
        its family's documented bound."""
        e = p.errors
        live = self.batch_of <= b
        groups = {}
        for g in np.unique(self.etype[live]):
            m = live & (self.etype == g)
            groups[g] = (self.ts[m], self.user[m], self.value[m])
        ratios = []
        for r in out["quantiles"].itertuples(index=False):
            ts, _, val = groups[r.event_type]
            cov = np.sort(val[(ts >= r.covered_from) & (ts < r.covered_to)])
            _check(e, int(r.n_covered) == cov.size, f"wdds {r.event_type}: n_covered")
            if cov.size:
                x = inputs.rel_err(r.estimate, inputs.exact_quantile(cov, r.q)) / self.alpha
                ratios.append(x)
                _check(e, x <= 1 + 1e-9, f"wdds {r.event_type} q={r.q}: err/alpha {x:.3f}")
        for r in out["cardinality"].itertuples(index=False):
            ts, user, _ = groups[r.event_type]
            exact = np.unique(user[ts >= ts.max() - r.window + 1]).size
            _check(e, abs(r.estimate - exact) <= 4 * 1.04 / 128 * exact,
                   f"shll {r.event_type}: {r.estimate:.1f} vs {exact}")
        for r in out["rows"].itertuples(index=False):
            ts, _, _ = groups[r.event_type]
            exact = int((ts > ts.max() - r.window).sum())
            _check(e, abs(r.estimate - exact) <= r.err_bound,
                   f"eh {r.event_type}: {r.estimate} vs {exact} +- {r.err_bound}")
        for r in out["topk"].itertuples(index=False):
            ts, user, _ = groups[r.event_type]
            cov = (ts >= r.covered_from) & (ts < r.covered_to)
            true = int((user[cov] == r.item).sum())
            _check(e, int(r.n_covered) == int(cov.sum()), f"wss {r.event_type}: n_covered")
            _check(e, r.count_est - r.count_err <= true <= r.count_est,
                   f"wss {r.event_type} item {r.item}: {true} outside "
                   f"[{r.count_est - r.count_err}, {r.count_est}]")
        for key in ("quantiles", "cardinality", "rows", "topk"):
            _check(e, set(out[key]["event_type"]) == set(groups), f"{key}: groups")
        p.quantile_err_ratio = float(np.mean(ratios)) if ratios else 0.0


WORKLOADS = {w.name: w for w in (TokensBuild, QueryMix)}
