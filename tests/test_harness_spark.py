"""End-to-end Spark tests for the sketch aggregation harness (SURVEY.md
§5.2 item 5): sequences table → single-pass multi-sketch build →
two-level shuffle merge → queries vs exact oracles.
"""

import numpy as np
import pytest

from p2pddsketch_spark.operators.harness import (
    SketchSpec, array_extractor, build_sketches, collect_sketches,
    scalar_extractor,
)
from p2pddsketch_spark.sketches.bloom import BloomFilter
from p2pddsketch_spark.sketches.cms import CountMinSketch
from p2pddsketch_spark.sketches.ddsketch import DDSketch
from p2pddsketch_spark.sketches.hll import HyperLogLog
from p2pddsketch_spark.sources.sequences import regenerate_rows

ALPHA = 0.001


def _specs():
    return [
        SketchSpec("dds_ntok", lambda: DDSketch(alpha=ALPHA, bin_limit=1 << 22),
                   scalar_extractor("n_tok")),
        SketchSpec("hll_tokens", lambda: HyperLogLog(p=14),
                   array_extractor("tokens")),
        SketchSpec("cms_tokens", lambda: CountMinSketch(depth=5, width=1 << 15),
                   array_extractor("tokens")),
        SketchSpec("bloom_tokens", lambda: BloomFilter(m_bits=1 << 21, k=5),
                   array_extractor("tokens")),
    ]


@pytest.fixture(scope="module")
def built(spark, sequences_path):
    df = spark.read.parquet(sequences_path)
    out = build_sketches(df, _specs(), salt_buckets=8)
    return collect_sketches(out)


def _exact_tokens(sequences_pdf):
    return np.concatenate(sequences_pdf["tokens"].to_numpy())


def test_flagship_quantiles_within_alpha(built, sequences_pdf):
    """p50/p95/p99/p999 of n_tok within α of the exact quantile — the
    reference `testQuantile` contract (`main.cpp:1041-1082`) run through
    the full distributed pipeline."""
    s = built["dds_ntok"]
    ntok = np.sort(sequences_pdf["n_tok"].to_numpy().astype(np.float64))
    assert s.n == len(ntok)
    assert s.sum_bins() == s.n
    for q in [0.5, 0.95, 0.99, 0.999]:
        exact = ntok[int(np.floor(1 + q * (len(ntok) - 1))) - 1]
        est = s.quantile(q)
        assert abs((est - exact) / exact) <= ALPHA * (1 + 1e-9), f"q={q}"


def test_hll_vs_exact_and_builtin(built, sequences_pdf, spark, sequences_path):
    from pyspark.sql import functions as F
    exact = len(np.unique(_exact_tokens(sequences_pdf)))
    est = built["hll_tokens"].cardinality()
    assert abs(est - exact) / exact < 0.05
    # cross-check Spark's built-in HLL++ agrees with the exact count too
    builtin = (spark.read.parquet(sequences_path)
               .select(F.explode("tokens").alias("t"))
               .agg(F.approx_count_distinct("t", 0.02).alias("d")).collect()[0]["d"])
    assert abs(builtin - exact) / exact < 0.1


def test_cms_heavy_hitters(built, sequences_pdf):
    tokens = _exact_tokens(sequences_pdf)
    uniq, counts = np.unique(tokens, return_counts=True)
    top = np.argsort(counts)[-20:]
    est = built["cms_tokens"].estimate(uniq[top])
    assert (est >= counts[top]).all()
    assert (np.abs(est - counts[top]) / counts[top] < 0.02).all()


def test_bloom_membership(built, sequences_pdf):
    tokens = np.unique(_exact_tokens(sequences_pdf))
    b = built["bloom_tokens"]
    assert b.contains(tokens).all()  # no false negatives
    absent = np.arange(10_000_000, 10_040_000, dtype=np.int64)
    assert b.contains(absent).mean() < 0.05


def test_grouped_by_source(spark, sequences_path, sequences_pdf):
    df = spark.read.parquet(sequences_path)
    out = build_sketches(
        df, [SketchSpec("dds", lambda: DDSketch(alpha=ALPHA, bin_limit=1 << 22),
                        scalar_extractor("n_tok"))],
        group_cols=("source",), salt_buckets=8)
    sketches = collect_sketches(out, group_cols=("source",))
    for source, grp in sequences_pdf.groupby("source"):
        s = sketches[(source, "dds")]
        vals = np.sort(grp["n_tok"].to_numpy().astype(np.float64))
        assert s.n == len(vals)
        exact = vals[int(np.floor(1 + 0.95 * (len(vals) - 1))) - 1]
        assert abs((s.quantile(0.95) - exact) / exact) <= ALPHA * (1 + 1e-9)


def test_partition_layout_invariance(spark, sequences_path):
    """north_rule merge-order invariance through the real pipeline: the
    final DDSketch bytes are identical across partition layouts, including
    the adversarial sorted-range layout (`main.cpp:285`)."""
    df = spark.read.parquet(sequences_path)
    spec = [SketchSpec("dds", lambda: DDSketch(alpha=ALPHA, bin_limit=1 << 22),
                       scalar_extractor("n_tok"))]
    blobs = set()
    for layout in [df.coalesce(1),
                   df.repartition(13),
                   df.repartitionByRange(7, "n_tok"),  # adversarial sorted ranges
                   df.repartition(32, "source")]:      # skewed
        out = build_sketches(layout, spec, salt_buckets=4)
        rows = out.collect()
        assert len(rows) == 1
        blobs.add(bytes(rows[0]["sketch"]))
    assert len(blobs) == 1


def test_lineage_metrics(spark, sequences_path):
    from p2pddsketch_spark.operators.harness import build_partials
    df = spark.read.parquet(sequences_path).repartition(6)
    partials = build_partials(df, _specs(), salt_buckets=4).collect()
    # one row per (partition × spec)
    assert len(partials) == 6 * 4
    assert all(r["rows_seen"] > 0 and r["build_secs"] >= 0 for r in partials)
    assert {r["salt"] for r in partials} <= set(range(4))


def test_grouped_by_numeric_key(spark):
    """Harness grouping by a numeric column (user_id buckets)."""
    from pyspark.sql import functions as F
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("bucket", (F.col("user_id") % 4).cast("long")))
    out = build_sketches(
        ev, [SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 20),
                        scalar_extractor("value"))],
        group_cols=("bucket",), salt_buckets=4)
    sketches = collect_sketches(out, group_cols=("bucket",))
    pdf = ev.select("bucket", "value").toPandas()
    assert len(sketches) == pdf["bucket"].nunique()
    for b, grp in pdf.groupby("bucket"):
        assert sketches[(b, "dds")].n == len(grp)


def test_catalyst_signed_values_match_sketch(spark):
    """Signed key codec in the Catalyst plan: mixed negative/zero/positive
    data produces the same bucket picks as the numpy sketch."""
    import pandas as pd
    from p2pddsketch_spark.functions.ddsql import ddsketch_quantile_plan
    rng = np.random.default_rng(77)
    vals = np.concatenate([rng.lognormal(0, 2, 3000),
                           -rng.lognormal(0, 2, 3000), np.zeros(10)])
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    got = ddsketch_quantile_plan(df, "v", qs, alpha=0.01).toPandas()
    sk = DDSketch(alpha=0.01, bin_limit=1 << 22).update_batch(vals)
    for _, r in got.iterrows():
        est = sk.quantile(r["q"])
        assert abs(r["estimate"] - round(est, 6)) <= 1e-6, r["q"]
        assert r["n"] == vals.size


def test_salting_bounds_fanin_under_source_skew(spark, sequences_path):
    """north_rule skew mitigation: `source` is deliberately skewed (web
    ≈ 80%), yet stage-2 fan-in per (group, salt) reducer stays bounded by
    ⌈partitions / salt_buckets⌉ — a hot group never concentrates on one
    reducer, because partials are per (partition × group) and the salt is
    derived from the partition, not the data."""
    from p2pddsketch_spark.operators.harness import build_partials
    df = spark.read.parquet(sequences_path).repartition(24)
    salt_buckets = 8
    partials = build_partials(
        df, [SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 20),
                        scalar_extractor("n_tok"))],
        group_cols=("source",), salt_buckets=salt_buckets).toPandas()
    # source skew is real in the fixture (per-group n from the sketches)
    from p2pddsketch_spark.operators.harness import sketch_from_bytes
    partials["n"] = [sketch_from_bytes(bytes(b)).n for b in partials["sketch"]]
    rows = partials.groupby("source")["n"].sum()
    assert rows.max() / rows.sum() > 0.6
    # but no (group, salt) reducer sees more than ceil(P/S) partials
    fanin = partials.groupby(["source", "salt"]).size()
    assert fanin.max() <= -(-24 // salt_buckets)


def test_empty_input_yields_empty_sketch_df(spark, sequences_path):
    """Degenerate inputs: empty scan → empty sketch table, no crash; a
    filter leaving one group → only that group's sketch."""
    df = spark.read.parquet(sequences_path)
    spec = [SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 20),
                       scalar_extractor("n_tok"))]
    empty = build_sketches(df.where("n_tok < 0"), spec, salt_buckets=4)
    assert empty.count() == 0
    assert collect_sketches(empty) == {}
    one = build_sketches(df.where("source = 'wiki'"), spec,
                         group_cols=("source",), salt_buckets=4)
    sk = collect_sketches(one, group_cols=("source",))
    assert set(sk) == {("wiki", "dds")}


def test_token_array_equality_invariant(spark, sequences_path):
    """Per-row invariant (input_hint): the persisted tokens arrays equal
    the seeded regeneration, element-wise."""
    rows = (spark.read.parquet(sequences_path)
            .orderBy("doc_id").limit(50).collect())
    ids = np.array([int(r["doc_id"].split("-")[1]) for r in rows])
    regen = regenerate_rows(ids, seed=42, n_rows=20_000)
    for r in rows:
        i = int(r["doc_id"].split("-")[1])
        assert r["n_tok"] == regen[i]["n_tok"]
        assert r["source"] == regen[i]["source"]
        assert np.array_equal(np.array(r["tokens"], dtype=np.int32), regen[i]["tokens"])


def test_grouped_by_two_mixed_type_keys(spark, sequences_path, sequences_pdf):
    """Round-2 fix: multi-column group_cols with MIXED types (string
    source × long parity) — per-column factorization + ravel_multi_index
    in stage 1 (a 2-D object np.unique would flatten or raise)."""
    from pyspark.sql import functions as F
    df = (spark.read.parquet(sequences_path)
          .withColumn("parity", (F.col("n_tok") % 2).cast("long")))
    out = build_sketches(
        df, [SketchSpec("dds", lambda: DDSketch(alpha=ALPHA, bin_limit=1 << 22),
                        scalar_extractor("n_tok"))],
        group_cols=("source", "parity"), salt_buckets=4)
    sketches = collect_sketches(out, group_cols=("source", "parity"))
    pdf = sequences_pdf.assign(parity=(sequences_pdf["n_tok"] % 2).astype("int64"))
    groups = pdf.groupby(["source", "parity"])
    assert len(sketches) == groups.ngroups
    for (src, par), grp in groups:
        s = sketches[(src, par, "dds")]
        assert s.n == len(grp)
        vals = np.sort(grp["n_tok"].to_numpy().astype(np.float64))
        exact = vals[int(np.floor(1 + 0.5 * (len(vals) - 1))) - 1]
        assert abs((s.quantile(0.5) - exact) / exact) <= ALPHA * (1 + 1e-9)


def test_grouped_rows_seen_is_per_group(spark, sequences_path, sequences_pdf):
    """Round-2 fix: lineage rows_seen counts the GROUP's rows, so summing
    partials per spec recovers the table total exactly once (it used to
    record the whole partition's row count for every group)."""
    from p2pddsketch_spark.operators.harness import build_partials
    df = spark.read.parquet(sequences_path).repartition(6)
    partials = build_partials(
        df, [SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 20),
                        scalar_extractor("n_tok"))],
        group_cols=("source",), salt_buckets=4).toPandas()
    assert partials["rows_seen"].sum() == len(sequences_pdf)
    per_group = partials.groupby("source")["rows_seen"].sum()
    exact = sequences_pdf.groupby("source").size()
    assert per_group.to_dict() == exact.to_dict()


def test_final_sketches_auto_switch_branches(spark, sequences_path):
    """Both final-merge branches (driver fold vs shuffle tree) produce
    byte-identical sketches; the threshold selects the branch."""
    from p2pddsketch_spark.operators.harness import build_partials, final_sketches
    df = spark.read.parquet(sequences_path).repartition(5)
    spec = [SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 20),
                       scalar_extractor("n_tok"))]
    driver = final_sketches(build_partials(df, spec, salt_buckets=4))
    shuffled = final_sketches(build_partials(df, spec, salt_buckets=4),
                              driver_max_partials=1)  # force the tree
    assert driver["dds"].to_bytes() == shuffled["dds"].to_bytes()
    tiny_bytes = final_sketches(build_partials(df, spec, salt_buckets=4),
                                driver_max_bytes=1)   # byte-bound trips too
    assert tiny_bytes["dds"].to_bytes() == driver["dds"].to_bytes()


def test_turnstile_delete_sketch_exact(spark):
    """DDSketch.delete_sketch == building only the surviving rows when
    nothing collapses (bucket counts are inserts − deletes exactly)."""
    rng = np.random.default_rng(9)
    vals = rng.lognormal(1, 1.2, 20_000)
    dead = vals[vals > np.median(vals)]
    ins = DDSketch(alpha=0.01, bin_limit=1 << 22).update_batch(vals)
    dels = DDSketch(alpha=0.01, bin_limit=1 << 22).update_batch(dead)
    survivors = DDSketch(alpha=0.01, bin_limit=1 << 22).update_batch(
        vals[vals <= np.median(vals)])
    got = ins.delete_sketch(dels)
    assert got.to_bytes() == survivors.to_bytes()
    assert got.n == survivors.n


def test_unique_counts_matches_np_unique_across_domains():
    """_unique_counts must agree with np.unique(return_counts=True) on
    every integer domain: the bincount fast path (small ids), the
    vmin-shifted fast path (narrow band of high-offset or negative
    ids — allocation tracks the RANGE, not vmax), and the sort
    fallback (wide range). Also pins that an int64-extreme
    (vmin, vmax) pair cannot wrap the range guard."""
    from p2pddsketch_spark.operators.harness import _unique_counts
    rng = np.random.default_rng(7)
    cases = [
        rng.integers(0, 50_000, size=10_000),                  # bincount
        rng.integers(10**12, 10**12 + 40_000, size=10_000),    # shifted
        rng.integers(-20_000, 20_000, size=10_000),            # negative
        rng.integers(-2**62, 2**62, size=10_000),              # sort path
        np.array([], dtype=np.int64),                          # empty
        np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max]),
        rng.integers(0, 300, size=5_000).astype(np.int16),     # small dtype
    ]
    for vals in cases:
        uv, uc = _unique_counts(vals)
        ev, ec = np.unique(vals, return_counts=True)
        assert np.array_equal(np.asarray(uv, dtype=np.int64),
                              np.asarray(ev, dtype=np.int64)), vals.dtype
        assert np.array_equal(uc, ec), vals.dtype


def test_file_work_units_cover_rows_exactly(spark, sequences_path, tmp_path,
                                            monkeypatch):
    """Round-6 stage-1 splitting: `_file_work_units` must (a) keep the
    whole-file grouping when the file list alone saturates the target,
    (b) otherwise split per row group / row range covering every row
    exactly once, and (c) produce byte-identical final sketches through
    `build_partials_from_files` under any such split."""
    import pyarrow.parquet as pq
    from p2pddsketch_spark.operators.harness import (
        _file_work_units, build_partials_from_files, final_sketches,
        parquet_file_list)

    paths = parquet_file_list(sequences_path)
    # (a) enough files for the target -> untouched whole-file chunks
    chunks = _file_work_units(paths, 1, max(1, len(paths) // 2))
    assert all(u[1] == -1 for ch in chunks for u in ch)
    assert [u[0] for ch in chunks for u in ch] == paths

    # single big file: force row-range splitting
    one = str(tmp_path / "one.parquet")
    spark.read.parquet(sequences_path).coalesce(1).write.parquet(one)
    fpaths = parquet_file_list(one)
    assert len(fpaths) == 1
    total = pq.ParquetFile(fpaths[0]).metadata.num_rows
    # the fixture is smaller than the production slice floor; lower it so
    # the splitting branch is exercised
    from p2pddsketch_spark.operators import harness as H
    monkeypatch.setattr(H, "_MIN_SLICE_ROWS", 1024)
    chunks = _file_work_units(fpaths, 1, 8)
    units = [u for ch in chunks for u in ch]
    assert len(units) > 1
    # (b) disjoint, ordered, complete row coverage per (file, row group)
    from collections import defaultdict
    by_rg = defaultdict(list)
    for p, rg, start, n in units:
        assert rg >= 0 and n > 0
        by_rg[(p, rg)].append((start, n))
    covered = 0
    for (p, rg), spans in by_rg.items():
        spans.sort()
        pos = spans[0][0]
        assert pos == 0
        for start, n in spans:
            assert start == pos
            pos += n
        covered += pos
        assert pos == pq.ParquetFile(p).metadata.row_group(rg).num_rows
    assert covered == total

    # (c) identical final sketch bytes, split vs whole-file read
    spec = [SketchSpec("dds", lambda: DDSketch(alpha=ALPHA, bin_limit=1 << 22),
                       scalar_extractor("n_tok"))]
    split_sk = final_sketches(build_partials_from_files(
        spark, fpaths, spec, salt_buckets=4))
    whole_sk = final_sketches(build_partials_from_files(
        spark, paths, spec, salt_buckets=4))
    assert split_sk["dds"].to_bytes() == whole_sk["dds"].to_bytes()


# sketches whose state depends only on the summed (value, count) multiset:
# stage 1 feeds them once per task (or per accumulator flush)
def _order_free_factories():
    from p2pddsketch_spark.sketches.cbloom import CountingBloomFilter
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    return {"hll": lambda: HyperLogLog(p=12),
            "cms": lambda: CountMinSketch(depth=4, width=1 << 12),
            "cbf": lambda: CountingBloomFilter(m=1 << 14, k=4),
            "theta": lambda: ThetaSketch(k=256),
            "bloom": lambda: BloomFilter(m_bits=1 << 16, k=4)}


def _file_stage1(spark, paths, factories, batch_size):
    """Stage-1 rows with partition i reading exactly paths[i]."""
    from p2pddsketch_spark.operators.harness import build_partials_from_files
    specs = [SketchSpec(n, f, array_extractor("tokens"))
             for n, f in factories.items()]
    rows = build_partials_from_files(
        spark, paths, specs, ("source",), batch_size=batch_size,
        split_within_files=False).collect()
    assert {r["partition_id"] for r in rows} == set(range(len(paths)))
    return rows


def _group_tokens(path, source, batch_size=None):
    """The int64 token ids of one source's rows in one file: all at once,
    or per Arrow batch as stage 1 reads them."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    pf = pq.ParquetFile(path)
    tables = ([pf.read(columns=["source", "tokens"])] if batch_size is None
              else pf.iter_batches(columns=["source", "tokens"],
                                   batch_size=batch_size))
    out = []
    for t in tables:
        rows = t.filter(pc.equal(t.column("source"), source))
        if rows.num_rows:
            out.append(pc.list_flatten(rows.column("tokens"))
                       .to_numpy(zero_copy_only=False).astype(np.int64))
    return out


@pytest.mark.parametrize("batch_size,cap", [(64, None), (2048, None),
                                            (64, 512)])
def test_order_free_sketches_fed_once_per_task(spark, sequences_path,
                                               monkeypatch, batch_size, cap):
    """HLL, CMS, counting Bloom and theta partials are byte-identical to a
    one-shot local update_batch over the task's group rows, and Bloom's
    bits are too, at any batch size and with the per-task accumulator
    flushed mid-task. Bloom's n_added shows where the feeds happened: the
    group's distinct token count when fed once per task, more when the
    cap forced flushes."""
    from p2pddsketch_spark.operators import harness as H
    if cap is not None:
        monkeypatch.setattr(H, "_TASK_COUNTS_MAX", cap)
    factories = _order_free_factories()
    paths = H.parquet_file_list(sequences_path)
    rows = _file_stage1(spark, paths, factories, batch_size)
    assert len(rows) == len(paths) * 4 * len(factories)
    for r in rows:
        (toks,) = _group_tokens(paths[r["partition_id"]], r["source"])
        want = factories[r["sketch_name"]]().update_batch(toks)
        if r["sketch_name"] != "bloom":
            assert bytes(r["sketch"]) == want.to_bytes(), r["sketch_name"]
            continue
        got = H.sketch_from_bytes(r["sketch"])
        assert np.array_equal(got.bits, want.bits)
        distinct = np.unique(toks).size
        if cap is None:
            assert got.n_added == distinct
        else:
            assert got.n_added > distinct


def test_task_counts_any_ranges_match_one_shot_feed():
    """The per-task accumulator over batches whose id ranges overlap,
    widen, go negative or jump 10^12 away (which must flush, not allocate
    the gap) feeds a CMS the same bytes as one update over all values."""
    from p2pddsketch_spark.operators.harness import _TaskCounts, _dense_counts
    rng = np.random.default_rng(11)
    batches = [rng.integers(100, 5_000, 3_000), rng.integers(0, 60_000, 500),
               rng.integers(-30_000, 10, 2_000),
               rng.integers(10**12, 10**12 + 40_000, 4_000),
               rng.integers(0, 300, 50)]
    for cap in (1 << 22, 70_000, 1):
        sk = CountMinSketch(depth=3, width=1 << 10)
        acc = _TaskCounts(cap)
        for b in batches:
            acc.add(("tokens", ()), [sk], *_dense_counts(b))
            assert acc.size <= max(cap, 1 << 16)
        acc.flush()
        want = CountMinSketch(depth=3, width=1 << 10).update_batch(
            np.concatenate(batches))
        assert sk.to_bytes() == want.to_bytes(), cap


def test_order_sensitive_sketches_still_fed_per_batch(spark, sequences_path):
    """DDSketch and t-digest over the same integer token ids (the domain
    the per-task accumulator takes) are still fed once per (batch ×
    group): byte-identical to a manual per-batch (unique, count) feed.
    t-digest shows the difference — a one-shot feed gives other bytes."""
    from p2pddsketch_spark.operators.harness import parquet_file_list
    from p2pddsketch_spark.sketches.tdigest import TDigest
    factories = {"dds": lambda: DDSketch(alpha=0.01, bin_limit=1 << 20),
                 "tdigest": lambda: TDigest(delta=50)}
    batch_size = 64
    paths = parquet_file_list(sequences_path)
    rows = _file_stage1(spark, paths, factories, batch_size)
    one_shot_differs = False
    for r in rows:
        path, name = paths[r["partition_id"]], r["sketch_name"]
        want = factories[name]()
        for toks in _group_tokens(path, r["source"], batch_size):
            want.update_batch(*np.unique(toks, return_counts=True))
        assert bytes(r["sketch"]) == want.to_bytes(), name
        if name == "tdigest":
            (toks,) = _group_tokens(path, r["source"])
            once = factories[name]().update_batch(
                *np.unique(toks, return_counts=True))
            one_shot_differs |= once.to_bytes() != want.to_bytes()
    assert one_shot_differs


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning")


@pytest.mark.parametrize("salted", [False, True])
def test_file_build_merge_shape(spark, sequences_path, salted):
    """With stage-1 tasks ≤ salt_buckets every (group, name, salt) key holds
    one partial, so `build_sketches_from_files` merges in one exchange;
    with more tasks it keeps the salted level. Either way its sketches
    are byte-identical to `merge_partials` over the same partials, and
    choosing the shape launches no job."""
    from p2pddsketch_spark.operators.harness import (
        build_partials_from_files, build_sketches_from_files, merge_partials,
        parquet_file_list)
    specs = _specs()
    paths = parquet_file_list(sequences_path)
    tasks = build_partials_from_files(
        spark, paths, specs, ("source",)).rdd.getNumPartitions()
    assert tasks >= 2
    salt_buckets = tasks - 1 if salted else tasks
    sc = spark.sparkContext

    def with_jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            df = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    partials, partial_jobs = with_jobs(
        f"shape-partials-{salted}", lambda: build_partials_from_files(
            spark, paths, specs, ("source",), salt_buckets=salt_buckets))
    built, built_jobs = with_jobs(
        f"shape-sketches-{salted}", lambda: build_sketches_from_files(
            spark, sequences_path, specs, ("source",),
            salt_buckets=salt_buckets))
    assert built_jobs == partial_jobs
    assert _exchanges(built) == (2 if salted else 1)
    tree = merge_partials(partials, ("source",))
    assert _exchanges(tree) == 2

    def blobs(df):
        return {(r["source"], r["sketch_name"]): bytes(r["sketch"])
                for r in df.collect()}
    got, want = blobs(built), blobs(tree)
    assert len(got) == 4 * len(specs)
    assert got == want


@pytest.mark.parametrize("col", ["d", "b"])
def test_stage1_date_and_boolean_group_columns(spark, tmp_path, col):
    """Stage 1 emits group values with the group column's own Arrow type:
    a DATE or BOOLEAN group column builds per-group sketches on both
    stage-1 entries (DataFrame and file list), and a zero-row partition
    still emits its lineage marker with a NULL group value."""
    import datetime as dt

    from p2pddsketch_spark.operators.harness import (
        EMPTY_MARKER, build_partials, build_partials_from_files,
        final_sketches, parquet_file_list)
    rows = [(dt.date(2024, 1, 1 + i % 3), i % 2 == 0, float(i + 1))
            for i in range(60)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "d date, b boolean, v double") \
        .repartition(2).write.parquet(src)
    spec = [SketchSpec("dds", lambda: DDSketch(alpha=0.01, bin_limit=1 << 20),
                       scalar_extractor("v"))]
    key = {"d": 0, "b": 1}[col]
    exact: dict = {}
    for r in rows:
        exact[r[key]] = exact.get(r[key], 0) + 1
    df = spark.read.parquet(src)
    for partials in (build_partials(df, spec, (col,), salt_buckets=2),
                     build_partials_from_files(spark, parquet_file_list(src),
                                               spec, (col,), salt_buckets=2)):
        got = final_sketches(partials, (col,))
        assert {k[0]: sk.n for k, sk in got.items()} == exact
    marker = build_partials(df.where("v < 0"), spec, (col,),
                            salt_buckets=2).collect()
    assert marker and all(r["sketch_name"] == EMPTY_MARKER and r[col] is None
                          for r in marker)
