"""Spark-job budget of the declared queries the benchmark's `query_mix`
workload runs, and of the harness steps they share: schema-known loads
and stage-1 planning run no job, `final_sketches` probes its partials
inside its one checkpoint job, and driver-built result frames collect
with no job. A ceiling that starts failing means a query grew a job."""

import logging
import threading

import pytest

import __spark_entry__ as E
from p2pddsketch_spark.operators import harness as H
from p2pddsketch_spark.sketches.ddsketch import DDSketch

SF_DIR = "/root/testdata/sf0.01"

# jobs per query, counted under a job group: planning plus a collect()
# of the result. The benchmark session collects with toPandas() and
# Arrow off, which runs the same jobs; with Arrow on (this suite's
# session) toPandas() adds one job even for a local result
BUDGET = {
    "dds_quantiles_lineitem": 2,    # checkpoint + partial collect
    "dds_price_by_flag": 2,
    "sketch_counts_events": 5,
    "dds_catalyst": 11,
    "minhash_lsh_pairs_prod": 19,
    "ann_cosine_topk": 6,
    "tpch_q1": 4,                   # control: no library code
}


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _dds_spec(col):
    return [H.SketchSpec("dds", lambda: DDSketch(alpha=0.01),
                         H.scalar_extractor(col))]


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_query_mix_job_ceiling(spark, name):
    fn = E.queries()[name]
    rows, n = _jobs(spark, f"budget-{name}", lambda: fn(spark, SF_DIR).collect())
    assert rows
    assert n <= BUDGET[name], f"{name} ran {n} jobs, budget {BUDGET[name]}"


def test_stage1_plan_and_load_run_no_job(spark):
    from p2pddsketch_spark.plans.queries import load
    path = f"{SF_DIR}/lineitem.parquet"
    _, n = _jobs(spark, "budget-stage1-plan", lambda: (
        H.build_partials_from_files(spark, [path], _dds_spec("l_quantity"),
                                    group_cols=("l_returnflag",)),
        load(spark, SF_DIR, "events").schema))
    assert n == 0


def test_final_sketches_is_checkpoint_plus_collect(spark):
    parts = H.build_partials_from_files(
        spark, [f"{SF_DIR}/lineitem.parquet"], _dds_spec("l_quantity"))
    sk, n = _jobs(spark, "budget-final", lambda: H.final_sketches(parts))
    assert sk["dds"].n == spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    assert n == 2


def test_final_sketches_logs_route_with_probe(spark, caplog):
    """The route is logged with the observed partial count and bytes,
    which are the count and summed blob length of the partials."""
    from pyspark.sql import functions as F
    parts = H.build_partials_from_files(
        spark, [f"{SF_DIR}/lineitem.parquet"], _dds_spec("l_quantity"),
        group_cols=("l_returnflag",)).localCheckpoint(eager=True)
    n, nbytes = parts.agg(F.count("*"), F.sum(F.length("sketch"))).first()
    with caplog.at_level(logging.INFO, logger=H.__name__):
        driver = H.final_sketches(parts)
        tree = H.final_sketches(parts, driver_max_partials=1)
    routes = [r.getMessage() for r in caplog.records if r.name == H.__name__]
    assert routes == [f"final_sketches: driver fold over {n} partials, {nbytes} bytes",
                      f"final_sketches: merge tree over {n} partials, {nbytes} bytes"]
    assert {k: s.to_bytes() for k, s in driver.items()} == \
        {k: s.to_bytes() for k, s in tree.items()}


def _within(seconds, fn):
    """fn()'s result, failing the test if it has not returned in time."""
    out, err = {}, {}

    def run():
        try:
            out["v"] = fn()
        except BaseException as ex:      # re-raised on the test thread
            err["e"] = ex
    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"no result in {seconds} s (blocked in Observation.get?)"
    if err:
        raise err["e"]
    return out["v"]


def test_final_sketches_empty_inputs_do_not_block(spark, tmp_path):
    """An empty parquet file and zero-row frames still complete the
    observed probe: `final_sketches` returns {} instead of waiting on
    metrics that never arrive."""
    d = str(tmp_path / "empty")
    spark.createDataFrame([], "v double").coalesce(1).write.parquet(d)
    spec = _dds_spec("v")
    from_file = H.build_partials_from_files(spark, H.parquet_file_list(d), spec)
    assert _within(120, lambda: H.final_sketches(from_file)) == {}
    local = spark.createDataFrame(
        [], H._partial_schema(spark.read.parquet(d).schema, ()))
    assert _within(120, lambda: H.final_sketches(local)) == {}
    filtered = H.build_partials(spark.read.parquet(d).where("v > 0"), spec)
    assert _within(120, lambda: H.final_sketches(filtered)) == {}
