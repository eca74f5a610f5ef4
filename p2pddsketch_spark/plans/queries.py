"""Named query builders — the library's public query surface, used by
`__spark_entry__.py` (driver correctness gate), `bench.py`, and the
test suite. Each returns a DataFrame with stable, aliased column names
that match the DuckDB oracle SQL twins in `plans/oracles.py`.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p2pddsketch_spark.functions.ddsql import ddsketch_quantile_plan, gamma_of_alpha
from p2pddsketch_spark.operators.harness import (SketchSpec, array_extractor,
                                                 build_sketches,
                                                 collect_sketches,
                                                 scalar_extractor)
from p2pddsketch_spark.operators import dedup, similarity, text
from p2pddsketch_spark.sketches.bloom import BloomFilter
from p2pddsketch_spark.sketches.cms import CountMinSketch
from p2pddsketch_spark.sketches.ddsketch import DDSketch
from p2pddsketch_spark.sketches.hll import HyperLogLog
from p2pddsketch_spark.sketches.kll import KLLSketch
from p2pddsketch_spark.sketches.tdigest import TDigest

QS = [0.5, 0.95, 0.99, 0.999]


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ------------------------------------------------- DDSketch via the harness

def _dds_key_est(sk, q: float, gamma: float) -> tuple[int, float]:
    """(offset-stripped bucket key, rounded rank estimate) for quantile
    `q` of a merged DDSketch — the driver-side twin of the SQL oracle's
    (bucket_key, estimate) columns; shared by every harness quantile row."""
    k_signed = sk.quantile_key(q)
    k_unsigned = k_signed - sk.offset if k_signed > 0 else (
        k_signed + sk.offset if k_signed < 0 else 0)
    est = float(np.round(2.0 * np.power(gamma, float(k_unsigned)) / (gamma + 1.0), 6)) \
        if k_signed > 0 else (0.0 if k_signed == 0 else
                              float(np.round(-2.0 * np.power(gamma, float(-k_signed - sk.offset)) / (gamma + 1.0), 6)))
    return int(k_unsigned), est


def _ddsketch_quantile_rows(spark: SparkSession, df: DataFrame,
                            sketches: dict, qs: list[float], gamma: float,
                            group_cols: tuple[str, ...]) -> DataFrame:
    """Driver-side quantile extraction from final merged DDSketches —
    one output row per (group, q), schema identical to
    `ddsketch_quantile_plan`."""
    rows = []
    for key, sk in sketches.items():
        gvals = () if not group_cols else (key[:-1] if isinstance(key, tuple) else ())
        for q in qs:
            k_unsigned, est = _dds_key_est(sk, q, gamma)
            rows.append(tuple(gvals) + (float(q), k_unsigned, est, int(sk.n)))
    gddl = "".join(f"{c} {df.schema[c].dataType.simpleString()}, " for c in group_cols)
    schema = f"{gddl}q double, bucket_key long, estimate double, n long"
    res = spark.createDataFrame(rows, schema)
    return res.orderBy(*group_cols, "q")


def ddsketch_quantiles_via_harness(spark: SparkSession, df: DataFrame,
                                   value_col: str, qs: list[float], alpha: float,
                                   group_cols: tuple[str, ...] = (),
                                   salt_buckets: int = 32,
                                   bin_limit: int = 1 << 22,
                                   parquet_path: str | None = None) -> DataFrame:
    """Full mapInArrow → merge pipeline, then driver-side quantile
    extraction from the single final sketch row per group. Output schema
    matches `ddsketch_quantile_plan` exactly. When `parquet_path` is
    given, stage 1 uses the file-parallel fast path (pyarrow in-task, no
    JVM→Python IPC). The final merge auto-switches: driver-side fold
    while the partial count/bytes are interactive-small, the salted
    shuffle merge tree beyond (`harness.final_sketches`)."""
    from p2pddsketch_spark.operators.harness import (
        build_partials, build_partials_from_files, final_sketches,
        parquet_file_list)
    gamma, _ = gamma_of_alpha(alpha)
    spec = [SketchSpec("dds", lambda: DDSketch(alpha=alpha, bin_limit=bin_limit),
                       scalar_extractor(value_col))]
    if parquet_path is not None:
        partials = build_partials_from_files(spark, parquet_file_list(parquet_path),
                                             spec, group_cols=group_cols,
                                             salt_buckets=salt_buckets)
    else:
        partials = build_partials(df, spec, group_cols=group_cols,
                                  salt_buckets=salt_buckets)
    sketches = final_sketches(partials, group_cols=group_cols)
    return _ddsketch_quantile_rows(spark, df, sketches, qs, gamma, group_cols)


def q_dds_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99/p999 of l_quantity via the full sketch pipeline."""
    return ddsketch_quantiles_via_harness(
        spark, load(spark, sf_dir, "lineitem"), "l_quantity", QS, alpha=0.01,
        parquet_path=f"{sf_dir}/lineitem.parquet")


def q_dds_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sketches: per l_returnflag quantiles of l_extendedprice."""
    return ddsketch_quantiles_via_harness(
        spark, load(spark, sf_dir, "lineitem"), "l_extendedprice", QS,
        alpha=0.005, group_cols=("l_returnflag",),
        parquet_path=f"{sf_dir}/lineitem.parquet")


def q_dds_signed_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed data through the sketch-object pipeline (mapInArrow +
    shuffle merge): the same mixed-sign column as the Catalyst twin."""
    ev = load(spark, sf_dir, "events").withColumn(
        "centered", F.col("value") - F.lit(250.0))
    return ddsketch_quantiles_via_harness(
        spark, ev, "centered", [0.05, 0.5, 0.95], alpha=0.01)


def q_dds_value_by_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harness pipeline grouped by a NUMERIC key (user_id % 4)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("long"))
    return ddsketch_quantiles_via_harness(
        spark, ev, "value", [0.5, 0.99], alpha=0.01,
        group_cols=("user_bucket",))


def q_dds_turnstile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turnstile (insert + delete) DDSketch end-to-end: insert every
    lineitem l_quantity, then delete the deterministic 'R'-returnflag
    subset; quantiles come from the subtracted sketch. Distributed shape:
    BOTH streams run the normal mapInArrow → merge pipeline (the delete
    side is just another sketch build), and `DDSketch.delete_sketch`
    (reference `DDS_DeleteCollapse*`, `ddsketch.cc:343-518`) subtracts
    bucket counts driver-side. With bin_limit 2^22 nothing collapses, so
    bucket counts equal inserts − deletes exactly and the oracle is the
    plain DDSketch SQL twin over the surviving rows."""
    from p2pddsketch_spark.operators.harness import build_partials, final_sketches
    alpha = 0.01
    gamma, _ = gamma_of_alpha(alpha)
    li = load(spark, sf_dir, "lineitem")
    mk = lambda: DDSketch(alpha=alpha, bin_limit=1 << 22)
    ins = final_sketches(build_partials(
        li, [SketchSpec("dds", mk, scalar_extractor("l_quantity"))]))
    dels = final_sketches(build_partials(
        li.where(F.col("l_returnflag") == "R"),
        [SketchSpec("dds", mk, scalar_extractor("l_quantity"))]))
    sk = ins["dds"].delete_sketch(dels["dds"])
    return _ddsketch_quantile_rows(spark, li, {"dds": sk},
                                   [0.5, 0.95, 0.99], gamma, ())


# --------------------------------------------- DDSketch via pure Catalyst

def q_dds_signed_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-codec Catalyst plan over mixed-sign data (value − 250):
    exercises the negative/zero/positive key branches end-to-end."""
    ev = load(spark, sf_dir, "events").withColumn(
        "centered", F.col("value") - F.lit(250.0))
    return ddsketch_quantile_plan(ev, "centered", [0.05, 0.5, 0.95], alpha=0.01)


def q_dds_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both signed-codec forms in ONE gate row (round-5 merge of the
    `dds_signed_catalyst` + `dds_signed_harness` rows — same operator
    family, same oracle): the pure-Catalyst plan and the sketch-object
    mapInArrow → merge pipeline over the same mixed-sign column, tagged
    by a `form` column. The two forms compute the identical DDSketch
    algebra, so one signed SQL twin (duplicated per form literal)
    oracles both; a divergence between the forms now fails the gate
    directly instead of needing two rows."""
    cat = q_dds_signed_catalyst(spark, sf_dir) \
        .withColumn("form", F.lit("catalyst"))
    har = q_dds_signed_harness(spark, sf_dir) \
        .withColumn("form", F.lit("harness"))
    return cat.unionByName(har).orderBy("form", "q")


def q_dds_events_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same sketch algebra as a whole-stage-codegen Catalyst plan."""
    return ddsketch_quantile_plan(load(spark, sf_dir, "events"), "value", QS, alpha=0.01)


def q_dds_doclen_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ddsketch_quantile_plan(load(spark, sf_dir, "documents"), "n_chars",
                                  QS, alpha=0.01, group_cols=("lang",))


def q_dds_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both pure-Catalyst quantile-plan forms in ONE gate row (round-5
    merge of the `dds_events_catalyst` + `dds_doclen_by_lang` rows —
    identical operator, one SQL twin each): the ungrouped plan over
    events.value and the grouped plan over documents.n_chars by lang,
    tagged by a `src` column (`lang` is NULL on the ungrouped rows)."""
    ev = (q_dds_events_sql(spark, sf_dir)
          .withColumn("src", F.lit("events_value"))
          .withColumn("lang", F.lit(None).cast("string")))
    dl = (q_dds_doclen_by_lang(spark, sf_dir)
          .withColumn("src", F.lit("documents_len_by_lang")))
    return (ev.unionByName(dl.select(*ev.columns))
            .orderBy("src", "lang", "q"))


def q_dds_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window p95 of event value per hour bucket — the batch twin
    of the streaming windowed sketch (tz-safe epoch-hour bucketing)."""
    # string bucketing on the NTZ timestamp — tz-free, so the result is
    # independent of spark.sql.session.timeZone (oracle parity everywhere).
    # GROUP on the truncated TIMESTAMP and format only the ~hundreds of
    # surviving group rows: date_format is injective on hour-truncated
    # NTZ timestamps, so the output strings are identical, but the
    # per-row string build (1M format calls at sf1.0) and the string
    # group keys drop out of the scan stage (round-6, guide §2.3)
    ev = load(spark, sf_dir, "events").withColumn(
        "_hb", F.date_trunc("hour", F.col("ts")))
    out = ddsketch_quantile_plan(ev, "value", [0.95], alpha=0.01,
                                 group_cols=("_hb",))
    return (out.select(F.date_format("_hb", "yyyy-MM-dd HH:00:00")
                       .alias("hour_bucket"),
                       "q", "bucket_key", "estimate", "n")
            .orderBy("hour_bucket", "q"))


def q_dds_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: daily p50/p95 derived ONLY from the hourly
    bucket-count state (continuous-aggregate pattern — sum of hourly
    histograms IS the daily histogram). Exact oracle: direct daily
    quantile SQL over raw data."""
    from p2pddsketch_spark.functions.ddsql import ddsketch_rollup_quantile_plan
    return ddsketch_rollup_quantile_plan(load(spark, sf_dir, "events"),
                                         "value", "ts", [0.5, 0.95], alpha=0.01)


def q_dds_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed quantiles (half-life 7 days over the
    30-day fixture → weight span ~20, well-conditioned float64 sums):
    recent events dominate the percentile smoothly instead of a window
    cliff. Exact DuckDB twin."""
    from p2pddsketch_spark.functions.ddsql import ddsketch_decayed_quantile_plan
    return ddsketch_decayed_quantile_plan(
        load(spark, sf_dir, "events"), "value", "ts",
        [0.5, 0.95, 0.99], alpha=0.01, half_life_hours=168.0)


def q_dds_rank_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank enrichment: every event row annotated with its
    estimated percentile of `value` from the global DDSketch bucket
    table (broadcast join — the fact table never shuffles). Output
    bounded to event_id < 2000; the rank is over ALL rows."""
    from p2pddsketch_spark.functions.ddsql import ddsketch_rank_plan
    ev = load(spark, sf_dir, "events")
    out = ddsketch_rank_plan(ev, "value", alpha=0.01)
    return out.where(F.col("event_id") < 2000).orderBy("event_id")


def q_dds_rank_by_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort percentile-rank enrichment: each event's value ranked
    against its OWN user-bucket cohort's sketch (group_cols form of
    `ddsketch_rank_plan`). Output bounded to event_id < 2000."""
    from p2pddsketch_spark.functions.ddsql import ddsketch_rank_plan
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("long"))
    out = ddsketch_rank_plan(ev, "value", alpha=0.01,
                             group_cols=("user_bucket",))
    return out.where(F.col("event_id") < 2000).orderBy("event_id")


def q_dds_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both percentile-rank-enrichment forms in ONE gate row (round-5
    merge of the `dds_rank_enrich` + `dds_rank_by_user_bucket` rows —
    same operator, global vs cohort scope): every event annotated with
    its estimated percentile from the global sketch AND from its own
    user-bucket cohort's sketch, tagged by a `scope` column
    (`user_bucket` is NULL on the global rows)."""
    glob = (q_dds_rank_enrich(spark, sf_dir)
            .withColumn("scope", F.lit("global"))
            .withColumn("user_bucket", F.lit(None).cast("long")))
    coh = (q_dds_rank_by_user_bucket(spark, sf_dir)
           .withColumn("scope", F.lit("cohort")))
    return (glob.unionByName(coh.select(*glob.columns))
            .orderBy("scope", "event_id"))


def q_dds_sliding_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour sliding-window p95 of event value — rolling quantiles from
    mergeable hourly bucket counts, never re-scanning raw data."""
    from p2pddsketch_spark.functions.ddsql import ddsketch_sliding_quantile_plan
    return ddsketch_sliding_quantile_plan(load(spark, sf_dir, "events"),
                                          "value", "ts", [0.5, 0.95],
                                          alpha=0.01, window_hours=6)


def q_dds_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both hourly-bucket-state window forms in ONE gate row (round-5
    merge of the `dds_sliding_p95` + `dds_daily_rollup` rows — the same
    "rollup from mergeable hourly counts, never re-scan raw data"
    pattern, sliding vs tumbling): 6-hour sliding p50/p95 and the
    hypertable daily rollup, tagged by `form`. The sliding form has no
    bucket_key column of its own, so it carries the −1 sentinel (NULL
    would hash engine-dependently)."""
    s = q_dds_sliding_p95(spark, sf_dir).select(
        F.lit("sliding_6h").alias("form"),
        F.col("window_end").cast("string").alias("bucket"),
        "q", F.lit(-1).cast("long").alias("bucket_key"),
        "estimate", F.col("n").cast("long").alias("n"))
    d = q_dds_daily_rollup(spark, sf_dir).select(
        F.lit("daily_rollup").alias("form"),
        F.col("day_bucket").alias("bucket"),
        "q", "bucket_key", "estimate", F.col("n").cast("long").alias("n"))
    return s.unionByName(d).orderBy("form", "bucket", "q")


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture construction fingerprint: `mix_sources`
    (per-source greedy prefix in splitmix64 order, bucketed two-phase
    plan — the fact table never shuffles) at 700 tokens per source,
    summarized per source as (n_docs, n_tokens, id_checksum). HARD
    oracle: the tag is mod-2^64 arithmetic, so the twin replays the
    selection in HUGEINT and the same window fold
    (`operators/pipeline.py::duckdb_mix_sources_sql`). Bucket-
    granularity equivalence, layout invariance, and budget monotonicity
    are pytest-pinned (tests/test_pipeline.py)."""
    from p2pddsketch_spark.operators.pipeline import mix_sources
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "source",
                    F.size(F.split("text", " ")).cast("long").alias("n_tok")))
    budgets = {f"src{i}": 700 for i in range(20)}
    return (mix_sources(docs, budgets)
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.sum("doc_id").cast("long").alias("id_checksum"))
            .orderBy("source"))


def q_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-resampling scores (Xie et al. 2023) toward
    the `src3` domain, BOTH feature spaces in one tagged frame: the raw
    union-vocabulary form and the paper's hashed form (pmod(xxhash64, 64)
    buckets — the 100 TB shape: the likelihood table is bounded at B
    rows and broadcasts, so the per-doc scoring join never shuffles the
    fact side; B = 64 sits well below the target class's ~1.4k gate-SF
    tokens, keeping the Laplace mass inside the regime the operator's
    docstring requires). HARD oracle: every per-occurrence log-ratio
    term is rounded to 6 decimals and decimal-summed, so
    `duckdb_importance_sql` replays both forms verbatim — the hashed one
    through the XXH64-in-SQL chain. Reference scope: gap-fill (the
    reference has no selection pipeline; its analog is the
    per-peer-vs-global comparison of /root/reference/main.cpp's
    testQuantile)."""
    from p2pddsketch_spark.operators.pipeline import importance_scores
    docs = load(spark, sf_dir, "documents")
    raw = importance_scores(docs, "src3").select(
        F.lit("raw").alias("form"), "doc_id", "n_terms", "score_bits")
    hashed = importance_scores(docs, "src3", hash_buckets=64).select(
        F.lit("hashed").alias("form"), "doc_id", "n_terms", "score_bits")
    return raw.unionByName(hashed).orderBy("form", "doc_id")


# --------------------------------------------------------- relational layer

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the relational surface Spark SQL
    gives the library for free (the reference has no relational ops)."""
    li = load(spark, sf_dir, "lineitem")
    # SUM over doubles is partition-order-sensitive (error ~ n·eps·Σ|x| can
    # cross a rounding boundary at scale); summing DECIMAL(20,6) casts is
    # exact and engine-independent — Catalyst keeps decimal aggregation
    # JVM-side with map-side combine, so nothing is lost
    dec = lambda c: c.cast("decimal(20,6)")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
                 F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
                 F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_join_topsuppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join showcase: revenue per nation via supplier→nation
    (dims broadcast; no shuffle of lineitem beyond the aggregation)."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    return (li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
            .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
            .groupBy("n_name")
            .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       .cast("decimal(20,6)")).cast("double").alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy("n_name"))


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: tight filter + single agg — pure scan efficiency
    (predicates push into the parquet reader)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= F.lit("1994-01-01")) &
                     (F.col("l_shipdate") < F.lit("1995-01-01")) &
                     (F.col("l_discount").between(0.05, 0.07)) &
                     (F.col("l_quantity") < 24))
            .agg(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                        .cast("decimal(20,6)")).cast("double").alias("revenue"),
                 F.count("*").alias("n_rows")))


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: customer ⋈ orders ⋈ lineitem, top revenue orders.
    Dims broadcast; lineitem aggregates with map-side combine."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .groupBy("o_orderkey", "c_mktsegment")
            .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       .cast("decimal(20,6)")).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), "o_orderkey")
            .limit(10))


def q_order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style LEFT SEMI join: count orders having at least one
    late lineitem — the semi-join never materializes the match side."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-06-30"))
    return (orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count"))
            .orderBy("o_orderpriority"))


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no RECENT order (≥ 2001-01-01), per
    segment — churn-style cohort without materializing the match side."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01"))
    return (cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_customers"))
            .orderBy("c_mktsegment"))


def q_window_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (absent from the reference): per-user running sum
    and event rank over time — first 200 events by id for a bounded result."""
    from pyspark.sql.window import Window
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 6).alias("running_value"),
        F.row_number().over(w).alias("event_rank"))
        .orderBy("event_id"))


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): a new session starts after a
    > 30-minute silence; count sessions and events per user."""
    from pyspark.sql.window import Window
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval comparison on the naive timestamps — tz-free on both engines
    gap_over = (F.col("ts") - F.lag("ts").over(w)) > F.expr("INTERVAL 30 MINUTES")
    marked = ev.withColumn(
        "new_sess", F.when(F.lag("ts").over(w).isNull() | gap_over, 1).otherwise(0))
    return (marked.groupBy("user_id")
            .agg(F.sum("new_sess").cast("long").alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


def q_events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (operators/asof.py): each event picks the customer's
    most recent order with o_orderdate <= event ts — union+window plan,
    ONE key shuffle, no range join. Right side deduped to one row per
    (custkey, date) so ties are deterministic. Oracle: DuckDB's NATIVE
    ASOF LEFT JOIN. Output bounded to event_id < 2000."""
    from p2pddsketch_spark.operators.asof import asof_join
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 2000) \
        .select("event_id", "user_id", "ts")
    orders = (load(spark, sf_dir, "orders")
              .groupBy("o_custkey", "o_orderdate")
              .agg(F.max("o_orderkey").alias("last_orderkey"))
              # string date, not timestamp: the repo's tz-free output
              # idiom (also sidesteps pandas ns-vs-us resolution skew)
              .withColumn("asof_date",
                          F.date_format("o_orderdate", "yyyy-MM-dd")))
    ev = ev.withColumn("_jk", F.col("user_id"))
    orders = orders.withColumn("_jk", F.col("o_custkey"))
    out = asof_join(ev, orders, key="_jk", left_ts="ts",
                    right_ts="o_orderdate",
                    payload=("last_orderkey", "asof_date"))
    return (out.select("event_id", "last_orderkey", "asof_date")
            .orderBy("event_id"))


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via time-bucketized equi-join
    (operators/asof.py::interval_join): every 97th event opens a 2-hour
    window; find all same-user events inside each window. Hash join on
    (user, hour-bucket) + exact filter — no per-key nested loop. Oracle:
    plain BETWEEN join in DuckDB."""
    from p2pddsketch_spark.operators.asof import interval_join
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    win = (ev.where(F.col("event_id") % 97 == 0)
           .select(F.col("event_id").alias("window_id"), "user_id",
                   F.col("ts").alias("w_start"),
                   (F.col("ts").cast("timestamp") + F.expr("INTERVAL 2 HOURS"))
                   .alias("w_end")))
    out = interval_join(ev, win, key="user_id", left_ts="ts",
                        start_col="w_start", end_col="w_end")
    return (out.select("window_id", "event_id")
            .orderBy("window_id", "event_id"))


def q_event_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 merge of the `events_asof_orders` + `events_interval_join`
    gate rows: both temporal event-join operators (operators/asof.py's
    union+window AS-OF plan and its bucketized range join) in one tagged
    frame — they share the events scan family and each emits (left id,
    right id) join pairs, so one row pins both. Schema:
    (form, a, b, tag) with form ∈ {asof, interval}; for asof, a =
    event_id, b = matched last_orderkey (nullable: LEFT semantics) and
    tag = the matched order date; for interval, a = window_id, b = the
    contained event_id."""
    asof = q_events_asof_orders(spark, sf_dir).select(
        F.lit("asof").alias("form"),
        F.col("event_id").cast("long").alias("a"),
        F.col("last_orderkey").cast("long").alias("b"),
        F.col("asof_date").alias("tag"))
    intv = q_events_interval_join(spark, sf_dir).select(
        F.lit("interval").alias("form"),
        F.col("window_id").cast("long").alias("a"),
        F.col("event_id").cast("long").alias("b"),
        F.lit(None).cast("string").alias("tag"))
    return asof.unionByName(intv).orderBy("form", "a", "b")


# ------------------------------------------------------------ text analysis

def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.top_tokens(load(spark, sf_dir, "documents"), k=20)


def q_distinct_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.distinct_tokens_by(load(spark, sf_dir, "documents"), "source")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 merge of the `top_tokens_exact` + `distinct_tokens_by_source`
    gate rows: exact token heavy hitters (the CMS oracle) and per-source
    distinct-token counts (the HLL oracle) in one tagged frame — the two
    exact token aggregates share a scan family, and one row pins both.
    Schema: (stat, item, cnt) with stat ∈ {top, distinct_by_source}."""
    docs = load(spark, sf_dir, "documents")
    top = (text.top_tokens(docs, k=20)
           .select(F.lit("top").alias("stat"),
                   F.col("token").alias("item"),
                   F.col("cnt").cast("long").alias("cnt")))
    dist = (text.distinct_tokens_by(docs, "source")
            .select(F.lit("distinct_by_source").alias("stat"),
                    F.col("source").alias("item"),
                    F.col("n_distinct").cast("long").alias("cnt")))
    return top.unionByName(dist).orderBy("stat", F.desc("cnt"), "item")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_stats(load(spark, sf_dir, "documents")).orderBy("doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load(spark, sf_dir, "documents")).orderBy("doc_id")


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", text.language_id_col("text").alias("lang_pred")).orderBy("doc_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template-spam signal: share of trigram occurrences
    taken by the most-repeated trigram per doc."""
    return text.repetition_stats(load(spark, sf_dir, "documents"), n=3)


def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + alpha-only tokens + vowel count
    per source (BPE-ish regex classes, exact & SQL-portable)."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    # GPT-2-ish pre-tokenizer classes (letters / digits / other) — simple
    # enough that Java regex and RE2 (DuckDB) agree exactly
    bpeish = F.size(F.expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^ a-z0-9]', 0)"))
    return (docs.groupBy("source")
            .agg(F.sum(F.size(words)).cast("long").alias("n_ws_tokens"),
                 F.sum(bpeish).cast("long").alias("n_bpeish_tokens"),
                 F.sum(F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))).cast("long").alias("n_vowels"),
                 F.count("*").alias("n_docs"))
            .orderBy("source"))


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: revenue at every granularity of
    (l_returnflag, l_linestatus) in ONE pass via CUBE — Catalyst expands
    the grouping sets inside a single partial-aggregated exchange
    instead of 4 scans + union. NULL group keys are coalesced to 'ALL'
    on both sides; grouping_id disambiguates."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(20,6)")).cast("double")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(rev.alias("revenue"), F.count("*").alias("n_rows"),
                 F.grouping_id().alias("gid"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
                    F.col("gid").cast("long").alias("gid"),
                    "revenue", "n_rows")
            .orderBy("gid", "l_returnflag", "l_linestatus"))


def q_value_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: per user bucket, total value by event type as
    columns. The pivot value list is EXPLICIT (no discovery pass — at
    100 TB a two-pass pivot is a bug); decimal(20,6) sums for float
    parity; twin is the portable conditional-aggregation SQL."""
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("long"))
    types = ["click", "error", "purchase", "signup", "view"]
    agg = F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
    out = ev.groupBy("user_bucket").pivot("event_type", types).agg(agg)
    cols = [F.coalesce(F.col(t), F.lit(0.0)).alias(f"v_{t}") for t in types]
    return out.select("user_bucket", *cols).orderBy("user_bucket")


# ------------------------------------------------------------------- dedup

def q_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_stats(load(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.12, n=2)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row bands (128 bands × 1 row): recall ≥ 1 − (1−J)^128 ≈ 1−10⁻⁷ at
    J=0.12, so with exact-Jaccard verification the output equals the exact
    pair set — the configuration under oracle test. Production near-dup
    runs use wider rows-per-band for candidate sparsity."""
    return dedup.minhash_lsh_pairs(load(spark, sf_dir, "documents"),
                                   threshold=0.12, num_perm=128, bands=128, n=2)


def q_minhash_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production banding (32 bands × 4 rows, threshold 0.5): sparse
    candidates at scale; recall ~1 for true near-dups (J ≥ 0.8), rows-only
    check (recall at the J≈0.5 boundary is probabilistic by design)."""
    return dedup.minhash_lsh_pairs(load(spark, sf_dir, "documents"),
                                   threshold=0.5, num_perm=128, bands=32, n=2)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-radius SimHash near-dups via the 128-bit Hamming-ball
    multi-index (B = 10 blocks, C(10,2) = 45 pair combos → ~25-bit join
    keys): complete for max_hamming = 8 by pigeonhole, and scale-safe —
    the 64-bit single-block variant at this radius had ~7-bit keys
    (~n²/128 candidates at corpus scale; round-2 verdict item #1). The
    64-bit path (`dedup.simhash_neardup_pairs`) remains for narrow radii
    (≤ 3), where 16-bit single blocks keep buckets sparse. Fingerprints
    are hash-dependent → rows-only check; planted-pair recall and the
    per-key candidate-volume bound are pytest-pinned
    (tests/test_dedup_recall.py)."""
    return dedup.simhash_neardup_pairs_wide(load(spark, sf_dir, "documents"),
                                            max_hamming=8, n=2)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.rolling_fingerprint(load(spark, sf_dir, "documents")).orderBy("doc_id")


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the exact Jaccard pair list: connected
    components by iterative min-label propagation (operators/clusters.py)
    — (doc_id, cluster_id = min doc id of the component, is_canonical).
    Exact DuckDB twin: transitive closure via recursive CTE."""
    from p2pddsketch_spark.operators.clusters import neardup_clusters
    # CAPPED candidate generation (max_shingle_df=200): shingles hotter
    # than 200 docs are dropped from the inverted-index join (never from
    # verification), so the candidate stage stays ~linear at corpus scale
    # — the registered query is the production plan (round-2 verdict item
    # #2). The DuckDB twin implements the SAME df cap, so parity is exact
    # parity of the capped algorithm; the uncapped-exact variant stays a
    # pytest oracle (tests/test_dedup_recall.py).
    pairs = dedup.ngram_jaccard_pairs(load(spark, sf_dir, "documents"),
                                      threshold=0.12, n=2,
                                      max_shingle_df=200)
    return neardup_clusters(pairs)


def q_tokenize_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → sequences: top-512 vocabulary (count DESC, term ASC)
    + order-preserving tokenization to int token-id arrays (OOV = −1) —
    the step that produces the (doc_id, tokens, n_tok) input_hint shape.
    The gate row derives three scalars PER DOC from the assembled array
    (length, OOV count, position-weighted checksum Σ tid·pos), so the
    oracle pins every token id at every position without shipping
    arrays through the frame compare."""
    from p2pddsketch_spark.operators.pipeline import build_vocab, tokenize
    docs = load(spark, sf_dir, "documents")
    # vocab_size 16 < the fixture's 31-term vocabulary, so the OOV (−1)
    # path is live in the gate, not just in unit tests
    vocab = build_vocab(docs, vocab_size=16)
    toks = tokenize(docs.select("doc_id", "text"), vocab)
    pos = F.sequence(F.lit(1), F.size("tokens"))
    tok_hash = F.aggregate(
        F.zip_with("tokens", pos, lambda t, p: t.cast("long") * p.cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    n_oov = F.size(F.filter("tokens", lambda t: t == F.lit(-1)))
    return (toks.select("doc_id",
                        F.col("n_tok").cast("long").alias("n_tok"),
                        n_oov.cast("long").alias("n_oov"),
                        tok_hash.alias("tok_hash"))
            .orderBy("doc_id"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing of the documents stream into 1024-token
    context windows, per source (ascending doc_id order). The fold is
    sequential per stream by definition — one applyInPandas per source,
    embarrassingly parallel across streams; the DuckDB twin replays the
    identical fold as a recursive CTE."""
    from p2pddsketch_spark.operators.pipeline import pack_sequences
    docs = load(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split("text", " ")).cast("long"))
    return (pack_sequences(docs, max_tokens=1024)
            .select("doc_id", "source", "pack_id", "pack_offset")
            .orderBy("doc_id"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: 8-gram overlap of every training doc
    against the held-out benchmark subset (doc_id % 97 == 0 — the
    fixture's stand-in eval set). Grams join on the gram key (only
    colliding grams meet); bench grams are corpus-tiny and distinct."""
    from p2pddsketch_spark.operators.pipeline import ngram_contamination
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return ngram_contamination(docs, bench, n=8)


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping word chunks (size 20, overlap 5) with a
    closed-form chunk count — per-chunk word count + rolling checksum
    keep the oracle compact while pinning every chunk boundary."""
    from p2pddsketch_spark.operators.pipeline import chunk_text
    ch = chunk_text(load(spark, sf_dir, "documents"), size=20, overlap=5)
    return (ch.select("doc_id", "chunk_id", "n_chunks",
                      F.size(F.split("chunk", " ")).cast("long").alias("chunk_words"),
                      F.md5("chunk").alias("chunk_hash"))
            .orderBy("doc_id", "chunk_id"))


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split: splitmix64(doc_id)
    mod 10000 vs cumulative thresholds — a pure function of the id
    (stable under reruns/repartitions/corpus growth). Exact HUGEINT
    splitmix twin."""
    from p2pddsketch_spark.operators.pipeline import split_assign
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return (split_assign(docs, seed=101)
            .select("doc_id", "split_bucket", "split")
            .orderBy("doc_id"))


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: fraction of all token occurrences
    covered by the top-k terms, k ∈ {4, 8, 16, 24} (fixture vocabulary
    is 31 terms) — the OOV-rate planning number for `tokenize`."""
    from p2pddsketch_spark.operators.pipeline import vocab_coverage
    return vocab_coverage(load(spark, sf_dir, "documents"),
                          sizes=(4, 8, 16, 24))


def q_dds_udaf_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch as a literal mergeable UDAF (north_rule wording), in the
    SCALE-SAFE composition: stage 1 builds per-partition partial sketches
    through the mapInArrow harness (map-side combine — raw l_quantity
    never shuffles), then `sketch_merge_udaf` — a GROUPED_AGG pandas
    UDAF over sketch BLOBS — re-aggregates the partial table per group
    inside a plain groupBy().agg(). Grouped-agg UDFs cannot
    partial-aggregate, which is immaterial here because only tiny blobs
    reach the reducer; merge is byte-identical to a single-shot build
    (test_sketch_udfs.py). The raw-column `dds_build_udaf` convenience
    form stays pytest-only — its plan full-shuffles raw rows, which dies
    at 10^12. Bucket counts are order-invariant, so the plain quantile
    SQL is an exact oracle."""
    from p2pddsketch_spark.functions.sketch_udfs import sketch_merge_udaf
    from p2pddsketch_spark.operators.harness import EMPTY_MARKER, build_partials
    alpha = 0.01
    gamma, _ = gamma_of_alpha(alpha)
    li = load(spark, sf_dir, "lineitem")
    spec = [SketchSpec("dds", lambda: DDSketch(alpha=alpha, bin_limit=1 << 22),
                       scalar_extractor("l_quantity"))]
    partials = build_partials(li, spec, group_cols=("l_returnflag",))
    merged = (partials.where(F.col("sketch_name") != EMPTY_MARKER)
              .groupBy("l_returnflag")
              .agg(sketch_merge_udaf()(F.col("sketch")).alias("sketch")))
    sketches = {(r["l_returnflag"], "dds"): DDSketch.from_bytes(bytes(r["sketch"]))
                for r in merged.collect()}
    return _ddsketch_quantile_rows(spark, li, sketches, [0.25, 0.75, 0.99],
                                   gamma, ("l_returnflag",))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query (hash, merge, dup —
    df spread exercises the idf term), k1=1.2 b=0.75, top 10."""
    return text.bm25_topk(load(spark, sf_dir, "documents"),
                          ["hash", "merge", "dup"], k=10)


def q_image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates the MULTIMODAL path end-to-end: one deterministic
    4×4 P6 PPM per doc (pixels = splitmix64(doc_id·48+i) mod 256,
    encoded by the library's own `encode_ppm`), decoded DISTRIBUTED by
    the real pure-numpy codec through `decode_features`, reporting dims,
    per-channel means, and pixel min/max. Every reported feature is
    exact in float32 (sums of ≤16 uint8s divided by 16), so the HUGEINT
    splitmix SQL twin reproduces them bit-for-bit — the binary-column
    plumbing, PPM parser, and Arrow feature batching all sit inside a
    hard oracle. (Compressed formats remain env-limited: PIL/av absent
    here — import-try fallbacks, `operators/multimodal.py`.)"""
    import pandas as pd
    from p2pddsketch_spark.functions.hashing import splitmix64
    from p2pddsketch_spark.operators import multimodal as MM
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for d in ids:
                idx = np.arange(48, dtype=np.int64) + d * 48
                px = (splitmix64(idx) % np.uint64(256)).astype(np.uint8)
                payloads.append(MM.encode_ppm(px.reshape(4, 4, 3)))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(make, "media_id long, payload binary")
    f = F.col("features")
    return (MM.decode_features(media)
            .select(F.col("media_id").alias("doc_id"),
                    f[0].cast("long").alias("width"),
                    f[1].cast("long").alias("height"),
                    f[2].cast("double").alias("mean_r"),
                    f[3].cast("double").alias("mean_g"),
                    f[4].cast("double").alias("mean_b"),
                    f[6].cast("long").alias("min_px"),
                    f[7].cast("long").alias("max_px"))
            .orderBy("doc_id"))


# -------------------------------------------------------------- similarity

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return similarity.cosine_topk(emb, queries, k=5)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via multi-table hyperplane LSH + exact rerank —
    the scale-safe plan (no BroadcastNestedLoopJoin/CartesianProduct;
    asserted by tests/test_scale_evidence.py). The oracle is the exact
    all-pairs SQL: LSH never emits a false positive, and at 8 planes ×
    8 tables a true pair at cosine ≥ 0.8 is missed w.p. < 0.25 at the
    threshold boundary and < 10⁻² above 0.9 — on the near-isotropic
    fixture the exact pair set is tiny (empty at sf ≤ 0.01), and pytest
    pins planted-pair recall."""
    return similarity.cosine_neardup_pairs(load(spark, sf_dir, "embeddings"),
                                           threshold=0.8, use_lsh=True,
                                           planes=8, tables=8)


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN in its exactness configuration: probing all
    buckets within Hamming `planes` of the query covers the entire
    bucket space, so the candidate set is the whole corpus and the
    output equals brute-force top-k — a HARD oracle on the bucketing /
    probing / rerank machinery itself (same trick as
    `minhash_lsh_pairs`'s 1-row bands). Production recall/cost points
    (fewer probes) are pytest-verified (`test_similarity.py`)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return similarity.ann_topk_lsh(emb, queries, k=5, planes=4, multiprobe=4)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in its exactness configuration (nprobe == nlist probes
    every inverted list → equals brute force): a HARD oracle on the
    quantizer-assignment + probe-join + rerank machinery. Pruned-probe
    recall and the partition-pruning plan shape are pytest-verified."""
    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return similarity.ann_topk_ivf(emb, queries, k=5, nlist=16, nprobe=16)


def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pairs in the EXACTNESS
    configuration (k = 1): every pair is within-cluster, so the output
    equals the exact all-pairs cosine filter — a HARD oracle on the
    candidate self-join + exact-rerank machinery (the same full-coverage
    trick as the full-probe ANN rows; `cluster_id` pins the assignment
    column at 0). The k > 1 cluster-GATING behavior (recall vs candidate
    volume, k-means-boundary misses) is pytest-pinned in
    tests/test_kmeans.py. Restricted to vec_id < 512 so the quadratic
    exact regime stays gate-cheap; production runs use k ≈ √N
    (operators/kmeans.py docstring)."""
    from p2pddsketch_spark.operators.kmeans import semantic_dedup_pairs
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 512)
    return semantic_dedup_pairs(emb, threshold=0.4, k=1, iters=1)


def q_kmeans_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means in the EXACTNESS configuration (k = 1,
    iters = 1): assignment is trivially cluster 0, so the fitted
    centroid is exactly normalize(Σ v̂) over the row-normalized corpus —
    a HARD value oracle on the whole Lloyd-pass machinery (per-batch
    normalize + matmul-assign + reduceat segment sums, the stable
    (pid, bseq)-ordered partial fold, and the driver renormalization).
    Multi-cluster convergence/assignment behavior is pytest-pinned
    (tests/test_kmeans.py); summation-order float drift is absorbed by
    the same round-6 contract every averaged-double oracle uses."""
    from p2pddsketch_spark.operators.kmeans import kmeans_fit_distributed
    emb = load(spark, sf_dir, "embeddings")
    cent = kmeans_fit_distributed(emb, k=1, iters=1)
    rows = [(i, float(np.round(v, 6))) for i, v in enumerate(cent[0])]
    return (spark.createDataFrame(rows, "dim int, c double")
            .orderBy("dim"))


def q_heavy_users_spacesaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpaceSaving heavy hitters through the distributed pipeline, in its
    EXACTNESS configuration: k = 256 exceeds the distinct-user count, so
    no eviction ever fires, counts are exact, and the plain GROUP BY
    count is a hard oracle on the build/merge machinery (same trick as
    the full-probe ANN queries). Eviction semantics (floors, error
    bounds) are hypothesis-tested in tests/test_properties.py."""
    from p2pddsketch_spark.sketches.spacesaving import SpaceSaving
    out = build_sketches(
        load(spark, sf_dir, "events"),
        [SketchSpec("ss", lambda: SpaceSaving(k=256),
                    scalar_int_extractor("user_id"))],
        salt_buckets=8)
    sk = collect_sketches(out)["ss"]
    rows = sorted(((int(item), int(cnt)) for item, cnt, _ in sk.top()),
                  key=lambda r: (-r[1], r[0]))[:10]
    return (spark.createDataFrame(rows, "user_id long, cnt long")
            .orderBy(F.desc("cnt"), "user_id"))


def q_fd_gram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent Directions covariance sketch over the embeddings table,
    in LOSSLESS mode (ℓ = d ≥ rank): every compaction's shrinkage is 0,
    so the merged sketch's gram matrix equals AᵀA EXACTLY and the DuckDB
    twin recomputes it as plain sums of element products — a hard oracle
    on the FD pipeline (flatten extractor, SVD compaction, shuffle-tree
    merge). The compressive ℓ < d mode is property-tested against the
    2‖A‖F²/ℓ spectral bound in tests/test_sketches.py. Output: the
    upper triangle of the first 8×8 block."""
    from p2pddsketch_spark.sketches.fd import FrequentDirections
    out = build_sketches(
        load(spark, sf_dir, "embeddings"),
        [SketchSpec("fd", lambda: FrequentDirections(ell=64, d=64),
                    array_extractor("embedding"))],
        salt_buckets=8)
    sk = collect_sketches(out)["fd"]
    g = sk.gram()
    rows = [(int(i), int(j), float(np.round(g[i, j], 6)))
            for i in range(8) for j in range(i, 8)]
    return (spark.createDataFrame(rows, "i long, j long, gram double")
            .orderBy("i", "j"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 20 docs per source via mergeable
    bottom-k sampling through the sketch harness — a reproducible
    training-data subset with no raw-data shuffle and no second pass.
    HARD oracle: the splitmix64 tag is pure mod-2^64 arithmetic, so the
    DuckDB twin recomputes it in HUGEINT and takes the 20 smallest tags
    per source."""
    from p2pddsketch_spark.sketches.bottomk import BottomKSample
    docs = load(spark, sf_dir, "documents")
    out = build_sketches(
        docs, [SketchSpec("sample", lambda: BottomKSample(k=20, seed=33),
                          scalar_int_extractor("doc_id"))],
        group_cols=("source",), salt_buckets=8)
    sk = collect_sketches(out, group_cols=("source",))
    rows = [(key[0], int(i)) for key, s in sk.items() for i in s.sample()]
    return (spark.createDataFrame(rows, "source string, doc_id long")
            .orderBy("source", "doc_id"))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-WEIGHTED stratified sample: 20 docs per source by A-ES
    weighted reservoir sampling (tag u^(1/w), w = n_chars — longer docs
    proportionally likelier), through the sketch harness. HARD oracle:
    the tag is splitmix64 + pow, recomputed in SQL; per-source top-20
    tags. Tag values differ by ≤1 ulp across engines but the selected ID
    set is ordering-stable (verified)."""
    from p2pddsketch_spark.sketches.weightedk import WeightedTopK
    import pyarrow as pa

    def pair_extractor(id_col: str, w_col: str):
        def extract(batch: "pa.RecordBatch") -> np.ndarray:
            i = batch.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            w = batch.column(w_col).to_numpy(zero_copy_only=False).astype(np.int64)
            return np.column_stack([i, w]).ravel()
        extract.columns = [id_col, w_col]
        extract.key = f"pair:{id_col}:{w_col}"
        return extract

    docs = load(spark, sf_dir, "documents")
    out = build_sketches(
        docs, [SketchSpec("wsample", lambda: WeightedTopK(k=20, seed=33),
                          pair_extractor("doc_id", "n_chars"))],
        group_cols=("source",), salt_buckets=8)
    sk = collect_sketches(out, group_cols=("source",))
    rows = [(key[0], int(i)) for key, s in sk.items() for i in s.sample()]
    return (spark.createDataFrame(rows, "source string, doc_id long")
            .orderBy("source", "doc_id"))


def q_theta_token_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token overlap between source pairs via theta sketches —
    the set-operation query HLL cannot answer: build one theta sketch per
    source over hashed tokens (one pass), then estimate |A∩B| / |A∪B| for
    every source pair from the tiny summaries. HARD oracle: the fixture
    vocabulary is far below k, so theta stays 1 and every estimate is the
    exact count (the saturated regime is pytest-bound-tested)."""
    from itertools import combinations
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    docs = load(spark, sf_dir, "documents")
    ids = (docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
           .select("source", F.xxhash64("tok").alias("tok_id")))
    out = build_sketches(
        ids, [SketchSpec("theta", lambda: ThetaSketch(k=4096),
                         scalar_int_extractor("tok_id"))],
        group_cols=("source",), salt_buckets=8)
    sk = collect_sketches(out, group_cols=("source",))
    thetas = {key[0]: s for key, s in sk.items()}
    rows = []
    for a, b in combinations(sorted(thetas), 2):
        rows.append((a, b,
                     float(np.round(thetas[a].intersection_cardinality(thetas[b]), 1)),
                     float(np.round(thetas[a].union_cardinality(thetas[b]), 1))))
    return spark.createDataFrame(
        rows, "source_a string, source_b string, inter_est double, union_est double"
    ).orderBy("source_a", "source_b")


# ------------------------------------ estimate queries (weaker rows-only)

def q_sketch_estimates_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL/CMS/Bloom/KLL/REQ/moments/t-digest estimates over events in
    ONE pass — estimates are hash/solver-dependent, so the driver
    records a rows-only check; pytest verifies them against exact
    oracles within published bounds."""
    from p2pddsketch_spark.sketches.kll_turnstile import TurnstileKLL
    from p2pddsketch_spark.sketches.moments import MomentSketch as _MomentSketch
    from p2pddsketch_spark.sketches.req import ReqSketch as _ReqSketch
    ev = load(spark, sf_dir, "events")
    specs = [
        SketchSpec("hll_users", lambda: HyperLogLog(p=14), scalar_int_extractor("user_id")),
        SketchSpec("cms_users", lambda: CountMinSketch(depth=5, width=1 << 15), scalar_int_extractor("user_id")),
        SketchSpec("bloom_users", lambda: BloomFilter(m_bits=1 << 20, k=5), scalar_int_extractor("user_id")),
        SketchSpec("kll_value", lambda: KLLSketch(k=256), scalar_extractor("value")),
        SketchSpec("req_value", lambda: _ReqSketch(k=32),
                   scalar_extractor("value")),
        SketchSpec("mom_value", lambda: _MomentSketch(k=6, zscale=24.0),
                   scalar_extractor("value")),
        SketchSpec("kllpm_value", lambda: TurnstileKLL(k=256), scalar_extractor("value")),
        SketchSpec("tdigest_value", lambda: TDigest(delta=200), scalar_extractor("value")),
        SketchSpec("dds_value", lambda: DDSketch(alpha=0.01, bin_limit=1 << 22), scalar_extractor("value")),
        SketchSpec("ss_users", lambda: _spacesaving(64), scalar_int_extractor("user_id")),
    ]
    out = build_sketches(ev, specs, salt_buckets=16)
    sk = collect_sketches(out)
    rows = [
        ("hll_users_cardinality", float(sk["hll_users"].cardinality())),
        ("bloom_users_bits_set", float(int(np.unpackbits(sk["bloom_users"].bits.view(np.uint8)).sum()))),
        ("cms_users_total", float(sk["cms_users"].total)),
        ("kll_value_p50", float(sk["kll_value"].quantile(0.5))),
        ("kll_value_p99", float(sk["kll_value"].quantile(0.99))),
        ("kllpm_value_p50", float(sk["kllpm_value"].quantile(0.5))),
        ("req_value_p99", float(sk["req_value"].quantile(0.99))),
        ("mom_value_p50", float(sk["mom_value"].quantile(0.5))),
        ("tdigest_value_p50", float(sk["tdigest_value"].quantile(0.5))),
        ("tdigest_value_p99", float(sk["tdigest_value"].quantile(0.99))),
        ("dds_value_p99", float(sk["dds_value"].quantile(0.99))),
        ("ss_top_user_count", float(sk["ss_users"].top(1)[0][1])),
        ("n_rows", float(sk["dds_value"].n)),
    ]
    return spark.createDataFrame(rows, "metric string, value double").orderBy("metric")


def q_theta_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day user retention from SKETCH STATE: one theta sketch
    per day over user_id (single pass through the harness), then every
    consecutive-day intersection is answered from the tiny summaries —
    the product query (DAU + retained users) that would otherwise
    re-scan raw events per day pair. HARD oracle: fixture DAU is far
    under k, the under-k regime keeps every hash, so DAU and
    intersections are exact counts (same regime as
    `theta_token_overlap`); saturated-k error is pytest-bound-tested."""
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    ev = (load(spark, sf_dir, "events")
          .withColumn("day", F.date_format(F.date_trunc("day", F.col("ts")),
                                           "yyyy-MM-dd")))
    out = build_sketches(
        ev, [SketchSpec("theta", lambda: ThetaSketch(k=65536),
                        scalar_int_extractor("user_id"))],
        group_cols=("day",), salt_buckets=8)
    sk = {key[0]: s for key, s in collect_sketches(out, group_cols=("day",)).items()}
    from datetime import date, timedelta
    rows = []
    for d in sorted(sk):
        nxt = (date.fromisoformat(d) + timedelta(days=1)).isoformat()
        if nxt not in sk:  # CALENDAR-consecutive pairs only
            continue
        rows.append((d, nxt,
                     int(np.round(sk[d].cardinality())),
                     int(np.round(sk[nxt].cardinality())),
                     int(np.round(sk[d].intersection_cardinality(sk[nxt])))))
    return (spark.createDataFrame(
        rows, "day string, next_day string, dau long, dau_next long, retained long")
        .orderBy("day"))


def q_sketch_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-by-construction metrics of the one-pass multi-sketch
    build, split out of the estimates row into a HARD oracle (round-2
    verdict item #3): every value below is exact regardless of hash seeds
    — DDSketch/KLL/Bloom row counters are plain sums, CMS total is the
    inserted count, and `bloom_hits_on_inserted` probes the merged Bloom
    filter DISTRIBUTED (broadcast blob + mapInPandas over the distinct
    user ids, no raw collect) and must equal COUNT(DISTINCT user_id) by
    the no-false-negative guarantee. The counting-Bloom rows (round 5)
    exercise the turnstile: an insert-side and a retraction-side filter
    built in the SAME pass, merged with negated counters, then probed on
    the surviving ids — no-FN for net-live items makes the hit count
    exactly COUNT(DISTINCT user_id surviving), and weight-linearity
    makes net_weight exactly the surviving row count. The
    hash-dependent estimates from
    the same build (HLL cardinality, quantile values, heavy-hitter
    counts) are bound-verified in pytest (tests/test_sketches.py,
    tests/test_estimates_bounds.py)."""
    import pandas as pd
    from p2pddsketch_spark.sketches.cbloom import CountingBloomFilter
    from p2pddsketch_spark.sketches.moments import MomentSketch as _MomentSketch
    from p2pddsketch_spark.sketches.req import ReqSketch as _ReqSketch
    ev = load(spark, sf_dir, "events")

    # delete-stream extractor for the turnstile demo: the ids whose rows
    # a retraction pass would remove (every 7th user), taken from the
    # SAME batches as the insert side — one scan builds both filters
    def _retracted_ids(batch):
        col = batch.column("user_id")
        if col.null_count:
            col = col.drop_null()
        v = col.to_numpy(zero_copy_only=False).astype(np.int64)
        return v[v % 7 == 0]
    _retracted_ids.columns = ["user_id"]
    _retracted_ids.key = "scalar_int_mod7:user_id"

    specs = [
        SketchSpec("dds_value", lambda: DDSketch(alpha=0.01, bin_limit=1 << 22),
                   scalar_extractor("value")),
        SketchSpec("kll_value", lambda: KLLSketch(k=256), scalar_extractor("value")),
        SketchSpec("req_value", lambda: _ReqSketch(k=32),
                   scalar_extractor("value")),
        SketchSpec("mom_value", lambda: _MomentSketch(k=6, zscale=24.0),
                   scalar_extractor("value")),
        SketchSpec("cms_users", lambda: CountMinSketch(depth=5, width=1 << 15),
                   scalar_int_extractor("user_id")),
        SketchSpec("bloom_users", lambda: BloomFilter(m_bits=1 << 20, k=5),
                   scalar_int_extractor("user_id")),
        # m sized for the actual id universe (1.5k distinct at sf0.1 →
        # FPP ~1e-5 at 2^16), NOT copied from the bit-Bloom: counter
        # slots are 32x a bit, and the oracle rows depend only on no-FN
        SketchSpec("cbf_users", lambda: CountingBloomFilter(m=1 << 16, k=5),
                   scalar_int_extractor("user_id")),
        SketchSpec("cbf_churn", lambda: CountingBloomFilter(m=1 << 16, k=5),
                   _retracted_ids),
    ]
    # file-list fast path + auto driver/shuffle final merge: the pyarrow
    # in-task read sidesteps the JVM->Python Arrow IPC of the whole events
    # table (measured ~0.7 s serial at sf1.0) and row-group/row-range
    # splitting parallelizes the single-file scan (round-6, guide §4.1/§2)
    from p2pddsketch_spark.operators.harness import (
        build_partials_from_files, final_sketches, parquet_file_list)
    sk = final_sketches(build_partials_from_files(
        spark, parquet_file_list(f"{sf_dir}/events.parquet"), specs,
        salt_buckets=16))
    blob = spark.sparkContext.broadcast(sk["bloom_users"].to_bytes())

    # turnstile: subtract the retraction stream's counters (merge with a
    # negated copy — counter addition is signed), then probe the
    # SURVIVING ids distributed; delete exactly undoes insert, so every
    # survivor answers present (no false negatives) and net_weight drops
    # by exactly the retracted row count — both layout-invariant
    cbf = sk["cbf_users"]
    churn = sk["cbf_churn"]
    neg = CountingBloomFilter(m=churn.m, k=churn.k, seed=churn.seed)
    neg.counts = -churn.counts
    neg.net_weight = -churn.net_weight
    cbf.merge(neg)
    cbf_blob = spark.sparkContext.broadcast(cbf.to_bytes())

    # ONE distributed probe job for BOTH filters (round-6): the Bloom
    # filter probes every distinct id, the merged counting-Bloom probes
    # the surviving (id % 7 != 0) subset — same sets as the former two
    # jobs, the cbf filter applied inside the task
    def probe_both(batches):
        bf = BloomFilter.from_bytes(blob.value)
        f = CountingBloomFilter.from_bytes(cbf_blob.value)
        for pdf in batches:
            ids = pdf["user_id"].to_numpy(dtype=np.int64)
            surv = ids[ids % 7 != 0]
            yield pd.DataFrame({"bloom_hits": [int(bf.contains(ids).sum())],
                                "cbf_hits": [int(f.contains(surv).sum())]})

    hits_row = (ev.select("user_id").distinct()
                .mapInPandas(probe_both, "bloom_hits long, cbf_hits long")
                .agg(F.sum("bloom_hits"), F.sum("cbf_hits")).collect()[0])
    bloom_hits = hits_row[0] or 0
    cbf_hits = hits_row[1] or 0
    # (bloom's n_added is NOT here: the harness feeds BATCH_INVARIANT
    # sketches pre-uniqued counts once per stage-1 task or accumulator
    # flush, so that counter depends on task and flush boundaries — only
    # layout-invariant values qualify)
    rows = [
        ("bloom_hits_on_inserted", float(bloom_hits)),
        ("cbf_hits_after_delete", float(cbf_hits)),
        ("cbf_net_weight_after_delete", float(cbf.net_weight)),
        ("cms_users_total", float(sk["cms_users"].total)),
        ("kll_value_n", float(sk["kll_value"].n)),
        ("mom_value_n", float(sk["mom_value"].n)),
        ("n_rows", float(sk["dds_value"].n)),
        ("req_value_n", float(sk["req_value"].n)),
    ]
    return spark.createDataFrame(rows, "metric string, value double").orderBy("metric")


def q_streaming_dds_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end with a HARD oracle (round-2
    verdict item #4): the events table is re-laid-out as a multi-file
    source, read with `readStream` (maxFilesPerTrigger=3 → several real
    micro-batches under Trigger.AvailableNow), and every micro-batch runs
    the same mapInArrow partial build through `ForeachBatchSketchWriter`
    into an epoch-keyed parquet state dir. The final table (hourly p95)
    comes from merging ALL epoch partials — DDSketch merge is additive
    and order-invariant, so the result is byte-identical to the batch
    build no matter how the stream was micro-batched, and the DuckDB twin
    is the same quantile SQL as `dds_events_hourly`. streaming == batch
    equivalence across trigger sizes stays pytest-pinned
    (tests/test_streaming.py)."""
    import shutil
    import tempfile
    from p2pddsketch_spark.streaming.sketch_stream import (
        ForeachBatchSketchWriter, scoped_state_partitions)
    alpha = 0.01
    gamma, _ = gamma_of_alpha(alpha)
    ev = load(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="p2pdds_stream_gate_")
    try:
        src, state, ckpt = f"{tmp}/src", f"{tmp}/state", f"{tmp}/ckpt"
        ev.repartition(8).write.parquet(src)
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 3).parquet(src)
                  .withColumn("hour_bucket",
                              F.date_format(F.date_trunc("hour", F.col("ts")),
                                            "yyyy-MM-dd HH:00:00")))
        writer = ForeachBatchSketchWriter(
            [SketchSpec("dds", lambda: DDSketch(alpha=alpha, bin_limit=1 << 22),
                        scalar_extractor("value"))],
            state_dir=state, group_cols=("hour_bucket",), salt_buckets=4)
        # The per-micro-batch partial build groups on (hour_bucket, salt)
        # — 4 salt buckets × few hours; 32 shuffle partitions per batch
        # is idle-reducer overhead at gate SF.
        with scoped_state_partitions(spark, 4):
            sq = (stream.writeStream.foreachBatch(writer)
                  .option("checkpointLocation", ckpt)
                  .trigger(availableNow=True).start())
            sq.awaitTermination()
            sketches = writer.current_sketches(spark)
        rows = []
        for key, sk in sketches.items():
            hour = key[0]
            for q in (0.95,):
                k_signed = sk.quantile_key(q)
                k_unsigned = k_signed - sk.offset if k_signed > 0 else (
                    k_signed + sk.offset if k_signed < 0 else 0)
                est = float(np.round(2.0 * np.power(gamma, float(k_unsigned)) / (gamma + 1.0), 6)) \
                    if k_signed > 0 else (0.0 if k_signed == 0 else float(
                        np.round(-2.0 * np.power(gamma, float(-k_signed - sk.offset)) / (gamma + 1.0), 6)))
                rows.append((hour, float(q), int(k_unsigned), est, int(sk.n)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (spark.createDataFrame(
        rows, "hour_bucket string, q double, bucket_key long, estimate double, n long")
        .orderBy("hour_bucket", "q"))


def _spacesaving(k: int):
    from p2pddsketch_spark.sketches.spacesaving import SpaceSaving
    return SpaceSaving(k=k)


# moved to the harness (operators must not import from plans);
# re-exported here for existing callers
from p2pddsketch_spark.operators.harness import \
    scalar_int_extractor  # noqa: E402,F401


# ------------------------------------------------- round-3 additions:
# runtime filters, robust stats, iterative graph, corpus-LM scoring

def q_bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accelerated join: a Bloom filter built over the keys of a
    ~10%-selective orders slice prunes lineitem BEFORE the shuffle join;
    the exact join afterwards removes Bloom false positives, so the
    result is bit-identical to the plain join (the DuckDB twin). At
    100 TB this cuts the fact-side shuffle ~10× for the cost of a
    broadcast bitset — the explicit form of Spark's runtime bloom
    filter, reusing the library's mergeable BloomFilter."""
    from p2pddsketch_spark.operators.runtime_filter import bloom_semi_filter
    orders = (load(spark, sf_dir, "orders")
              .where(F.col("o_totalprice") > 450000.0))
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    pruned = bloom_semi_filter(li, "l_orderkey",
                               orders.select("o_orderkey"), "o_orderkey")
    return (pruned.join(orders.select("o_orderkey", "o_orderpriority"),
                        pruned["l_orderkey"] == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_items"),
                 F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       .cast("decimal(20,6)")).cast("double").alias("revenue"))
            .orderBy("o_orderpriority"))


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven robust aggregation: DDSketch p01/p99 of
    l_extendedprice (pure Catalyst plan — the estimates are
    value-exact vs the SQL twin) define the trim bounds; the stats
    aggregate only rows inside them. One bounds row broadcast; the
    fact table is scanned once for the quantile pass and once for the
    trimmed aggregate — no sort, no full-data percentile."""
    li = load(spark, sf_dir, "lineitem")
    qdf = ddsketch_quantile_plan(li, "l_extendedprice", [0.01, 0.99],
                                 alpha=0.005)
    bounds = qdf.agg(
        F.min(F.when(F.col("q") == 0.01, F.col("estimate"))).alias("lo"),
        F.min(F.when(F.col("q") == 0.99, F.col("estimate"))).alias("hi"))
    kept = (li.crossJoin(F.broadcast(bounds))
            .where(F.col("l_extendedprice").between(F.col("lo"), F.col("hi"))))
    dec_sum = F.sum(F.col("l_extendedprice").cast("decimal(20,6)")).cast("double")
    return (kept.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_kept"),
                 dec_sum.alias("sum_price"),
                 F.round(dec_sum / F.count("*").cast("double"), 6)
                 .alias("avg_price"))
            .orderBy("l_returnflag"))


def q_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the symmetrized part↔supplier
    graph from lineitem (supplier ids offset by 2^32 into their own id
    space). Three synchronous rounds, damping 0.85, int64 nano-unit
    ranks — every iteration reproduced bit-for-bit by the unrolled-CTE
    DuckDB twin. Top 20 nodes, deterministic (rank DESC, node) order."""
    from p2pddsketch_spark.operators.pagerank import pagerank
    li = load(spark, sf_dir, "lineitem")
    off = F.lit(1 << 32).cast("long")
    fwd = li.select(F.col("l_partkey").alias("src"),
                    (F.col("l_suppkey") + off).alias("dst"))
    rev = li.select((F.col("l_suppkey") + off).alias("src"),
                    F.col("l_partkey").alias("dst"))
    ranks = pagerank(fwd.union(rev), iterations=3, damping=0.85)
    return (ranks.select("node",
                         (F.col("rank_nano").cast("double") / F.lit(1e9))
                         .alias("rank"))
            .orderBy(F.desc("rank"), "node").limit(20))


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM quality scores per document (rare-bigram ratio +
    total self-information in bits) — see text.bigram_surprisal."""
    return text.bigram_surprisal(load(spark, sf_dir, "documents"),
                                 rare_threshold=3)


def q_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values for (l_partkey, l_suppkey) — the clustering key
    of `operators.layout.zorder_layout`. Pure Catalyst bit math; the
    DuckDB twin evaluates the identical interleave expression. The
    layout's pruning payoff is measured in tests/test_layout.py."""
    from p2pddsketch_spark.operators.layout import zorder_col
    li = load(spark, sf_dir, "lineitem")
    return (li.select("l_orderkey",
                      F.col("l_linenumber").cast("long").alias("l_linenumber"),
                      "l_partkey", "l_suppkey",
                      zorder_col("l_partkey", "l_suppkey", bits=11).alias("z"))
            .orderBy("z", "l_orderkey", "l_linenumber").limit(200))


def q_zorder3_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-column Morton z-values (l_partkey, l_suppkey, l_orderkey,
    bits=10 each → 30 z-bits) — the n-dimensional clustering key of
    `operators.layout.zorder_layout_nd`, the shape a 100 TB table
    actually optimizes on (e.g. date × tenant × entity). Pure Catalyst
    bit math; the twin evaluates the identical d-column interleave."""
    from p2pddsketch_spark.operators.layout import zorder_col_nd
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_partkey", "l_suppkey", "l_orderkey"]
    return (li.select("l_orderkey",
                      F.col("l_linenumber").cast("long").alias("l_linenumber"),
                      "l_partkey", "l_suppkey",
                      zorder_col_nd(cols, bits=10).alias("z"))
            .orderBy("z", "l_orderkey", "l_linenumber").limit(200))


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministic synthetic contact string built
    from events (the fixture corpus contains no organic PII — the
    operator under test is the regex scrub, and the construction makes
    its effect oracle-checkable). Counts are taken pre-redaction."""
    from p2pddsketch_spark.operators.text import redact_pii
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    txt = F.concat(
        F.lit("contact user"), F.col("user_id").cast("string"),
        F.lit(" at user"), F.col("user_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("user_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (F.col("user_id") % 256).cast("string"),
        F.lit(".0."), (F.col("event_id") % 256).cast("string"))
    return (redact_pii(ev.select("event_id", txt.alias("text")),
                       text_col="text", id_col="event_id")
            .orderBy("event_id"))


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull `$.k` out of the JSON props
    column (JVM JsonPath, no Python) and aggregate per event type."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.round(F.sum("k").cast("double") /
                         F.count("*").cast("double"), 6).alias("avg_k"))
            .orderBy("event_type"))


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join (orders replicated 4×, lineitem salted
    by an unrelated hash, join key (orderkey, salt)) — identical rows to
    the plain join, which is the oracle. The plan-shape test pins the
    salt into the join keys and the absence of a broadcast."""
    from p2pddsketch_spark.operators.skew import salted_join
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, orders, key="l_orderkey", build_key="o_orderkey",
                    salts=4)
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_items"),
                 F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       .cast("decimal(20,6)")).cast("double").alias("revenue"))
            .orderBy("o_orderpriority"))


def q_scd2_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension build: the first event per user seeds the open
    row of a `current` table, every later event is a change record, and
    `scd2_merge` closes/extends intervals with one lead() window. The
    twin replays the same versioning as a plain LEAD over (ts, event_id)
    order — the merge must reproduce it exactly."""
    from pyspark.sql import Window
    from p2pddsketch_spark.operators.scd import scd2_merge
    ev = (load(spark, sf_dir, "events").where(F.col("user_id") < 100)
          .select("user_id", "event_id", "ts", "value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = ev.withColumn("_rn", F.row_number().over(w))
    current = (rn.where(F.col("_rn") == 1)
               .select("user_id", "value",
                       F.col("ts").alias("valid_from"),
                       F.lit(None).cast(rn.schema["ts"].dataType)
                       .alias("valid_to")))
    updates = rn.where(F.col("_rn") > 1).select("user_id", "value", "ts",
                                                "event_id")
    merged = scd2_merge(current, updates, key="user_id", ts_col="ts",
                        payload_cols=["value"], tiebreak="event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (merged.select(
                "user_id", "value",
                F.date_format("valid_from", fmt).alias("valid_from"),
                F.date_format("valid_to", fmt).alias("valid_to"))
            .orderBy("user_id", "valid_from"))


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top nodes by triangle participation in the co-purchase graph
    (parts < 300 sharing an order). Two hash equi-joins; every triangle
    enumerated once via a<b<c canonicalization — the DuckDB twin runs
    the identical join algebra."""
    from p2pddsketch_spark.operators.triangles import triangle_participation
    li = (load(spark, sf_dir, "lineitem")
          .where(F.col("l_partkey") < 300)
          .select("l_orderkey", "l_partkey"))
    co = (li.alias("x")
          .join(li.alias("y"),
                (F.col("x.l_orderkey") == F.col("y.l_orderkey")) &
                (F.col("x.l_partkey") < F.col("y.l_partkey")))
          .select(F.col("x.l_partkey").alias("src"),
                  F.col("y.l_partkey").alias("dst")))
    return (triangle_participation(co)
            .orderBy(F.desc("n_triangles"), "node").limit(20))


def q_udtf_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram totals via a Python UDTF in SQL LATERAL
    position (Arrow-batched) — the extension-API template, pinned
    against an unnest-twin oracle. Hot n-gram paths remain JVM-side."""
    from p2pddsketch_spark.operators.udtf_ops import udtf_ngram_stats
    return udtf_ngram_stats(spark, load(spark, sf_dir, "documents"), n=2)


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: orders joined to a filtered lineitem window,
    conditional aggregation by priority class. Filter pushes into the
    fact scan; the dim broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (li.where((F.col("l_shipdate") >= F.lit("1995-01-01")) &
                     (F.col("l_shipdate") < F.lit("1996-01-01")))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.sum(hi).alias("high_line_count"),
                 F.sum(1 - hi).alias("low_line_count"))
            .orderBy("l_returnflag"))


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share: decimal-exact numerator and
    denominator, one final double division (deterministic)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(20,6)")
    promo = F.when(F.col("p_type").startswith("PROMO"), rev) \
        .otherwise(F.lit(0).cast("decimal(20,6)"))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.round(F.lit(100.0) * F.sum(promo).cast("double") /
                         F.sum(rev).cast("double"), 6).alias("promo_share"),
                 F.sum(rev).cast("double").alias("total_revenue")))


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics in ONE aggregation pass (the
    planner-feeding profile a 100 TB table gets before layout/join
    decisions): per numeric column min/max/ndv/null-count. Exact ndv
    here (hard oracle); the HLL sketch path estimates the same profile
    one-pass-mergeable at scale (bound-tested in pytest)."""
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [F.round(F.min(c), 6).alias(f"{c}_min"),
                 F.round(F.max(c), 6).alias(f"{c}_max"),
                 F.countDistinct(c).alias(f"{c}_ndv"),
                 F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_nulls")]
    return li.agg(*aggs)


def q_theta_distinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV as a SQL GROUPED_AGG UDAF: distinct users per event
    type from sketch blobs built inside GROUP BY, plus a two-level
    re-aggregation (per-(type, day) partials union-merged to per-type)
    that must give the SAME answer — the mergeability contract. The
    fixture cardinalities sit under k, so every estimate is exact and
    the COUNT(DISTINCT) twin is a hard oracle."""
    from p2pddsketch_spark.functions.sketch_udfs import (theta_build_udaf,
                                                         theta_cardinality_udf,
                                                         sketch_merge_udaf)
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"),
        F.xxhash64("user_id").alias("uid_h"))
    direct = (ev.groupBy("event_type")
              .agg(theta_build_udaf()("uid_h").alias("sk"))
              .select("event_type",
                      theta_cardinality_udf()("sk").alias("n_users_direct")))
    partials = (ev.groupBy("event_type", "day")
                .agg(theta_build_udaf()("uid_h").alias("sk")))
    rolled = (partials.groupBy("event_type")
              .agg(sketch_merge_udaf()("sk").alias("sk"))
              .select("event_type",
                      theta_cardinality_udf()("sk").alias("n_users_rolled")))
    return (direct.join(rolled, "event_type")
            .select("event_type",
                    F.col("n_users_direct").cast("long").alias("n_users_direct"),
                    F.col("n_users_rolled").cast("long").alias("n_users_rolled"))
            .orderBy("event_type"))


def q_jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates the JPEG codec end-to-end: one 32×32 grayscale JPEG
    per doc, built from 4×4 tiles of 8×8-constant pixels (tile value =
    splitmix64(doc_id·16+t) mod 256), ENCODED at quality 100 where every
    quant value is 1 — a constant DCT block quantizes losslessly, so the
    decode (headers, Huffman, bit unpacking, IDCT, rounding) reproduces
    the tiles EXACTLY (pytest-pinned for all 256 values). Features are
    exact in float32 (power-of-two divisors), so the HUGEINT-splitmix
    twin is a hard oracle over the full compressed-codec path."""
    import pandas as pd
    from p2pddsketch_spark.functions.hashing import splitmix64
    from p2pddsketch_spark.operators import multimodal as MM
    from p2pddsketch_spark.operators.jpeg import encode_jpeg
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for d in ids:
                idx = np.arange(16, dtype=np.int64) + d * 16
                tiles = (splitmix64(idx) % np.uint64(256)) \
                    .astype(np.uint8).reshape(4, 4)
                img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
                payloads.append(encode_jpeg(img, quality=100))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(make, "media_id long, payload binary")
    f = F.col("features")
    return (MM.decode_features(media)
            .select(F.col("media_id").alias("doc_id"),
                    f[0].cast("long").alias("width"),
                    f[1].cast("long").alias("height"),
                    f[2].cast("double").alias("mean_px"),
                    f[6].cast("long").alias("min_px"),
                    f[7].cast("long").alias("max_px"))
            .orderBy("doc_id"))


def q_audio_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates the AUDIO codec end-to-end: one 256-sample 16 kHz
    mono RIFF/WAVE per doc (int16 samples = splitmix64(doc_id·256+i)
    mod 2^16 − 2^15, encoded by the library's `encode_wav`), decoded
    DISTRIBUTED by `audio_features`. PCM is lossless and every reported
    metric is exact float64 math with power-of-two divisors cast to
    float32, so the HUGEINT-splitmix twin reproduces each bit-for-bit
    (rms via an exact integer sum of squares + one IEEE sqrt)."""
    import pandas as pd
    from p2pddsketch_spark.functions.hashing import splitmix64
    from p2pddsketch_spark.operators import multimodal as MM
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for d in ids:
                idx = np.arange(256, dtype=np.int64) + d * 256
                v = (splitmix64(idx) % np.uint64(65536)).astype(np.int64) - 32768
                payloads.append(MM.encode_wav(v.astype(np.int16), 16000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(make, "media_id long, payload binary")
    return (MM.audio_features(media)
            .select(F.col("media_id").alias("doc_id"),
                    F.col("duration_ms").cast("double").alias("duration_ms"),
                    "sample_rate", "channels",
                    F.col("rms").cast("double").alias("rms"),
                    F.col("peak").cast("double").alias("peak"),
                    "zero_crossings")
            .orderBy("doc_id"))


def q_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates the COMPRESSED-PNG decode path: identical splitmix
    pixels to `image_decode_features`, but encoded through the real
    zlib-deflate PNG writer and decoded by the inflate + row-filter
    reconstruction. PNG is lossless, so the oracle IS the PPM query's
    oracle — any divergence is a codec bug."""
    import pandas as pd
    from p2pddsketch_spark.functions.hashing import splitmix64
    from p2pddsketch_spark.operators import multimodal as MM
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for d in ids:
                idx = np.arange(48, dtype=np.int64) + d * 48
                px = (splitmix64(idx) % np.uint64(256)).astype(np.uint8)
                payloads.append(MM.encode_png(px.reshape(4, 4, 3)))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(make, "media_id long, payload binary")
    f = F.col("features")
    return (MM.decode_features(media)
            .select(F.col("media_id").alias("doc_id"),
                    f[0].cast("long").alias("width"),
                    f[1].cast("long").alias("height"),
                    f[2].cast("double").alias("mean_r"),
                    f[3].cast("double").alias("mean_g"),
                    f[4].cast("double").alias("mean_b"),
                    f[6].cast("long").alias("min_px"),
                    f[7].cast("long").alias("max_px"))
            .orderBy("doc_id"))


def q_video_sample_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates the VIDEO path: a 6-frame 10 fps P2PV container per
    doc (frame f's 4×4 pixels = splitmix64(doc_id·288 + f·48 + i) mod
    256), frame-sampled DISTRIBUTED at every_ms=300 → step
    round(0.3·10)=3 → frames {0, 3}. Per-frame means are single exact
    integer sums with one double division, so the splitmix twin is a
    hard oracle over container parsing, cadence math, and sampling."""
    import pandas as pd
    from p2pddsketch_spark.functions.hashing import splitmix64
    from p2pddsketch_spark.operators import multimodal as MM
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for d in ids:
                frames = []
                for fidx in range(6):
                    idx = np.arange(48, dtype=np.int64) + d * 288 + fidx * 48
                    px = (splitmix64(idx) % np.uint64(256)).astype(np.uint8)
                    frames.append(px.reshape(4, 4, 3))
                payloads.append(MM.encode_video(frames, fps=10))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(make, "media_id long, payload binary")
    out = MM.video_frame_features(media, every_ms=300)
    return (out.select(F.col("media_id").alias("doc_id"),
                       "n_sampled",
                       F.round(F.col("frame_means")[0], 6).alias("mean_f0"),
                       F.round(F.col("frame_means")[1], 6).alias("mean_f1"))
            .orderBy("doc_id"))


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming stream-stream JOIN end-to-end with a HARD
    oracle: purchases and views are re-laid-out as multi-file streaming
    sources, joined with `stream_interval_join` (inner equi-join on
    user + event-time range, watermarks on both sides), drained under
    Trigger.AvailableNow into a memory sink. With a span-covering
    watermark no state is evicted, so the streamed pair set must equal
    the batch BETWEEN-join — which is the DuckDB twin. Eviction-mode
    behavior stays pytest-pinned (tests/test_checkpoint_streaming.py)."""
    import shutil
    import tempfile
    from p2pddsketch_spark.streaming.sketch_stream import (
        scoped_state_partitions, stream_interval_join)
    ev = (load(spark, sf_dir, "events").where(F.col("event_id") < 3000))
    left = (ev.where(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("l_ts"),
                    F.col("event_id").alias("l_id")))
    right = (ev.where(F.col("event_type") == "view")
             .select("user_id", F.col("ts").alias("r_ts"),
                     F.col("event_id").alias("r_id")))
    tmp = tempfile.mkdtemp(prefix="p2pdds_ssj_gate_")
    try:
        lp, rp, ck = f"{tmp}/l", f"{tmp}/r", f"{tmp}/ck"
        left.repartition(4).write.parquet(lp)
        right.repartition(4).write.parquet(rp)
        ls = (spark.readStream.schema(left.schema)
              .option("maxFilesPerTrigger", 2).parquet(lp))
        rs = (spark.readStream.schema(right.schema)
              .option("maxFilesPerTrigger", 2).parquet(rp))
        joined = stream_interval_join(ls, rs, key="user_id",
                                      left_ts="l_ts", right_ts="r_ts",
                                      max_lag="1 hour", watermark="2400 hours")
        import uuid
        name = "ssj_gate_" + uuid.uuid4().hex[:12]
        # 4 state partitions: right-sized for a fresh sf-scale checkpoint
        # (a stream-stream join commits FOUR stores per partition per
        # micro-batch; see scoped_state_partitions).
        with scoped_state_partitions(spark, 4):
            q = (joined.select("l_id", "r_id").writeStream.format("memory")
                 .queryName(name).outputMode("append")
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        rows = [(r["l_id"], r["r_id"]) for r in spark.table(name).collect()]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (spark.createDataFrame(rows or [], "l_id long, r_id long")
            .orderBy("l_id", "r_id"))


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality report over lineitem in ONE aggregation
    pass (operators/quality.py): null checks, key uniqueness, value
    ranges, accepted categorical values, and a minimum-row-count
    constraint — incl. one rule that FAILS by design (quantity "< 40")
    so both report branches are oracle-pinned."""
    from p2pddsketch_spark.operators.quality import Rule, validate
    li = load(spark, sf_dir, "lineitem")
    rules = [
        Rule("orderkey_not_null", "not_null", col="l_orderkey"),
        Rule("line_unique", "unique", col="l_orderkey_l_linenumber"),
        Rule("qty_in_1_50", "in_range", col="l_quantity", lo=1, hi=50),
        Rule("qty_under_40", "in_range", col="l_quantity", lo=1, hi=40),
        Rule("flag_accepted", "accepted_values", col="l_returnflag",
             values=("A", "N", "R")),
        Rule("min_rows", "non_negative_count", min_rows=1000),
    ]
    keyed = li.withColumn(
        "l_orderkey_l_linenumber",
        F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber")))
    return validate(keyed, rules)


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency Zipf diagnostics: least-squares slope of
    ln(freq) vs ln(rank) over the top-100 tokens (count DESC, token ASC
    — total order). Corpus-health check for tokenizer/vocab decisions:
    natural text sits near −1, template spam flattens, boilerplate
    steepens. Float parity: each ln is rounded to 6 and the four
    regression sums accumulate as DECIMAL(20,6) (shuffle-order immune);
    the closed-form slope is one deterministic double expression."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window
    top = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("cnt"))
           .orderBy(F.desc("cnt"), "tok").limit(100))
    ranked = top.withColumn(
        "rank", F.row_number().over(
            Window.orderBy(F.desc("cnt"), "tok")))
    x = F.round(F.log(F.col("rank").cast("double")), 6)
    y = F.round(F.log(F.col("cnt").cast("double")), 6)
    d = "decimal(20,6)"
    sums = ranked.agg(
        F.sum(x.cast(d)).cast("double").alias("sx"),
        F.sum(y.cast(d)).cast("double").alias("sy"),
        F.sum(F.round(x * y, 6).cast(d)).cast("double").alias("sxy"),
        F.sum(F.round(x * x, 6).cast(d)).cast("double").alias("sxx"),
        F.count("*").cast("double").alias("n"))
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / \
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return sums.select(F.round(slope, 6).alias("zipf_slope"),
                       F.round(intercept, 6).alias("zipf_intercept"),
                       F.col("n").cast("long").alias("n_terms"))


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit over the embeddings table — see
    similarity.quantize_embeddings_int8 (codes pinned positionally)."""
    return (similarity.quantize_embeddings_int8(
        load(spark, sf_dir, "embeddings")).orderBy("vec_id"))


def q_ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN: int8 codes, exact int64 dot-product ranking —
    see similarity.int8_topk. Deterministic end-to-end, hard oracle."""
    emb = load(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return similarity.int8_topk(emb, queries, k=5)


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analytics (view → click → purchase): per user,
    the earliest view, the earliest click strictly after it, and the
    earliest purchase strictly after that; counts per reached stage.
    Three small per-user aggregations chained on the user key — the fact
    table is scanned once per stage with an early event-type filter, and
    only (user, ts) pairs ever shuffle."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(etype, prev, colname):
        j = ev.where(F.col("event_type") == etype)
        if prev is not None:
            j = (j.join(prev, "user_id")
                 .where(F.col("ts") > F.col(prev.columns[1])))
        return j.groupBy("user_id").agg(F.min("ts").alias(colname))

    t1 = first_after("view", None, "t1")
    t2 = first_after("click", t1, "t2")
    t3 = first_after("purchase", t2, "t3")
    rows = [("1_view", t1), ("2_click_after_view", t2),
            ("3_purchase_after_click", t3)]
    out = None
    for name, df in rows:
        r = df.agg(F.lit(name).alias("stage"),
                   F.count("*").alias("n_users"))
        out = r if out is None else out.unionByName(r)
    return out.orderBy("stage")


def q_session_duration_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration analytics: sessionize per user (30-min gap rule,
    same as `user_sessions`), then p50/p95 of session durations in
    seconds via the DDSketch Catalyst plan — sketch quantiles COMPOSED
    over a windowed sessionization, both layers exactly replayed by the
    twin. Zero-duration (single-event) sessions are excluded (log-bucket
    domain is positive)."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.lag("ts").over(w).isNull() |
               ((F.col("ts").cast("timestamp").cast("double") -
                 F.lag(F.col("ts").cast("timestamp")).over(w).cast("double"))
                > 1800.0), 1).otherwise(0).alias("new_sess"))
    sess = marked.withColumn(
        "sess_id", F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)))
    dur = (sess.groupBy("user_id", "sess_id")
           .agg((F.max(F.col("ts").cast("timestamp").cast("double")) -
                 F.min(F.col("ts").cast("timestamp").cast("double")))
                .alias("dur_secs"))
           .where(F.col("dur_secs") > 0))
    return ddsketch_quantile_plan(dur, "dur_secs", [0.5, 0.95], alpha=0.01)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users belong to the ISO week of
    their first event; each later active week increments that cohort's
    (week_offset) cell. Two aggregations on the user key plus one
    distinct — the standard product-analytics rollup, exactly SQL
    replayable (Monday-based date_trunc('week') in both engines)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk"))
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    active = ev.distinct()
    return (active.join(first, "user_id")
            .select(F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
                    (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
                    .cast("int").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count("*").alias("n_users"))
            .orderBy("cohort_week", "week_offset"))


def q_streaming_stateful_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState end-to-end with a HARD oracle: the events
    table becomes a multi-file stream (maxFilesPerTrigger=2 → several
    real micro-batches), one DDSketch per event_type lives in the state
    store and re-emits estimates every trigger; the FINAL emission per
    key (max n) must equal the batch quantile SQL — bucket counting is
    order-invariant, so micro-batching cannot move it. The third
    streaming API surface in the gate (windowed agg, foreachBatch,
    stream-stream join, now arbitrary state)."""
    import shutil
    import tempfile
    import uuid
    from p2pddsketch_spark.streaming.sketch_stream import (
        scoped_state_partitions, stateful_sketch_stream)
    ev = load(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="p2pdds_state_gate_")
    try:
        src, sink, ck = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ck"
        ev.repartition(6).write.parquet(src)
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 2).parquet(src))
        out = stateful_sketch_stream(stream, "event_type", "value",
                                     alpha=0.01, quantiles=(0.5, 0.95))
        # 4 state partitions (few keys, fresh checkpoint) — see
        # scoped_state_partitions for the sizing contract.
        with scoped_state_partitions(spark, 4):
            q = (out.writeStream.outputMode("update")
                 .option("checkpointLocation", ck)
                 .foreachBatch(lambda df, eid:
                               df.write.mode("append").parquet(sink))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        emitted = spark.read.parquet(sink)
        from pyspark.sql import Window
        w = Window.partitionBy("event_type").orderBy(F.desc("n"))
        final = (emitted.withColumn("_r", F.row_number().over(w))
                 .where(F.col("_r") == 1)
                 .select("event_type", "n",
                         F.round("p5", 6).alias("p5"),
                         F.round("p95", 6).alias("p95"))
                 .orderBy("event_type").collect())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        final, "event_type string, n long, p5 double, p95 double") \
        .orderBy("event_type")


def q_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step: adjacent character-pair frequencies inside
    words, weighted by word occurrence — the top-20 merge candidates by
    (count DESC, pair ASC). Word counts aggregate FIRST (the corpus
    shuffles once at word granularity), then each DISTINCT word explodes
    into its pairs weighted by its count — the standard trick that makes
    a BPE step scale with the vocabulary, not the raw character count."""
    docs = load(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("w"))
             .where(F.length("w") >= 2)
             .groupBy("w").agg(F.count("*").alias("wc")))
    pairs = words.select(
        "wc",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .alias("pair"))
    return (pairs.groupBy("pair").agg(F.sum("wc").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "pair").limit(20))


def q_moments_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment sketch (Gan et al. VLDB'18) built per l_returnflag through
    the harness: the gate row emits the DETERMINISTIC integer state —
    n, quantized z-min/max, and the six quantized asinh power sums —
    which the DuckDB twin reproduces bit-for-bit (ln/sqrt/pow are
    engine-identical; floor-quantized int sums are associative). The
    solver-based quantile ESTIMATES from the same sketches are
    bound-verified in pytest (tests/test_moments.py), mirroring the
    HLL/CMS estimate-vs-counter split."""
    from p2pddsketch_spark.sketches.moments import QUANT, MomentSketch
    li = load(spark, sf_dir, "lineitem")
    out = build_sketches(
        li, [SketchSpec("mom", lambda: MomentSketch(k=6, zscale=8.0),
                        scalar_extractor("l_quantity"))],
        group_cols=("l_returnflag",))
    sketches = collect_sketches(out, group_cols=("l_returnflag",))
    rows = []
    for key, sk in sketches.items():
        rows.append((key[0], int(sk.n),
                     int(np.floor(sk.zmin * QUANT + 0.5)),
                     int(np.floor(sk.zmax * QUANT + 0.5)),
                     *[int(s) for s in sk.sums]))
    schema = ("l_returnflag string, n long, zq_min long, zq_max long, "
              + ", ".join(f"s{j} long" for j in range(1, 7)))
    return spark.createDataFrame(rows, schema).orderBy("l_returnflag")


def q_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction/OPTIMIZE write path (`jobs/optimize_table.py`):
    rewrite the events table into z-ordered (user_id, event_id),
    size-targeted files with a verified manifest, then prove
    row-identity with an order-independent content hash over EVERY
    column (timestamps formatted tz-free, doubles quantized ×1e6 —
    the cross-engine-stable renderings) computed on both layouts.
    The oracle emits the input table's (n_rows, hash) twice: equality
    of the 'after' row IS the compaction-preserves-content contract."""
    import shutil
    import tempfile
    from p2pddsketch_spark.operators.maintenance import (compact_zorder,
                                                         content_checksum)
    src = f"{sf_dir}/events.parquet"
    tmp = tempfile.mkdtemp(prefix="optcompact_")
    out = f"{tmp}/events_opt"
    hash_cols = ["event_id", "user_id", "event_type", "props", "ts_s", "v_q"]

    def proof(path: str, phase: str):
        d = (spark.read.parquet(path)
             .select("event_id", "user_id", "event_type", "props",
                     F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                     .alias("ts_s"),
                     F.floor(F.col("value") * 1e6 + F.lit(0.5))
                     .cast("long").alias("v_q")))
        r = d.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  content_checksum(d, hash_cols)).first()
        return (phase, int(r["n_rows"]), int(r["content_hash"]))

    try:
        compact_zorder(spark, src, out, "user_id", "event_id", bits=12,
                       target_file_bytes=64 * 1024,
                       hash_cols=["event_id", "user_id", "event_type", "props"])
        rows = [proof(src, "before"), proof(out, "after")]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (spark.createDataFrame(
        rows, "phase string, n_rows long, content_hash long")
        .orderBy("phase"))


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE tokenizer training (k = 5 merge rounds): each round
    counts weighted adjacent symbol pairs over the DISTINCT-word table,
    picks the argmax pair (count DESC, l ASC, r ASC), and applies the
    merge to every word via the padded double-space literal-replace
    encoding (`operators/bpe.py` — greedy non-overlapping semantics,
    bit-identical in the JVM and DuckDB). The oracle replays the same 5
    rounds as an unrolled CTE chain."""
    from p2pddsketch_spark.operators.bpe import bpe_train_merges
    return (bpe_train_merges(load(spark, sf_dir, "documents"), k=5)
            .select("iteration", "left", "right", "merged", "pair_count")
            .orderBy("iteration"))


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of tokenizer training: encode every document with
    the 5 trained merges. One vocab-keyed join + one doc-keyed
    re-assembly; enc_hash (positional md5 over per-word symbol strings)
    pins every symbol at every position."""
    from p2pddsketch_spark.operators.bpe import bpe_encode
    return (bpe_encode(load(spark, sf_dir, "documents"), k=5)
            .select("doc_id", "n_words", "n_sym", "enc_hash")
            .orderBy("doc_id"))


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-BPE encoding to TOKEN-ID ARRAYS (`operators/bpe.py::
    bpe_tokenize`): train 5 merges, rank the final symbol inventory by
    (frequency DESC, symbol ASC) into ids, and emit every document's
    (tokens array<int>, n_tok) — the shape `pack_sequences` and the
    sketch harness ingest. The gate row fingerprints the array
    positionally (tok_sum = Σ position·token_id, 1-based), so every id
    at every position is pinned; the DuckDB twin renumbers the same
    join chain with ROW_NUMBER."""
    from p2pddsketch_spark.operators.bpe import bpe_tokenize
    out = bpe_tokenize(load(spark, sf_dir, "documents").select(
        "doc_id", "text"), k=5)
    chk = F.when(F.size("tokens") == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            F.zip_with("tokens", F.sequence(F.lit(1), F.size("tokens")),
                       lambda t, i: t.cast("long") * i.cast("long")),
            F.lit(0).cast("long"), lambda a, x: a + x))
    return (out.select("doc_id", "n_tok", chk.alias("tok_sum"))
            .orderBy("doc_id"))


def q_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer-pipeline composition, train → encode → pack:
    5 trained BPE merges encode every document to token-id arrays
    (`bpe_tokenize`), and next-fit packing lays the resulting n_tok
    stream into 512-token context windows per source. The twin chains
    the encode-mode CTE (per-doc BPE symbol count) into the
    pack_sequences recursive-CTE fold — one oracle replaying the whole
    pipeline."""
    from p2pddsketch_spark.operators.bpe import bpe_tokenize
    from p2pddsketch_spark.operators.pipeline import pack_sequences
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    toks = bpe_tokenize(docs, k=5)
    return (pack_sequences(toks, max_tokens=512)
            .select("doc_id", "source", "pack_id", "pack_offset")
            .orderBy("doc_id"))


def q_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 merge of the `pack_sequences` + `bpe_pack` gate rows: both
    next-fit packing pipelines — whitespace word counts at cap 1024 and
    the trained-BPE encode chain at cap 512 — in one tagged frame. The
    twins compose by UNION; a divergence in either fold (or in the BPE
    train→encode chain feeding the second) fails the one row."""
    words = q_pack_sequences(spark, sf_dir) \
        .select(F.lit("words_1024").alias("src"), "*")
    bpe = q_bpe_pack(spark, sf_dir) \
        .select(F.lit("bpe_512").alias("src"), "*")
    return words.unionByName(bpe).orderBy("src", "doc_id")


def q_theta_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct users (WAU) from the SAME per-day theta
    state as `theta_daily_retention` — every window is a UNION of ≤ 7
    daily summaries, never a re-scan of events. The rollup-for-
    distinct-counts twin of `dds_daily_rollup`: HARD oracle because the
    under-k regime keeps every hash, so each union cardinality is the
    exact COUNT(DISTINCT) over the window."""
    from datetime import date, timedelta
    from p2pddsketch_spark.sketches.theta import ThetaSketch
    ev = (load(spark, sf_dir, "events")
          .withColumn("day", F.date_format(F.date_trunc("day", F.col("ts")),
                                           "yyyy-MM-dd")))
    out = build_sketches(
        ev, [SketchSpec("theta", lambda: ThetaSketch(k=65536),
                        scalar_int_extractor("user_id"))],
        group_cols=("day",), salt_buckets=8)
    sk = {key[0]: s for key, s in
          collect_sketches(out, group_cols=("day",)).items()}
    rows = []
    for d in sorted(sk):
        start = date.fromisoformat(d)
        acc = ThetaSketch(k=65536)
        for off in range(7):
            dd = (start + timedelta(days=off)).isoformat()
            if dd in sk:
                acc.merge(ThetaSketch.from_bytes(sk[dd].to_bytes()))
        rows.append((d, int(np.round(acc.cardinality()))))
    return (spark.createDataFrame(rows, "window_start string, wau long")
            .orderBy("window_start"))


# ------------------------------------------------- round-5 additions:
# AMS F2 / join-size estimation, token-array MinHash dedup

def q_ams_joinsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two AMS tug-of-war sketches
    (sketches/ams.py): sketch events.user_id and orders.o_custkey
    INDEPENDENTLY through the mapInArrow -> salted shuffle-merge-tree
    harness (two O(r)-byte states, no co-location, no join shuffle),
    then (1) the counter inner product estimates |events JOIN orders ON
    user_id = o_custkey| -- the number a planner needs to choose
    broadcast vs shuffle-hash BEFORE launching the join -- and (2) z.z
    estimates F2 = sum f(x)^2, the self-join/skew mass that predicts
    reducer hot keys. HARD oracle on the full state: every one of the
    2x256 counters is an exact integer function of the key multiset
    (linear sketch => merge-order invariant), replayed in HUGEINT SQL by
    the splitmix64-per-lane DuckDB twin; the estimates and the exact
    comparison values are emitted alongside so the gate also pins the
    median-of-means arithmetic. Estimates are order-of-magnitude signals
    by design (documented variance sqrt(2 F2a F2b / k)); the exact_*
    rows in the same frame are the receipt of how close this run got."""
    from p2pddsketch_spark.sketches.ams import AmsSketch
    r, groups, seed = 256, 8, 7
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")

    def build(df, col):
        out = build_sketches(
            df, [SketchSpec("ams", lambda: AmsSketch(r, groups, seed),
                            scalar_int_extractor(col))], salt_buckets=16)
        return collect_sketches(out)["ams"]

    sa, sb = build(ev, "user_id"), build(orders, "o_custkey")

    # exact comparison values in ONE action: per-side key-count
    # aggregates (map-side combined), a key-to-key LEFT join of the
    # pre-aggregated counts (|keys| rows, not |rows|), then both sums
    # from the joined frame. NULL keys are filtered to mirror the
    # extractor's null-drop policy, keeping the n/exact receipts
    # consistent with what the sketches actually saw.
    fa = (ev.where(F.col("user_id").isNotNull())
          .groupBy(F.col("user_id").alias("key")).agg(F.count("*").alias("ca")))
    fb = (orders.where(F.col("o_custkey").isNotNull())
          .groupBy(F.col("o_custkey").alias("key")).agg(F.count("*").alias("cb")))
    stats = (fa.join(fb, "key", "left")
             .agg(F.sum(F.col("ca") * F.col("ca")).alias("f2a"),
                  F.sum(F.col("ca") * F.coalesce(F.col("cb"), F.lit(0))).alias("js"))
             .collect()[0])
    exact_f2_a, exact_join = stats["f2a"], stats["js"] or 0

    rows = [(f"za_{j:03d}", float(sa.z[j])) for j in range(r)]
    rows += [(f"zb_{j:03d}", float(sb.z[j])) for j in range(r)]
    rows += [
        ("est_f2_events_users", sa.estimate_f2()),
        ("est_join_size", sa.inner_product(sb)),
        ("exact_f2_events_users", float(exact_f2_a)),
        ("exact_join_size", float(exact_join)),
        ("n_events", float(sa.n)),
        ("n_orders", float(sb.n)),
    ]
    return (spark.createDataFrame(rows, "metric string, value double")
            .orderBy("metric"))


def q_minhash_tokens_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on the PRE-TOKENIZED corpus shape: documents are tokenized
    to (doc_id, tokens array<int>) with the full 512-slot vocabulary (no
    OOV at fixture scale, so ids biject with words), then
    `dedup.minhash_lsh_pairs_tokens` finds near-dup pairs from token-id
    3-gram shingles — raw text is never touched after tokenization,
    which is how a 100 TB pipeline dedups corpora stored only in the
    input_hint's sequences shape. HARD oracle: the DuckDB twin replays
    tokenization (same (count DESC, term ASC) vocabulary order), builds
    the same '_'-joined shingle strings, and re-runs the XXH64 →
    Mersenne-61 permutation → banding → exact-Jaccard chain of the
    minhash_lsh_pairs_prod twin on them."""
    from p2pddsketch_spark.operators.pipeline import build_vocab, tokenize
    docs = load(spark, sf_dir, "documents")
    vocab = build_vocab(docs, vocab_size=512)
    toks = tokenize(docs.select("doc_id", "text"), vocab)
    return dedup.minhash_lsh_pairs_tokens(toks, threshold=0.5, num_perm=128,
                                          bands=32, n=3)


def q_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup end-to-end (Lee et al. 2022) as a gate row:
    cut every duplicated >= 8-word span from its non-canonical
    occurrences (`dedup.strip_duplicate_spans`, the operator behind
    `jobs/curate.py --strip-spans`) and pin the SURVIVING corpus
    byte-for-byte — (n_tok, n_deleted) per doc plus an md5 fingerprint
    of the kept word sequence. The DuckDB twin replays the whole
    algorithm at the semantic level (window STRING equality where Spark
    compares xxhash64 of the token slice — identical outcomes absent a
    64-bit collision, and the fixture is deterministic), including the
    lexicographically-first (doc_id, pos) canonical rule and the
    gaps-and-islands span merge. Reference scope: gap-fill; the
    reference has no text pipeline (/root/reference/main.cpp is a
    numeric-stream simulator)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", text.words_col("text").alias("w"))
    out = dedup.strip_duplicate_spans(docs, tokens_col="w",
                                      id_col="doc_id", min_len=8)
    return (out.select("doc_id",
                       F.col("n_tok").cast("long").alias("n_tok"),
                       F.col("n_deleted").cast("long").alias("n_deleted"),
                       F.md5(F.array_join("w", " ")).alias("kept_md5"))
            .orderBy("doc_id"))


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile in ONE gate row (round-5 merge of the
    `doc_stats` + `quality_score` + `language_id` + `repetition_stats`
    rows — one operator family, one per-doc exact-SQL oracle pattern):
    length/stopword/diversity stats, the composite quality score, the
    n-gram-marker language prediction, and the boilerplate repetition
    signal, joined on doc_id."""
    docs = load(spark, sf_dir, "documents")
    stats = text.doc_stats(docs)
    qual = text.quality_score(docs).select("doc_id", "quality")
    lang = docs.select("doc_id",
                       text.language_id_col("text").alias("lang_pred"))
    rep = text.repetition_stats(docs, n=3)
    return (stats.join(qual, "doc_id").join(lang, "doc_id")
            .join(rep, "doc_id").orderBy("doc_id"))


def q_wss_window_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-SpaceSaving trailing-window heavy hitters per
    event_type — the sliding family's second HARD gate row, exact
    regime: capacity k=4096 dominates every per-bucket AND merged-window
    user universe (150 at sf0.01), so counts are exact, err is pinned
    to literal 0, and the ranking (count DESC, user ASC) equals plain
    SQL. Coverage is bucket-granular (whole days); the twin re-derives
    the same [bid_min, bid_max] day range from the global max timestamp
    with the identical straddle rule, so the counted row set matches
    without referencing any Spark output."""
    from p2pddsketch_spark.operators.harness import (
        pair_extractor as _ts_pair_extractor)
    from p2pddsketch_spark.sketches.wss import WindowedSpaceSaving
    day = 86_400_000_000
    ev = load(spark, sf_dir, "events")
    out = build_sketches(
        ev, [SketchSpec("wss",
                        lambda: WindowedSpaceSaving(
                            k=4096, bucket_width=day, max_buckets=64),
                        _ts_pair_extractor("user_id", "ts"))],
        group_cols=("event_type",), salt_buckets=8)
    sk = {key[0]: s for key, s in
          collect_sketches(out, group_cols=("event_type",)).items()}
    tmax = max(int(s.t_max) for s in sk.values())
    rows = []
    for et in sorted(sk):
        for wd in (7, 30):
            top, ncov, _, _ = sk[et].window_top(10, wd * day, now=tmax)
            for rk, (item, cnt, err) in enumerate(top, start=1):
                rows.append((et, wd, rk, int(item), int(cnt), int(err),
                             int(ncov)))
    return (spark.createDataFrame(
        rows, "event_type string, window_days int, rank int, "
              "user_id long, cnt long, err long, n_covered long")
        .orderBy("event_type", "window_days", "rank"))


def q_eh_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-histogram trailing-window event counts per
    event_type — the sliding family's DGIM gate row. Scale shape: the
    raw stream is pre-aggregated to per-(event_type, hour) counts in
    pure Catalyst (map-side combine — at 100 TB the harness ingests a
    ≤ 720-row-per-group hourly table, not the fact table), then the
    weighted [hour_ts, count] pairs ride the mapInArrow → merge tree.
    Exact regime: each (group, hour) row exists exactly once after the
    groupBy, so the bucket table IS the binary decomposition of the
    hourly counts — with ≤ 720 buckets per size class and k=4096 the
    compaction never fires, making the state layout-invariant and the
    whole row SQL-replayable: est = exact windowed count (err pinned 0,
    no straddlers since every bucket has t_old == t_new),
    n_buckets = Σ bit_count(hourly count), total = rows. Compacted-
    regime behavior (the actual O(k·log N) memory bound) is
    property-pinned against brute force in tests/test_sliding_sketches.py."""
    from p2pddsketch_spark.operators.harness import pair_extractor
    from p2pddsketch_spark.sketches.eh import ExpHistogram
    day = 86_400_000_000
    hourly = (load(spark, sf_dir, "events")
              .groupBy("event_type",
                       F.date_trunc("hour", F.col("ts")).alias("ts_hour"))
              .agg(F.count("*").alias("cnt")))
    # pair_extractor emits [col_a, col_b]; ExpHistogram's raw pair form
    # is [timestamp, count] — so col_a is the (hour) timestamp here
    out = build_sketches(
        hourly, [SketchSpec("eh", lambda: ExpHistogram(k=4096),
                            pair_extractor("ts_hour", "cnt"))],
        group_cols=("event_type",), salt_buckets=8)
    sk = {key[0]: s for key, s in
          collect_sketches(out, group_cols=("event_type",)).items()}
    tmax = max(int(s.t_max) for s in sk.values())
    rows = []
    for et in sorted(sk):
        for wd in (7, 30):
            est, err = sk[et].count_last(wd * day, now=tmax)
            rows.append((et, wd, int(round(est)), int(round(err)),
                         int(sk[et].n_buckets), int(sk[et].total)))
    return (spark.createDataFrame(
        rows, "event_type string, window_days int, est long, err long, "
              "n_buckets long, total long")
        .orderBy("event_type", "window_days"))


def q_ecm_window_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECM-sketch trailing-window per-user frequencies — the sliding
    family's count-min gate row. One global EcmSketch(depth=4,
    width=2048) over raw (user_id, ts) pairs through the harness; every
    distinct user probed at the 7d and 30d cutoffs. Exact-EH regime:
    event timestamps are distinct at fixture SFs and per-cell mass is
    ~n/width, so no size class ever exceeds k=4096 and each cell's
    windowed mass is exact (err pinned 0) — the point estimate is then
    min over the 4 rows of the cell mass INCLUDING hash collisions,
    which the DuckDB twin replays exactly: splitmix64(user, seed=r+1)
    per row in HUGEINT-mod-2^64 SQL, per-(row, cell) windowed masses,
    same min. The collision-mass and compaction bounds are
    property-pinned in tests/test_sliding_sketches.py."""
    from p2pddsketch_spark.operators.harness import pair_extractor
    from p2pddsketch_spark.sketches.ecm import EcmSketch
    day = 86_400_000_000
    ev = load(spark, sf_dir, "events")
    out = build_sketches(
        ev, [SketchSpec("ecm",
                        lambda: EcmSketch(depth=4, width=2048, k=4096),
                        pair_extractor("user_id", "ts"))],
        salt_buckets=8)
    sk = collect_sketches(out)["ecm"]
    users = np.array([r[0] for r in
                      ev.select("user_id").distinct().orderBy("user_id")
                      .collect()], dtype=np.int64)
    tmax = int(sk.t_max)
    rows = []
    for wd in (7, 30):
        est, err = sk.estimate(users, cutoff=tmax - wd * day)
        rows.extend((int(u), wd, int(round(e)), int(round(x)))
                    for u, e, x in zip(users, est, err))
    return (spark.createDataFrame(
        rows, "user_id long, window_days int, est long, err long")
        .orderBy("user_id", "window_days"))


def q_count_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both trailing-window COUNTING sketch families in ONE gate row
    (round-5 final-sitting merge of the `eh_window_counts` +
    `ecm_window_freq` rows — the DGIM exponential histogram and the ECM
    windowed count-min, each in its exact regime with a hard SQL twin;
    see the part docstrings above for the regime arguments). Tagged by
    `form`; the EH-only (n_buckets, total) columns carry the −1
    sentinel on ECM rows (NULL would hash engine-dependently). The
    freed window slot funds the `source_kl` row."""
    e = q_eh_window_counts(spark, sf_dir).select(
        F.lit("eh").alias("form"), F.col("event_type").alias("key"),
        "window_days", "est", "err", "n_buckets", "total")
    c = q_ecm_window_freq(spark, sf_dir).select(
        F.lit("ecm").alias("form"),
        F.col("user_id").cast("string").alias("key"),
        "window_days", "est", "err",
        F.lit(-1).cast("long").alias("n_buckets"),
        F.lit(-1).cast("long").alias("total"))
    return e.unionByName(c).orderBy("form", "key", "window_days")


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution KL divergence from the corpus blend
    (`text.source_kl_divergence`) — exact, pure Catalyst, decimal-summed
    libm terms; the DuckDB twin is the identical expression. Reference
    scope: gap-fill (the reference has no text pipeline; its analog is
    the per-peer-vs-global quantile comparison of
    /root/reference/main.cpp's testQuantile)."""
    return text.source_kl_divergence(load(spark, sf_dir, "documents"))


def q_shll_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-HLL trailing-window distinct users per event_type — the
    sliding-sketch family's first HARD gate row. The skyline invariant
    (sliding_hll.py: for any cutoff, the derived registers are
    byte-identical to a fresh HLL fed only the window's items) makes
    the WINDOW REGISTER STATE deterministic and SQL-replayable: the
    twin recomputes splitmix64 per distinct in-window user in
    HUGEINT-mod-2^64 SQL, derives (register, rho) with exact bit
    arithmetic (hb via length(bin(r)) — no float log2), and aggregates
    the same positional checksum Σ (idx+1)·max_rho. Estimates stay
    pytest-bound (HLL++ bias table is not SQL); the registers ARE the
    sketch, so this pins the full distributed build + merge tree +
    skyline cutoff algebra at two window sizes."""
    from p2pddsketch_spark.operators.harness import (
        pair_extractor as _ts_pair_extractor)
    from p2pddsketch_spark.sketches.sliding_hll import SlidingHyperLogLog
    ev = load(spark, sf_dir, "events")
    out = build_sketches(
        ev, [SketchSpec("shll", lambda: SlidingHyperLogLog(p=14),
                        _ts_pair_extractor("user_id", "ts"))],
        group_cols=("event_type",), salt_buckets=8)
    sk = {key[0]: s for key, s in
          collect_sketches(out, group_cols=("event_type",)).items()}
    day = 86_400_000_000
    tmax = max(int(s.t_max) for s in sk.values())
    weights = np.arange(1 << 14, dtype=np.int64) + 1
    rows = []
    for et in sorted(sk):
        for wd in (7, 30):
            regs = sk[et].to_hll(tmax - wd * day).registers.astype(np.int64)
            rows.append((et, wd, int((regs > 0).sum()),
                         int((weights * regs).sum())))
    return (spark.createDataFrame(
        rows, "event_type string, window_days int, "
              "n_nonzero long, reg_checksum long")
        .orderBy("event_type", "window_days"))


def q_wdds_window_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed DDSketch trailing-window quantiles per event_type — the
    LAST sliding family to gain a hard gate row (eh/ecm/shll/wss landed
    earlier in round 5). Hard-oracle construction: with hour buckets,
    `now` pinned to the end of the newest global hour, and bucket-ALIGNED
    windows, `window_sketch` merges exactly the buckets in
    [maxb − wh + 1, maxb] — and below bin_limit 2^22 nothing collapses,
    so the merged sketch's bins equal the plain DDSketch bins over the
    window-filtered rows. The twin is therefore `duckdb_quantile_sql`
    over `epoch_us(ts) // 3600000000 >= maxb − wh + 1`, pinning the
    whole distributed chain: vpair extraction, per-bucket builds, the
    salted merge tree, the t_max-derived refold cutoff, and the
    window-overlap merge. Bucket-granular coverage semantics + the tail
    fold are pytest-pinned (tests/test_wdds.py)."""
    from p2pddsketch_spark.operators.harness import vpair_extractor
    from p2pddsketch_spark.sketches.wdds import WindowedDDSketch
    alpha, W = 0.01, 3_600_000_000  # 1-hour buckets, µs epoch
    gamma, _ = gamma_of_alpha(alpha)
    ev = load(spark, sf_dir, "events")
    out = build_sketches(
        ev, [SketchSpec("wdds",
                        lambda: WindowedDDSketch(alpha=alpha, bucket_width=W,
                                                 max_buckets=2048,
                                                 bin_limit=1 << 22),
                        vpair_extractor("value", "ts"))],
        group_cols=("event_type",), salt_buckets=8)
    sk = {key[0]: s for key, s in
          collect_sketches(out, group_cols=("event_type",)).items()}
    tmax = max(int(s.t_max) for s in sk.values())
    now = (tmax // W) * W + W - 1   # end of the newest global hour bucket
    rows = []
    for et in sorted(sk):
        for wh in (168, 360):       # 7-day and 15-day windows, bucket-aligned
            merged, _, _ = sk[et].window_sketch(wh * W, now=now)
            if merged is None:
                continue
            for q in (0.5, 0.95, 0.99):
                k_unsigned, est = _dds_key_est(merged, q, gamma)
                rows.append((et, wh, float(q), k_unsigned, est,
                             int(merged.n)))
    return (spark.createDataFrame(
        rows, "event_type string, window_hours int, q double, "
              "bucket_key long, estimate double, n long")
        .orderBy("event_type", "window_hours", "q"))
