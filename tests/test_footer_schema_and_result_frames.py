"""The two job-free building blocks of the declared queries: the parquet
footer schema (`harness._footer_schema`, behind `plans.queries.load` and
stage-1 planning) must equal what `spark.read.parquet` infers, and a
driver-built result frame (`plans.queries._result_frame`) must come back
in exactly the order `createDataFrame(rows, schema).orderBy(...)` gives."""

import datetime as dt
import decimal
import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from p2pddsketch_spark.errors import GenericError
from p2pddsketch_spark.operators.harness import _footer_schema as footer_schema
from p2pddsketch_spark.plans import queries as Q

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("path", sorted(glob.glob(f"{SF_DIR}/*.parquet")),
                         ids=os.path.basename)
def test_footer_schema_equals_inferred_for_every_table(spark, path):
    assert footer_schema(spark, path) == spark.read.parquet(path).schema


def test_footer_schema_edge_types(spark, tmp_path):
    """Required columns, zoned and naive timestamps, decimals and
    lists map as Spark's inference maps them."""
    schema = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        pa.field("ts_utc", pa.timestamp("us", tz="UTC")),
        pa.field("ts_ntz", pa.timestamp("ms")),
        pa.field("price", pa.decimal128(12, 2)),
        pa.field("tags", pa.list_(pa.field("item", pa.string(), nullable=False))),
        pa.field("vec", pa.list_(pa.float32())),
        pa.field("day", pa.date32()),
        pa.field("flag", pa.bool_()),
        pa.field("small", pa.int16()),
    ])
    table = pa.table({
        "id": [1, 2],
        "ts_utc": [dt.datetime(2024, 3, 10, 1, 30, tzinfo=dt.timezone.utc), None],
        "ts_ntz": [dt.datetime(2024, 3, 10, 2, 30), None],
        "price": [decimal.Decimal("12.34"), None],
        "tags": [["a", "b"], None],
        "vec": [[1.0, None], []],
        "day": [dt.date(2024, 3, 10), None],
        "flag": [True, None],
        "small": [3, None],
    }, schema=schema)
    path = str(tmp_path / "edge.parquet")
    pq.write_table(table, path)
    got, jobs = _jobs(spark, "footer-edge", lambda: footer_schema(spark, path))
    assert jobs == 0            # mapped from the footer, no inference
    assert got == spark.read.parquet(path).schema
    assert all(f.nullable for f in got.fields)
    assert isinstance(got["ts_ntz"].dataType, TimestampNTZType)
    # the loaded frame reads the same values as an inferring read
    assert spark.read.schema(got).parquet(path).collect() == \
        spark.read.parquet(path).collect()


def test_footer_schema_falls_back_where_arrow_differs(spark, tmp_path):
    """pyarrow reads a duration back as an interval and an all-null
    column as NullType, where Spark infers long and int; a URI path is
    resolved by Spark alone. All three keep the inferred schema, and the
    duration table still loads."""
    dur = str(tmp_path / "duration.parquet")
    pq.write_table(pa.table({"d": pa.array([1, None], pa.duration("us")),
                             "x": [1.5, 2.5]}), dur)
    nul = str(tmp_path / "null.parquet")
    pq.write_table(pa.table({"n": pa.array([None, None], pa.null())}), nul)
    for path in (dur, nul, "file://" + dur):
        assert footer_schema(spark, path) == spark.read.parquet(path).schema
    assert Q.load(spark, str(tmp_path), "duration").collect() == \
        spark.read.parquet(dur).collect()


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_schema_spark_written_int96_and_unsigned(spark, tmp_path):
    """Files Spark wrote (zoned timestamps land as INT96), and INT96 or
    unsigned columns of other writers, keep the inferred schema too."""
    d = str(tmp_path / "spark_out")
    (spark.range(3).select(F.col("id"), F.current_timestamp().alias("ts"),
                           F.array(F.col("id")).alias("a"))
     .write.parquet(d))
    assert footer_schema(spark, d) == spark.read.parquet(d).schema
    path = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"ts": pa.array([dt.datetime(2024, 1, 1)],
                                            pa.timestamp("ns"))}),
                   path, use_deprecated_int96_timestamps=True)
    assert footer_schema(spark, path) == spark.read.parquet(path).schema
    path = str(tmp_path / "unsigned.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint32()),
                             "b": pa.array([3, 4], pa.uint8())}), path)
    assert footer_schema(spark, path) == spark.read.parquet(path).schema


def test_dds_events_hourly_requires_ntz_ts(spark, tmp_path):
    """`q_dds_events_hourly` buckets hours on a tz-free `ts`: the shipped
    table loads it as TIMESTAMP_NTZ, and a zoned `ts` is refused rather
    than bucketed by the session time zone."""
    assert isinstance(Q.load(spark, SF_DIR, "events").schema["ts"].dataType,
                      TimestampNTZType)
    ev = pq.read_table(f"{SF_DIR}/events.parquet")
    i = ev.schema.get_field_index("ts")
    zoned = ev.set_column(i, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(zoned, str(tmp_path / "events.parquet"))
    with pytest.raises(GenericError, match="TIMESTAMP_NTZ"):
        Q.q_dds_events_hourly(spark, str(tmp_path))


# ----------------------------------------------------- result frames

NAN, INF = float("nan"), float("inf")
ADVERSARIAL = [
    (None, 1.0, 1), ("é", NAN, 2), ("z", INF, 3), ("a", -INF, 4),
    ("a", 0.0, 5), ("a", -0.0, 6), ("ß", None, 7), ("中", 2.5, 8),
    ("a", NAN, 9), ("A", 1.0, 10), (None, None, 11), ("", 0.0, 12),
    ("😀", -0.0, 13), ("a", 1e-300, 14), ("é", NAN, 15), ("Z", -1.0, 16),
]


def _as_listed(pdf):
    """Rows in order, each value by repr: NaN, -0.0 and None stay distinct."""
    return [tuple(map(repr, r)) for r in pdf.itertuples(index=False)]


@pytest.mark.parametrize("order", [
    ("g", "k"),
    ("x", "k"),
    ("g", "x", "k"),
    ("x", "g", "k"),
])
def test_result_frame_matches_spark_order(spark, order):
    schema = "g string, x double, k long"
    old = spark.createDataFrame(ADVERSARIAL, schema).orderBy(*order)
    new = Q._result_frame(spark, ADVERSARIAL, schema, *order)
    assert new.schema == old.schema
    assert _as_listed(new.toPandas()) == _as_listed(old.toPandas())


def test_result_frame_heavy_users_shape(spark):
    """`q_heavy_users_spacesaving` sorts its rows itself (count
    descending, ties by user id) and keeps that order."""
    rows = sorted([(7, 3), (2, 9), (5, 3), (9, 9), (4, 0)],
                  key=lambda r: (-r[1], r[0]))
    schema = "user_id long, cnt long"
    old = spark.createDataFrame(rows, schema).orderBy(F.desc("cnt"), "user_id")
    new = Q._result_frame(spark, rows, schema)
    assert _as_listed(new.toPandas()) == _as_listed(old.toPandas())
    assert Q._result_frame(spark, [], schema, "cnt").toPandas().empty


def test_result_frame_timestamps_are_local_time(spark, monkeypatch):
    """Naive datetimes in a TIMESTAMP column mean process-local time, as
    `createDataFrame` reads them, also off UTC and across a DST change."""
    rows = [(dt.datetime(2024, 3, 10, 3, 30), 1), (None, 2),
            (dt.datetime(2024, 1, 1, 12, 0), 3), (dt.datetime(2024, 7, 1), 4)]
    schema = "t timestamp, k long"
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        old = spark.createDataFrame(rows, schema).orderBy("t", "k").collect()
        new = Q._result_frame(spark, rows, schema, "t", "k").collect()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert new == old
    assert [r.t for r in new] == [None] + sorted(r[0] for r in rows if r[0])


def test_result_frame_collects_without_a_job(spark):
    rows, jobs = _jobs(spark, "result-frame", lambda: Q._result_frame(
        spark, ADVERSARIAL, "g string, x double, k long", "g", "k").collect())
    assert len(rows) == len(ADVERSARIAL)
    assert jobs == 0
