"""Environment-drift hardening for the event timestamp source boundary.

Round 2 regression: the same logical events table reads as nanos-long,
``TIMESTAMP_NTZ``, or ``TIMESTAMP`` depending on the parquet writer and
Spark version/confs.  ``normalize_ts_col`` must map all three physical
shapes to identical session-zoned TIMESTAMP rows, and reject anything
else loudly.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

from df_to_azure_spark.sources import load_table, normalize_ts_col
from df_to_azure_spark.sources.tables import STAR_SCHEMA_TABLES

_INSTANTS_US = [
    1704067200_000_000,  # 2024-01-01 00:00:00 UTC
    1704070800_123_456,  # 2024-01-01 01:00:00.123456 UTC
    1720000000_999_999,
]
_IDS = [1, 2, 3]


def _write(path, ts_array):
    pq.write_table(
        pa.table({"event_id": pa.array(_IDS, pa.int64()), "ts": ts_array}), path
    )


def _events_dir(tmp_path, name, ts_array):
    d = tmp_path / name
    d.mkdir()
    _write(str(d / "events.parquet"), ts_array)
    return str(d)


@pytest.fixture(scope="module")
def shape_dirs(tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("ts_shapes")
    return {
        # TIMESTAMP(NANOS): Spark reads as raw long under nanosAsLong
        "nanos": _events_dir(
            tmp_path,
            "nanos",
            pa.array([us * 1000 for us in _INSTANTS_US], pa.timestamp("ns")),
        ),
        # TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads TIMESTAMP_NTZ
        "ntz": _events_dir(
            tmp_path, "ntz", pa.array(_INSTANTS_US, pa.timestamp("us"))
        ),
        # TIMESTAMP(MICROS, isAdjustedToUTC=true): plain TIMESTAMP
        "tz": _events_dir(
            tmp_path, "tz", pa.array(_INSTANTS_US, pa.timestamp("us", tz="UTC"))
        ),
    }


def test_all_three_shapes_load_identically(spark, shape_dirs):
    expected = [
        (i, dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).replace(tzinfo=None))
        for i, us in zip(_IDS, _INSTANTS_US)
    ]
    for shape, d in shape_dirs.items():
        df = load_table(spark, d, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), shape
        rows = sorted((r.event_id, r.ts) for r in df.collect())
        assert rows == expected, shape


def test_stream_schema_matches_batch_for_each_shape(spark, shape_dirs):
    from df_to_azure_spark.streaming.events import read_events_stream

    for shape, d in shape_dirs.items():
        stream = read_events_stream(spark, d)  # asserts schema parity internally
        assert isinstance(stream.schema["ts"].dataType, T.TimestampType), shape


def test_unsupported_encoding_fails_loudly(spark):
    df = spark.createDataFrame([(1, "oops")], "event_id long, ts string")
    with pytest.raises(TypeError, match="unsupported timestamp encoding"):
        normalize_ts_col(df, "ts")


def test_missing_column_is_noop(spark):
    df = spark.createDataFrame([(1,)], "event_id long")
    assert normalize_ts_col(df, "ts") is df


# --- load_table reads a single file's schema from its footer ---------------

def _inferred(spark, sf_dir, name):
    """What ``load_table`` returned when it let Spark infer the schema."""
    return normalize_ts_col(spark.read.parquet(f"{sf_dir}/{name}.parquet"), "ts")


@pytest.mark.parametrize("name", STAR_SCHEMA_TABLES)
def test_footer_schema_equals_inferred_schema(spark, sf_smoke, name):
    assert load_table(spark, sf_smoke, name).schema == _inferred(spark, sf_smoke, name).schema


@pytest.mark.parametrize("shape", ["nanos", "ntz", "tz"])
def test_footer_schema_equals_inferred_schema_per_ts_shape(spark, shape_dirs, shape):
    d = shape_dirs[shape]
    assert load_table(spark, d, "events").schema == _inferred(spark, d, "events").schema


def test_load_table_runs_no_spark_job(spark, sf_smoke):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("load_table_jobs", "load_table builds without a job")
    try:
        for name in STAR_SCHEMA_TABLES:
            load_table(spark, sf_smoke, name)
        assert list(tracker.getJobIdsForGroup("load_table_jobs")) == []
        # the group does count jobs: the inferring reader runs one
        spark.read.parquet(f"{sf_smoke}/nation.parquet")
        assert len(tracker.getJobIdsForGroup("load_table_jobs")) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_directory_of_part_files_loads(spark, tmp_path):
    rows = [(i, f"n{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    df.repartition(3).write.parquet(str(tmp_path / "things.parquet"))
    out = load_table(spark, str(tmp_path), "things")
    assert out.schema == spark.read.parquet(str(tmp_path / "things.parquet")).schema
    assert sorted(tuple(r) for r in out.collect()) == rows
