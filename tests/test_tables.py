"""``tables.load_table``: a known-schema read that fires no Spark job,
for each timestamp encoding the engine accepts."""

from __future__ import annotations

import glob
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from big_data_traffict_prediction_spark.schemas import TABLE_NAMES
from big_data_traffict_prediction_spark.tables import load_table
from compare_util import assert_frames_match

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_load_table_fires_no_spark_job(spark, sf_dir, build_jobs):
    dfs, jobs = build_jobs(
        lambda: [load_table(spark, sf_dir, name) for name in TABLE_NAMES]
    )
    assert len(dfs) == len(TABLE_NAMES)
    assert jobs == 0, f"reading {len(dfs)} tables fired {jobs} Spark job(s)"


def test_load_table_truncates_nanos_like_duckdb(spark, tmp_path):
    """TIMESTAMP(NANOS) loads as TimestampType, truncated toward zero to
    microseconds (sub-microsecond digits before and after the epoch)."""
    ns = [1_704_067_200_123_456_789, 1_704_153_600_000_000_999,
          -1_000_001_500, None]
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
        "event_type": ["click", "view", "error", "view"],
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": ["{}"] * 4,
    })
    path = f"{tmp_path}/events.parquet"
    pq.write_table(tbl, path, version="2.6")
    assert "timeUnit=nanoseconds" in str(pq.ParquetFile(path).schema.column(1).logical_type)

    got = load_table(spark, str(tmp_path), "events")
    assert got.schema["ts"].dataType == T.TimestampType()
    duck = duckdb.connect().execute(f"SELECT * FROM '{path}'").df()
    assert_frames_match(got.toPandas(), duck, "nanos events")
    assert {r.event_id: r.ts for r in got.collect()}[1].microsecond == 123_456


def test_load_table_keeps_int96_instants(spark, tmp_path):
    """A Spark-written directory (INT96 timestamps, ``_SUCCESS`` and
    ``.crc`` side files) loads with its instants unchanged."""
    rows = [
        (1, datetime(2024, 1, 1, 8, 30, 0, 123_456), 1, "click", 1.0, "{}"),
        (2, datetime(1969, 12, 31, 23, 59, 59, 999_999), 2, "view", 2.0, "{}"),
        (3, None, 3, "error", 3.0, "{}"),
    ]
    path = f"{tmp_path}/events.parquet"
    spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.parquet(path)
    (data,) = glob.glob(f"{path}/part-*.parquet")
    assert pq.ParquetFile(data).schema.column(1).physical_type == "INT96"

    got = load_table(spark, str(tmp_path), "events")
    assert got.schema["ts"].dataType == T.TimestampType()
    assert sorted(tuple(r) for r in got.collect()) == rows


def test_load_table_rejects_missing_column(spark, tmp_path):
    """An explicit read schema would fill a missing column with NULLs;
    load_table refuses the file at build time instead."""
    pq.write_table(
        pa.table({"doc_id": [1], "text": ["a b c"], "source": ["web"],
                  "n_chars": [5]}),
        f"{tmp_path}/documents.parquet",
    )
    with pytest.raises(ValueError, match=r"'documents'.*\['lang'\]"):
        load_table(spark, str(tmp_path), "documents")
