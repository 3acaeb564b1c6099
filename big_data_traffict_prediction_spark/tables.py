"""Table loading + the reference-shaped views over the driver testdata.

The driver's correctness gate runs each ``queries()[k]`` on Spark and
the matching ``oracle_sql()[k]`` on DuckDB against the *same* parquet
tables (TESTDATA.md). The reference's domain tables are therefore
expressed as deterministic views over testdata:

``traffic_history`` ← ``events``
    camera_id = CAST(user_id AS STRING)          (one "camera" per user)
    new_count = CAST(FLOOR(value) AS BIGINT)     (flux per observation)
    class     = car when event_type ∈ {click, view} else motorcycle
                (binary class remap, reference app/config.py:28-37)

The SQL twin of every view lives right next to it (``*_SQL``) so the
Spark plan and the DuckDB oracle can never drift apart silently.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TABLE_NAMES, TESTDATA_SCHEMAS
from .session import pin_session_conf

CAR_EVENT_TYPES = ("click", "view")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet`` with the schema
    ``TESTDATA_SCHEMAS[name]``, so building the read runs no Spark job.

    Only the physical encoding of timestamp columns varies between
    files; one footer read on the driver tells which it is:

    * ``TIMESTAMP(NANOS)``, which Spark's reader rejects, is read as
      long (``nanosAsLong``) and truncated to microseconds with integer
      ``div 1000``, the semantics DuckDB applies;
    * ``TIMESTAMP(MICROS)`` or ``(MILLIS)``, UTC-adjusted or not, and
      INT96 are read as ``TimestampType``. The session time zone is
      pinned to UTC, so a naive column reads as the instants DuckDB
      reports for the same file.

    A schema column missing from the file raises ``ValueError``: with
    an explicit schema Spark would fill it with NULLs instead.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    pin_session_conf(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    stored = _footer_schema(path)
    schema = TESTDATA_SCHEMAS[name]
    missing = [f.name for f in schema.fields if f.name not in stored.names]
    if missing:
        raise ValueError(f"table {name!r} at {path} has no column(s) {missing}")
    nanos = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, T.TimestampType)
        and _is_nanos(stored.field(f.name).type)
    ]
    read_schema = T.StructType(
        [T.StructField(f.name, T.LongType()) if f.name in nanos else f
         for f in schema.fields]
    )
    df = spark.read.schema(read_schema).parquet(path)
    for c in nanos:
        # integer `div`, not `/1000`: a double can't hold int64 nanos
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _is_nanos(t: pa.DataType) -> bool:
    return pa.types.is_timestamp(t) and t.unit == "ns"


def _footer_schema(path: str) -> pa.Schema:
    """Arrow schema from the footer of ``path``, or of the first data
    file when ``path`` is a directory as Spark writes one."""
    if os.path.isdir(path):
        data = [f for f in sorted(os.listdir(path)) if not f.startswith(("_", "."))]
        if not data:
            raise FileNotFoundError(f"no parquet data file in {path}")
        path = os.path.join(path, data[0])
    # pyarrow reports INT96 as nanos by default; INT96 is not TIMESTAMP(NANOS)
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
        return f.schema_arrow


def traffic_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → the reference's traffic_history shape (SURVEY.md §1.2)."""
    e = load_table(spark, sf_dir, "events")
    nc = F.floor("value").cast("long")
    is_car = F.col("event_type").isin(*CAR_EVENT_TYPES)
    return e.select(
        F.col("event_id").alias("id"),
        F.col("user_id").cast("string").alias("camera_id"),
        F.col("ts"),
        nc.alias("new_count"),
        F.when(is_car, nc).otherwise(F.lit(0)).cast("long").alias("new_cars"),
        F.when(is_car, F.lit(0)).otherwise(nc).cast("long").alias("new_motors"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )


# DuckDB twin of traffic_history(); prepend to oracle SQL via with_traffic().
TRAFFIC_CTE = """
traffic AS (
  SELECT
    event_id AS id,
    CAST(user_id AS VARCHAR) AS camera_id,
    ts,
    CAST(FLOOR(value) AS BIGINT) AS new_count,
    CASE WHEN event_type IN ('click','view')
         THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END AS new_cars,
    CASE WHEN event_type IN ('click','view')
         THEN 0 ELSE CAST(FLOOR(value) AS BIGINT) END AS new_motors,
    event_type,
    value,
    props
  FROM events
)
""".strip()


def with_traffic(body: str, extra_ctes: str = "") -> str:
    """Wrap an oracle query body with the shared traffic CTE."""
    ctes = TRAFFIC_CTE + ("," + extra_ctes if extra_ctes else "")
    return f"WITH {ctes}\n{body}"
