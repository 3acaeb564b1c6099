from __future__ import annotations

import itertools
import os

import pytest

SF_SMOKE = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("TEST_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from big_data_traffict_prediction_spark.session import get_spark

    s = get_spark(app_name="pytest", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                  driver_memory="8g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def build_jobs(spark):
    """``build_jobs(fn) -> (fn(), n)``: ``n`` is the number of Spark jobs
    ``fn`` fired, counted in a job group of its own."""
    sc = spark.sparkContext
    ids = itertools.count()

    def run(fn):
        group = f"build-jobs-{next(ids)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        # job-start events reach the status tracker through the
        # asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def duck(oracle_sf_dir):
    """DuckDB connection with the driver's pre-registered views."""
    import duckdb

    from big_data_traffict_prediction_spark.schemas import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{oracle_sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()
