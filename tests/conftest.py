from __future__ import annotations

import contextlib
import os

import duckdb
import pytest

from event_stream_checkout_spark.session import get_session
from event_stream_checkout_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_session("ecs-tests")
    yield spark


# Rows per Arrow batch a pandas UDF sees (Spark's default: 10,000).
ARROW_BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextlib.contextmanager
def spark_confs(spark, confs: dict[str, str]):
    """Set runtime ``confs`` for the duration of the block, restoring
    the session's values after it."""
    old = {key: spark.conf.get(key) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            spark.conf.set(key, value)


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same views the driver pre-registers."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()
