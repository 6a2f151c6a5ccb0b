"""Shared fixtures: one local SparkSession per test run + DuckDB oracle."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Small-and-fast for unit/oracle tests; bench.py uses the full profile.
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
# The engine's 48g driver-heap default is sized for a large host. Under
# it the test JVM's heap kept growing past 14 GB over one suite run and
# was killed on a 15 GiB machine; the test inputs need far less.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

from etl_spark_eks_spark.catalog import TABLES, table_path  # noqa: E402
from etl_spark_eks_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etl-spark-eks-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
