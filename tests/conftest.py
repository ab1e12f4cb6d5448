from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_migrator_spark import migrate as M
from clickhouse_migrator_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="tests",
        cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")),
        shuffle_partitions=4,
        warehouse_dir=warehouse,
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def db(spark):
    """A fresh, uniquely named database, current for the test."""
    name = "testdb_" + uuid.uuid4().hex[:8]
    prev = spark.catalog.currentDatabase()
    M.create_db(spark, name)
    spark.catalog.setCurrentDatabase(name)
    yield name
    spark.catalog.setCurrentDatabase(prev)
    spark.sql(f"DROP DATABASE `{name}` CASCADE")


@pytest.fixture()
def ledger_db(spark, db):
    """``db`` with the runner's ledger, claims and journal tables. A test
    that needs them keeps naming ``db`` and adds
    ``@pytest.mark.usefixtures("ledger_db")``."""
    M.init_db(spark, db)
    return db
