from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from clickhouse_migrator_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = get_spark(
        app_name="perfbench-tests",
        cpus=2,
        shuffle_partitions=2,
        warehouse_dir=str(tmp_path_factory.mktemp("warehouse")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
