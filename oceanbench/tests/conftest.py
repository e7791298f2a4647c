from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small local session with its own warehouse, for the defect pins."""
    from pyspark.sql import SparkSession

    from ocean_data_pipeline_spark.session import tune_for_oracle

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    warehouse = tmp_path_factory.mktemp("warehouse")
    spark = (SparkSession.builder.master("local[2]").appName("oceanbench-tests")
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.warehouse.dir", str(warehouse))
             .getOrCreate())
    yield tune_for_oracle(spark)
    spark.stop()


@pytest.fixture
def fixture_server():
    from oceanbench.fixture import ErddapFixture

    servers = []

    def start(seed=3, dead_points=False):
        f = ErddapFixture(seed, threads=2, dead_points=dead_points)
        base = f.start()
        servers.append(f)
        return f, base

    yield start
    for f in servers:
        f.stop()
