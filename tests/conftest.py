from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder
         .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
         .appName("connectors-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "8g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def window_plan_builds(monkeypatch):
    """Records the version of every Snapshot whose distributed replay
    plan (``actions_df``, under ``files_df`` and ``_all_tombstones_df``)
    is built while the test runs."""
    from connectors_spark.log.snapshot import Snapshot
    built = []
    orig = Snapshot.actions_df

    def actions_df(self):
        built.append(self.version)
        return orig(self)
    monkeypatch.setattr(Snapshot, "actions_df", actions_df)
    return built


@pytest.fixture()
def sf_dir():
    return SF_DIR


def read_table(spark, name, sf=SF_DIR):
    return spark.read.parquet(f"{sf}/{name}.parquet")
