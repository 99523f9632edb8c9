import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from perfbench.harness import driver_mem_gb

    s = (SparkSession.builder.master("local[*]")
         .appName("stakgraph-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         # same planner config as bench.py: constraint propagation is pure
         # Catalyst overhead on the link plane's wide join plans (see
         # bench.py make_spark) — tests must exercise the shipped config
         .config("spark.sql.constraintPropagation.enabled", "false")
         .config("spark.ui.enabled", "false")
         # the benchmark's rule: a third of RAM, capped
         .config("spark.driver.memory", f"{driver_mem_gb()}g")
         .getOrCreate())
    yield s
    s.stop()
