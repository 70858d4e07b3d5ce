import os
import sys

sys.path.insert(0, os.path.dirname(__file__))         # tests/oracle.py
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from extractpdf4j_spark.config import spark_confs
    s = (SparkSession.builder
         .master("local[2]")
         .appName("extractpdf4j-spark-tests")
         .config(map=spark_confs())
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    yield s
    s.stop()
