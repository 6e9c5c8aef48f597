import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from exaloglog_paper_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # session.py's 48g default heap suits the benchmark host; test inputs
    # are small, and an uncapped heap lets the JVM grow past a small box's RAM
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark(app_name="exaloglog-tests", shuffle_partitions=8)
    yield spark
    spark.stop()
