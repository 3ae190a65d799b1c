import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beametrics_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # get_spark's 20g driver default exceeds a 15 GiB host; an uncapped
    # heap grew past physical memory and the JVM was OOM-killed mid-suite
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark("beametrics-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from beametrics_spark.sources import load_table

    return load_table(spark, sf_dir, "events")
