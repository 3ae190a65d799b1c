"""Session defaults derived from the host (no new SparkContext started)."""

import os

from beametrics_spark.session import MAX_DRIVER_MEM_MB, session_resources


def test_session_resources_from_host():
    cpus, mem = session_resources({})
    assert cpus == str(len(os.sched_getaffinity(0)))
    assert mem.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mem[:-1]) < phys_mb
    assert int(mem[:-1]) <= MAX_DRIVER_MEM_MB


def test_session_resources_environment_wins():
    env = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    assert session_resources(env) == ("3", "1g")


def test_session_disables_dataframe_debugging(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
