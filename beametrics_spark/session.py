"""SparkSession factory for a local-mode driver sized to its host.

With ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` unset, the session
takes as many cores as this process may run on and a driver heap of half
the host's physical memory (at most 20g); the variables, when set, win.

At real cluster scale the same settings matter for different reasons:
AQE re-plans shuffle partition counts and skew joins at runtime, UTC
session time keeps event-time windows deterministic across executors,
and Arrow makes the (rare) Pandas-UDF path batch-transfer instead of
row-pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Driver heap ceiling: the operator bench session runs 60+ query plans
# back to back, and at 8g old-gen pressure from accumulated codegen
# classes + broadcast cleanup showed up as multi-second timing outliers
# on otherwise sub-2s queries.
MAX_DRIVER_MEM_MB = 20 * 1024


def session_resources(environ=os.environ) -> tuple[str, str]:
    """(local-mode cores, driver memory) for ``get_spark``.

    The environment wins; otherwise the cores this process may run on,
    and half of physical memory capped at 20g — the JVM's RSS runs past
    its heap, and a 20g heap on a 15 GiB host was OOM-killed mid-suite.
    """
    cpus = environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    mem = environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        mem = f"{min(phys_mb // 2, MAX_DRIVER_MEM_MB)}m"
    return cpus, mem


def get_spark(app_name: str = "beametrics_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus, driver_mem = session_resources()
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark-docs-recommended production setting: coalesce to the
        # advisory partition size instead of keeping default parallelism —
        # a KB-scale shuffle runs 1 task, not 32 near-empty ones. At 100 TB
        # the same advisory size yields thousands of right-sized tasks.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Advisory size tuned for local[32]: shuffles here are KB-MB scale
        # but CPU-dense per byte (join fan-out, 64-column aggs), so a small
        # target keeps all cores busy while still collapsing trivial
        # shuffles to one task. On a real cluster raise this back to
        # 64-256MB (SPARK_GRAFT_ADVISORY_PARTITION) — per-task overhead is
        # higher and shuffle bytes per query are ~10^6× larger.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "2MB"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Whole-stage codegen cutoff raised above the default 100: the
        # 64-wide signature/embedding aggregates (minhash audit's 64
        # string mins + 16 digest inputs, semdedup's 64 avg() means)
        # sit just past it, and the fallback runs INTERPRETED — r14
        # measured 49.5 s -> 7.2 s on the minhash sf1 signature stage
        # from codegen alone. Scale-independent (the cutoff guards
        # compile time of kilocolumn plans; the widest plan here is
        # ~180 fields) and env-overridable for A/B.
        .config(
            "spark.sql.codegen.maxFields",
            os.environ.get("SPARK_GRAFT_CODEGEN_MAXFIELDS", "400"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        # Static conf: with debugging on, PySpark sends the Python call
        # site to the JVM around every DataFrame/Column call — about 3/4
        # of the py4j round trips of a metrics-plan build (3,939 -> 898
        # calls for the json_replay plan). Off, analysis errors only lose
        # the Python call site from their context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    return builder.getOrCreate()
