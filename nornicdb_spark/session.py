"""SparkSession factory for the engine.

Local-mode defaults mirror the test/bench environment (single JVM,
``local[$SPARK_GRAFT_CPUS]``); on a real cluster callers pass their own
builder overrides. Settings chosen for 100 TB-scale habits:

- AQE on (runtime coalesce, skew-join splitting) — at scale, static
  shuffle-partition counts are always wrong somewhere.
- Arrow on — every Pandas UDF crossing is Arrow-batched.
- UTC session timezone — oracle (DuckDB) comparisons are TZ-naive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: about
    40% of physical RAM, capped at 16g. In local mode the driver JVM is
    the whole engine, and its heap plus off-heap and Python workers must
    fit beside everything else on the host; a fixed 16g on a 16 GB
    host gets the JVM killed by the kernel."""
    if total_bytes is None:
        try:
            total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):  # no sysconf: old cap
            return "16g"
    return f"{min(16, max(1, int(total_bytes * 0.4 / 2**30)))}g"


def default_cpus() -> int:
    """``local[N]`` width when ``SPARK_GRAFT_CPUS`` is unset: the CPUs
    this process may run on."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "nornicdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    master = master or f"local[{cpus}]"
    # shuffle partitions must scale with DATA, not cores: at 100 TB a
    # cores-sized partition count gives multi-GB per-task sorts that
    # starve execution memory (measured at the local 100x probe —
    # SPARK_GRAFT_SHUFFLE=256 there). AQE coalesces the small ones, so
    # over-partitioning costs little; under-partitioning OOMs.
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus))
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The checkpoint lifecycle (operators/scope.py) frees superseded
    # localCheckpoint blocks by design; Spark WARNs on every such
    # unpersist that the truncated lineage cannot recompute. The engine
    # never re-executes a freed frame (tests/test_session_hygiene.py is
    # the gate), so the warning is pure volume — one line per freed
    # frame per iteration across every executor at cluster scale.
    try:
        spark.sparkContext._jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD",
            spark.sparkContext._jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - non-log4j2 logging backends
        pass
    return spark
