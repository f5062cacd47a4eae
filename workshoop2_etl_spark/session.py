"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same configs are the right defaults on a real cluster —
AQE handles runtime re-planning (partition coalescing, skew joins,
broadcast conversion), and the session timezone is pinned to UTC so
results are comparable with the DuckDB oracle (DuckDB timestamps are
UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def get_session(
    app_name: str = "workshoop2_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions
    default to the core count locally (the classic 200 default
    over-parallelizes small data and under-parallelizes 100 TB —
    on a real cluster set it to ~2-3x total executor cores, or rely
    on AQE coalescing from a high initial value).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Local mode runs executors inside the driver JVM; Spark's 1g
        # default heap is far too small for 32 concurrent tasks.
        # Applied only at JVM launch — a no-op on an existing session
        # or a real cluster submit, where the submitter sizes heaps.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # sort-merge->broadcast conversion. Essential at 100 TB where
        # static planning can't know post-filter sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic cross-engine comparison (DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas interchange (Pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Read parquet TIMESTAMP(NANOS) columns (the testdata events
        # table) as long nanos; the reader layer rebuilds timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers import this package by name: put its parent
        # directory on their path, so the driver can be launched from
        # any working directory.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
