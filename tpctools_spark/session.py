"""SparkSession construction with scale-oriented defaults.

The reference configures its engine with a batch size of 8192 and snappy
parquet compression (``/root/reference/src/lib.rs:101, 176, 201-203``).
Spark's equivalents are defaults already; the settings here are the ones
that matter for a large cluster: AQE (runtime re-planning, skew-join
splitting, coalescing post-shuffle partitions), Arrow for any Python
boundary crossing, and a shuffle-partition count sized to the test box
(overridable; on a real 1000-executor cluster you would raise it or let
AQE coalesce from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "tpctools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the analytic suite.

    All settings are declarative hints; on a real cluster the same code
    runs unchanged — only ``master`` and sizing configs differ.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or int(DEFAULT_CPUS)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan — coalesce shuffle partitions, convert
        # sort-merge→broadcast when a side turns out small, split skewed
        # partitions. Essential at 100 TB, harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / toPandas boundary (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timezone so date/timestamp semantics match the
        # DuckDB oracle regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet: snappy matches the reference writer properties
        # (src/lib.rs:201-203) and is Spark's default; made explicit.
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Broadcast threshold: dims (region/nation/supplier/part) should
        # broadcast; AQE can also upgrade joins at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
