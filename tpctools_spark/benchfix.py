"""Shared benchmark fixtures: materialized sf1 tables under .scratch.

Both ``bench.py`` (the driver-run suite) and ``scripts/bench_ab.py``
(the interleaved A/B harness) need the same pre-materialized sf1
parquet directories. Materialization is a pure function of
(table, sf), so the directories are built once and reused across
rounds (:func:`tpctools_spark.benchmark.materialize`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tpctools_spark.benchmark import TpcDs, TpcH, materialize

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "bench_sf1",
)


def ensure_tpcds_sf1(spark: SparkSession) -> str:
    """Materialize all TPC-DS sf1 tables once; return the directory
    usable as ``TPCTOOLS_TPCDS_DIR``."""
    return materialize(spark, TpcDs(), 1.0, os.path.join(SCRATCH, "tpcds"), 32)


def ensure_tpch_sf1(spark: SparkSession) -> tuple[str, str]:
    """Materialize TPC-H sf1 in both layouts; return
    ``(fixture_dir, generator_dir)``. Fixture layout (``<t>.parquet``)
    serves the fixture-form queries via their ``sf_dir`` argument;
    generator layout (``<t>/``) serves the spec-form queries via
    ``TPCTOOLS_TPCH_DIR``."""
    tpch = TpcH()
    for t in tpch.table_names():
        p = os.path.join(SCRATCH, f"{t}.parquet")
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            tpch.build_table(spark, t, 1.0, 32).write.mode("overwrite").parquet(p)
    return SCRATCH, materialize(spark, tpch, 1.0, os.path.join(SCRATCH, "tpch_gen"), 32)
