"""tpctools_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the capability surface of
``datafusion-contrib/tpctools`` (reference: /root/reference, Rust crate
``tpctools`` v0.6.0) re-expressed Spark-first, plus the analytic-operator
and LLM-data-pipeline surface the reference's data exists to serve
(SURVEY.md §2.B).

Layout
------
- :mod:`tpctools_spark.session`    — tuned SparkSession builder
- :mod:`tpctools_spark.schemas`    — explicit StructType registry (reference
  parity: ``src/tpch.rs:140-241``; never infer schemas)
- :mod:`tpctools_spark.catalog`    — table loaders over the parquet fixtures
- :mod:`tpctools_spark.registry`   — query/oracle registration (driver contract)
- :mod:`tpctools_spark.queries`    — the declared operator inventory (§2.B)
- :mod:`tpctools_spark.queries._runscan` — the one sorted-run Arrow scan
  (JVM-sorted runs → numpy kernels) behind the dedup/similarity pair scans
- :mod:`tpctools_spark.benchmark`  — the one module that knows a benchmark
  (``Tpc``: name, text extension, schemas, ``build_table``; ``tpch``,
  ``tpcds``, ``corpus``), the ``create_benchmark`` dispatch, the table
  writer loop shared by generate and convert, and the generate-once
  ``materialize`` (``src/lib.rs:28-43``, ``src/main.rs:113-118``)
- :mod:`tpctools_spark.generate`   — deterministic partition-parallel TPC-H
  generation (replaces dbgen shell-out, ``src/tpch.rs:35-132``)
- :mod:`tpctools_spark.generate_tpcds` — schema-driven TPC-DS generation
  (replaces dsdgen shell-out, ``src/tpcds.rs:34-104``)
- :mod:`tpctools_spark.generate_corpus` — LLM-corpus tables (documents,
  embeddings, events) in the fixture schemas
- :mod:`tpctools_spark.schemas_tpcds`  — all 24 TPC-DS schemas
  (``src/tpcds.rs:135-636``)
- :mod:`tpctools_spark.convert`    — typed CSV scan → Parquet/CSV conversion
  (``src/lib.rs:45-217``)
- :mod:`tpctools_spark.benchfix`   — the sf1 materializations ``bench.py`` reads
- :mod:`tpctools_spark.cli`        — generate/convert CLI (``src/main.rs``)
- :mod:`tpctools_spark.queries.streaming_demo` — Structured Streaming demos
"""

import logging

from tpctools_spark.session import get_spark
from tpctools_spark.registry import QUERIES, ORACLES, spark_queries, oracle_queries
from tpctools_spark.benchmark import Tpc, TpcH, TpcDs, create_benchmark

# The library logs its runtime plan choices at INFO; it stays silent
# unless the application configures logging.
logging.getLogger("tpctools_spark").addHandler(logging.NullHandler())

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "QUERIES",
    "ORACLES",
    "spark_queries",
    "oracle_queries",
    "Tpc",
    "TpcH",
    "TpcDs",
    "create_benchmark",
]
