"""Typed pipe-CSV → Parquet/CSV conversion (reference-surface parity).

Mirrors ``convert_to_parquet``/``convert_tbl`` in the reference
(``/root/reference/src/lib.rs:45-217``): per table, scan the directory of
pipe-delimited part files with an **explicit schema** (never inferred,
``src/lib.rs:55-58``), then sink to compressed Parquet or CSV
(``src/lib.rs:183-205``).

Spark-first deviations, by design (SURVEY.md §1.3, §3.2):

- the trailing ``ignore`` column (dbgen's trailing ``|`` artifact, which
  the reference carries into its Parquet output) is **dropped** via an
  explicit projection;
- the reference converts part files serially per table
  (``src/lib.rs:86-103``) and then renames outputs into place
  (``:106-115``); Spark scans the whole directory as one distributed
  job and the committer lays out ``part-*`` files natively — both of
  those reference code paths disappear;
- compression codec validation mirrors ``src/lib.rs:186-200`` but on
  Spark's codec set (lzo is not shipped; zstd/gzip are, and the
  reference's commented-out codecs come for free). The sink, the codec
  check and the per-table timing are :func:`tpctools_spark.benchmark.write_tables`,
  shared with generation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from tpctools_spark.benchmark import write_tables
from tpctools_spark.schemas import TPCH_REFERENCE


def scan_tbl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    file_ext: str = ".tbl",
) -> DataFrame:
    """Typed scan of a ``.tbl`` file or directory of part files.

    Reference: ``CsvReadOptions::new().schema(&schema).delimiter(b'|')
    .has_header(false).file_extension(ext)`` (src/lib.rs:55-58, 181).
    """
    return (
        spark.read.schema(schema)
        .option("delimiter", "|")
        .option("header", "false")
        .option("pathGlobFilter", f"*{file_ext}*")
        .csv(path)
    )


def convert_table(
    spark: SparkSession,
    input_path: str,
    schema: StructType,
    output_path: str,
    fmt: str = "parquet",
    compression: str = "snappy",
    file_ext: str = ".tbl",
) -> None:
    """One table end-to-end: typed scan → drop ``ignore`` → sink.

    Reference: ``convert_tbl`` (src/lib.rs:160-217; ``file_extension``
    option src/lib.rs:58). The scan→sink plan has no shuffle; each input
    split converts independently, so this scales linearly with executors
    at any table size.
    """
    name = os.path.basename(output_path)
    write_tables(
        lambda _: scan_tbl(spark, input_path, schema, file_ext).drop("ignore"),
        {name: output_path}, {name: schema}, fmt, compression, mode="errorifexists",
    )


def convert_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    tables: list[str] | None = None,
    schemas: dict[str, StructType] | None = None,
    fmt: str = "parquet",
    compression: str = "snappy",
    table_ext: str = ".tbl",
    parallel: int = 4,
) -> dict[str, float]:
    """All tables of a benchmark: ``<input_dir>/<table><table_ext>`` →
    ``<output_dir>/<table>.<fmt>``, the reference's per-table loop
    (src/lib.rs:45-120), with Spark parallelizing within each table
    AND across tables.

    The reference converts tables serially and left cross-table
    parallelism abandoned in comments (``src/lib.rs:94, 104``); here
    ``parallel`` write jobs run at once. ``parallel=1`` restores the
    reference's serial behavior.

    Missing input directories fail fast (the reference panics,
    src/lib.rs:60-64); pre-existing outputs fail via Spark's
    ``errorifexists`` mode (reference panics, src/lib.rs:67-71).
    """
    schemas = schemas or TPCH_REFERENCE
    names = tables or list(schemas)
    inputs = {name: os.path.join(input_dir, f"{name}{table_ext}") for name in names}
    for in_path in inputs.values():
        if not os.path.exists(in_path):
            raise FileNotFoundError(f"input path {in_path} does not exist")
    return write_tables(
        lambda name: scan_tbl(spark, inputs[name], schemas[name], table_ext).drop("ignore"),
        {name: os.path.join(output_dir, f"{name}.{fmt}") for name in names},
        {name: schemas[name] for name in names},
        fmt,
        compression,
        mode="errorifexists",
        parallel=parallel,
    )
