"""Table loaders over the parquet fixtures.

One call per table; scans stay lazy so Catalyst prunes columns and pushes
predicates into the parquet reader (verify with
``df.explain("formatted")`` → ``PushedFilters`` / ``ReadSchema``).

Every table is read with the schema of its own parquet footer, the way
the reference hands each table's schema to its reader
(``src/lib.rs:55-58``). Taking it from the file rather than from the
registry matters because the same table names come in two physical
layouts: the driver fixture (``TESTDATA``) and the generator's
(``TPCH_REFERENCE``). The footer is read on the driver, so no Spark
job is started and no session conf is consulted.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import LongType, StructField, StructType

from tpctools_spark.schemas import TESTDATA_TABLE_NAMES


def read_schema(path: str) -> tuple[StructType, list[str]]:
    """The Spark read schema of the parquet table at ``path`` and its
    ``TIMESTAMP(NANOS)`` columns.

    ``path`` is a parquet file or a flat directory of part files. Like
    Spark's own inference, one footer is read: that of the directory's
    first data file, skipping ``_``/``.`` names.

    Timestamps map to ``timestamp`` (LTZ), never ``timestamp_ntz``, so
    epoch arithmetic (``unix_micros``) resolves on every table. Spark
    cannot read nanosecond timestamps as timestamps, so those columns
    are typed ``bigint`` here. They are recognised by their parquet
    type, INT64 with a nanosecond unit: pyarrow also reports Spark's
    INT96 timestamps as ``timestamp[ns]``, and those read natively.
    """
    if os.path.isdir(path):
        path = os.path.join(path, min(n for n in os.listdir(path) if n[0] not in "_."))
    f = pq.ParquetFile(path)
    nanos = [
        c.path
        for c in (f.schema.column(i) for i in range(len(f.schema)))
        if c.physical_type == "INT64"
        and c.logical_type.type == "TIMESTAMP"
        and json.loads(c.logical_type.to_json())["timeUnit"] == "nanoseconds"
    ]
    schema = StructType(
        [
            StructField(s.name, LongType(), s.nullable) if s.name in nanos else s
            for s in from_arrow_schema(f.schema_arrow)
        ]
    )
    return schema, nanos


def typed_read(reader: DataFrameReader | DataStreamReader, path: str) -> DataFrame:
    """``reader`` (batch or streaming) over the parquet table at
    ``path``, typed by :func:`read_schema`.

    Each nanosecond column is truncated to microseconds, the same
    truncation DuckDB applies when it reads nanos, so both engines see
    the same instants.
    """
    schema, nanos = read_schema(path)
    df = reader.schema(schema).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read the parquet table at ``path`` with its footer schema."""
    return typed_read(spark.read, path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a lazy DataFrame.

    Pins the session timezone to UTC: the fixtures' timestamps are naive
    UTC wall-clock (what DuckDB sees) and are read as LTZ values, so a
    non-UTC caller session would render every event-time output shifted.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_table(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table present in ``sf_dir`` as a temp view
    for ``spark.sql`` — the raw-SQL entry point of the engine."""
    for name in TESTDATA_TABLE_NAMES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            table(spark, sf_dir, name).createOrReplaceTempView(name)
