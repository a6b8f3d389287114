"""Table loaders over the parquet fixtures.

One call per table; scans stay lazy so Catalyst prunes columns and pushes
predicates into the parquet reader (verify with
``df.explain("formatted")`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from tpctools_spark.schemas import TESTDATA_TABLE_NAMES


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a lazy DataFrame.

    Pins the session timezone to UTC: the fixtures' timestamps are naive
    UTC wall-clock (what DuckDB sees), and events.ts is reconstructed
    from epoch nanos as an LTZ value — without this pin a non-UTC caller
    session would render every event-time output shifted.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Fixture timestamps are physical timestamp[us] with no timezone tag.
    # Spark 4 infers those as TIMESTAMP_NTZ by default, which poisons
    # epoch arithmetic (unix_micros rejects NTZ) and diverges from the
    # LTZ semantics every query was validated under.  Under the UTC pin
    # the two types are value-identical, so read them as LTZ; unlike a
    # post-scan cast this keeps predicate pushdown on timestamp columns.
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:  # noqa: BLE001 — conf may be pinned by the caller
        pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _ltz(_events(spark, path))
    return _ltz(spark.read.parquet(path))


def _ltz(df: DataFrame) -> DataFrame:
    """Defense-in-depth: cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    Normally a no-op — the inferTimestampNTZ pin above makes the scan
    produce LTZ directly, preserving timestamp predicate pushdown. But a
    caller-owned session can pin that conf (or reject conf.set), and an
    NTZ column then poisons every epoch-arithmetic expression downstream
    (``unix_micros`` rejects NTZ — the round-3 driver run lost two
    queries to exactly this). Under the UTC session pin the cast is
    value-identical.
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects.

    Read the physical int64 via ``nanosAsLong`` and truncate ns→µs into a
    proper timestamp — the identical truncation DuckDB applies when it
    reads nanos, so both engines see the same microsecond instants.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — conf may be pinned by the caller
        pass
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table present in ``sf_dir`` (through
    :func:`table`, so events gets its nanos handling)."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view for ``spark.sql`` —
    the raw-SQL entry point of the engine."""
    for name, df in tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
