"""Benchmarks as data, and the one loop that writes their tables.

Parity with the reference crate's ``Tpc`` trait (``src/lib.rs:28-43``:
table names, schema lookup, table extension, generate) and its
``create_benchmark`` string dispatch (``src/main.rs:113-118``). A
benchmark here is a value: its name, the file extension of the external
generator it replaces, its schemas and a native, partition-invariant
``build_table``. Generation, conversion and the generate-once
materializations the queries read all go through this module:

- :func:`write_tables` — build → sink → per-table wall time;
- :func:`materialize` — write a benchmark's tables once, marker last;
- :func:`materialized_table` — read one such table back, typed.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType

from tpctools_spark.catalog import read_table
from tpctools_spark.generate import build_table
from tpctools_spark.generate_corpus import CORPUS_ROWS_PER_SF, build_corpus_table
from tpctools_spark.generate_tpcds import build_tpcds_table
from tpctools_spark.schemas import TESTDATA, TPCH_REFERENCE
from tpctools_spark.schemas_tpcds import TPCDS

# Parity with the reference's match arm (src/lib.rs:186-200), extended to
# the codecs Spark ships. "lzo" (reference-supported) needs a native lib
# Spark doesn't bundle → rejected with the same kind of error the
# reference raises for unknown codecs.
SUPPORTED_COMPRESSION = {"none", "uncompressed", "snappy", "gzip", "lz4", "zstd", "brotli"}


def _check_compression(compression: str) -> str:
    c = compression.lower()
    if c not in SUPPORTED_COMPRESSION:
        raise ValueError(
            f"unsupported compression {compression!r}; "
            f"expected one of {sorted(SUPPORTED_COMPRESSION)}"
        )
    return "uncompressed" if c == "none" else c


def _check_format(fmt: str, schemas: dict[str, StructType]) -> None:
    """Reject a format before any table is written: only parquet and csv
    (src/lib.rs:206-212), and csv holds no nested column."""
    if fmt not in ("parquet", "csv"):
        raise ValueError(f"unsupported output format {fmt!r}")
    nested = [
        f"{table}.{f.name} ({f.dataType.simpleString()})"
        for table, schema in schemas.items()
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if fmt == "csv" and nested:
        raise ValueError(f"csv cannot hold nested columns: {', '.join(nested)}")


def write_tables(
    build: Callable[[str], DataFrame],
    paths: dict[str, str],
    schemas: dict[str, StructType],
    fmt: str = "parquet",
    compression: str = "snappy",
    mode: str = "overwrite",
    parallel: int = 1,
) -> dict[str, float]:
    """Build each table of ``paths``, sink it to its path and return the
    wall time of each (build + write, as the reference prints it:
    src/lib.rs:214, src/tpch.rs:87-90).

    Text output is the reference's dialect: pipe-delimited, no header.
    ``parallel > 1`` submits that many write jobs at once from a thread
    pool to the one SparkSession; the cluster schedules tasks from all of
    them, so small tables do not serialize behind large ones.
    """
    codec = _check_compression(compression)
    _check_format(fmt, schemas)

    def run(name: str) -> tuple[str, float]:
        t0 = time.perf_counter()
        writer = build(name).write.mode(mode).option("compression", codec)
        if fmt == "parquet":
            writer.parquet(paths[name])
        else:
            writer.option("delimiter", "|").csv(paths[name])
        return name, time.perf_counter() - t0

    if parallel > 1:
        with ThreadPoolExecutor(max_workers=parallel) as pool:
            return dict(pool.map(run, paths))
    return dict(map(run, paths))


@dataclass(frozen=True, eq=False)
class Tpc:
    """A benchmark: named tables with declared schemas and a native,
    partition-invariant generator (reference trait src/lib.rs:28-43)."""

    name: str
    #: raw-file extension of the external generator's output; None when
    #: no external generator (and so no text layout to convert) exists
    table_ext: str | None
    schemas: dict[str, StructType]
    build_table: Callable[[SparkSession, str, float, int], DataFrame]

    def table_names(self) -> list[str]:
        return list(self.schemas)

    def schema(self, table: str) -> StructType:
        return self.schemas[table]

    def generate(
        self,
        spark: SparkSession,
        scale: float,
        partitions: int,
        output_dir: str,
        tables: list[str] | None = None,
        fmt: str = "parquet",
        compression: str = "snappy",
    ) -> dict[str, float]:
        """Generate tables to ``<output_dir>/<table>.<fmt>``, one at a
        time (``tpctools generate``, src/main.rs:22-43)."""
        names = tables or self.table_names()
        return write_tables(
            lambda t: self.build_table(spark, t, scale, partitions),
            {t: os.path.join(output_dir, f"{t}.{fmt}") for t in names},
            {t: self.schemas[t] for t in names},
            fmt,
            compression,
        )

    def convert(
        self, spark: SparkSession, input_dir: str, output_dir: str, **kw
    ) -> dict[str, float]:
        """Pipe-delimited text dirs → parquet/csv for every table."""
        from tpctools_spark.convert import convert_to_parquet

        kw.setdefault("table_ext", self.table_ext)
        return convert_to_parquet(
            spark, input_dir, output_dir,
            tables=self.table_names(), schemas=self.schemas, **kw,
        )


_TPCH = Tpc("tpch", ".tbl", TPCH_REFERENCE, build_table)  # src/tpch.rs:134-138
_TPCDS = Tpc("tpcds", ".dat", TPCDS, build_tpcds_table)  # src/tpcds.rs:106-133
_CORPUS = Tpc("corpus", None, {t: TESTDATA[t] for t in CORPUS_ROWS_PER_SF}, build_corpus_table)

#: every accepted benchmark name, aliases included
BENCHMARKS = {"tpch": _TPCH, "tpc-h": _TPCH, "tpcds": _TPCDS, "tpc-ds": _TPCDS, "corpus": _CORPUS}


def create_benchmark(name: str) -> Tpc:
    """String → benchmark dispatch (reference src/main.rs:113-118)."""
    try:
        return BENCHMARKS[name.lower()]
    except KeyError:
        raise ValueError(f"invalid benchmark name: {name}") from None


# the reference's benchmark type names
TpcH = partial(create_benchmark, "tpch")
TpcDs = partial(create_benchmark, "tpcds")


def materialize(
    spark: SparkSession, tpc: Tpc, scale: float, out_dir: str, partitions: int
) -> str:
    """Write every table of ``tpc`` at ``scale`` to ``<out_dir>/<table>``
    Parquet once and return ``out_dir``.

    Generation is a pure function of (table, scale), so an existing
    materialization equals a fresh one and is reused across sessions and
    by the DuckDB oracles. The marker is written last: an interrupted
    write leaves none, and the next call rebuilds every table."""
    names = tpc.table_names()
    marker = os.path.join(out_dir, f"_MATERIALIZED_{tpc.name}_sf{scale:g}_{len(names)}")
    if not os.path.exists(marker):
        write_tables(
            lambda t: tpc.build_table(spark, t, scale, partitions),
            {t: os.path.join(out_dir, t) for t in names},
            tpc.schemas,
        )
        with open(marker, "w") as f:
            f.write("ok\n")
    return out_dir


def materialized_table(
    override: Callable[[], str | None], tpc: Tpc, scale: float, out_dir: str,
    spark: SparkSession, name: str,
) -> DataFrame:
    """Table ``name`` of ``tpc``, read through :func:`catalog.read_table`.

    ``override()`` is a scale hook: a pre-materialized table directory
    (bench.py's sf1 suites) read instead of the scale-``scale``
    materialization in ``out_dir``. Query logic is scale-blind either
    way."""
    root = override() or materialize(
        spark, tpc, scale, out_dir, spark.sparkContext.defaultParallelism
    )
    return read_table(spark, os.path.join(root, name))


def parquet_ctes(out_dir: str, *tables: str) -> str:
    """DuckDB ``WITH`` prefix reading materialized tables of ``out_dir``."""
    ctes = ", ".join(
        f"{t} AS (SELECT * FROM read_parquet('{out_dir}/{t}/*.parquet'))"
        for t in tables
    )
    return f"WITH {ctes}"
