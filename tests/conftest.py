"""Shared pytest fixtures: one small SparkSession per test run.

Uses a modest core count so the suite stays fast on sf0.001; query code
itself never assumes a core count (it must run unchanged on a cluster).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from tpctools_spark.session import get_spark

    spark = get_spark(
        "tpctools-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def planted_embeddings(spark, tmp_path_factory):
    """A 3000-vector, 64-dim corpus with planted near-dups, written as
    ``<dir>/embeddings.parquet``, plus a DuckDB connection whose
    ``embeddings`` view reads the same files. Yields ``(dir, con)``."""
    import duckdb

    from tpctools_spark.generate_corpus import gen_embeddings_scattered

    d = str(tmp_path_factory.mktemp("planted_embeddings"))
    gen_embeddings_scattered(spark, 3000, dim=64, parts=4).write.parquet(
        f"{d}/embeddings.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    yield d, con
    con.close()


@pytest.fixture(scope="session")
def oracle_parity(spark):
    """``check(con, sf_dir, name)``: run query ``name`` on Spark and its
    DuckDB oracle over the same inputs, assert exact normalized equality
    (``scripts/check_oracle.normalize``), and return the Spark rows."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    from check_oracle import normalize

    from tpctools_spark.registry import oracle_queries, spark_queries

    def check(con, sf_dir: str, name: str) -> list:
        sdf = spark_queries()[name](spark, sf_dir)
        srows = sdf.collect()
        spark.catalog.clearCache()
        rel = con.sql(oracle_queries()[name])
        drows = rel.fetchall()
        assert sorted(sdf.columns) == sorted(rel.columns), name
        assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"
        assert normalize([tuple(r) for r in srows], sdf.columns) == normalize(
            drows, list(rel.columns)
        ), name
        return srows

    return check
