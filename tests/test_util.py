"""Determinism helpers: cross-engine FP hygiene (_util module)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from tpctools_spark.queries._util import dsum, sql_trunc_digits, trunc_digits
from tpctools_spark.queries.scale_patterns import _BLOOM_CONFS

EDGE_DOUBLES = [0.125, 0.105, 2.675, 1e-9, 123456.789, 0.99995, 7.0]


@pytest.mark.parametrize("x", EDGE_DOUBLES)
def test_trunc_digits_matches_duckdb(spark, x):
    got = (
        spark.range(1)
        .select(trunc_digits(F.lit(x), 2).alias("t"))
        .collect()[0]["t"]
    )
    want = duckdb.sql(f"SELECT {sql_trunc_digits(str(x), 2)}").fetchone()[0]
    assert got == want


def test_dsum_is_partition_order_invariant(spark):
    """Decimal-summed money is identical for any partitioning (the whole
    point of dsum: FP sums are order-dependent, decimal sums are not)."""
    vals = [(i, round(((i * 7919) % 100000) / 100.0 + 0.01, 2)) for i in range(5000)]
    df = spark.createDataFrame(vals, "id long, amount double")
    results = {
        df.repartition(p).agg(dsum(F.col("amount")).alias("s")).collect()[0]["s"]
        for p in (1, 3, 17)
    }
    assert len(results) == 1


def test_trunc_digits_bitwise_matches_duckdb(spark):
    """The cross-engine float contract the whole oracle program leans
    on: floor(x*10^k)/10^k must produce BIT-IDENTICAL doubles in Spark
    and DuckDB, including adversarial near-halfway and denormal-ish
    values. 600 values, one job per engine."""
    import random
    import struct

    import duckdb

    from tpctools_spark.queries._util import sql_trunc_digits, trunc_digits
    from pyspark.sql import functions as F

    rng = random.Random(42)
    vals = []
    # near decimal halfway points at several magnitudes
    for mag in (1e-3, 1.0, 1e3, 1e6):
        for base in (0.00005, 0.123456789, 0.999999999):
            for eps in (-1e-12, 0.0, 1e-12):
                vals.append((base + eps) * mag)
                vals.append(-(base + eps) * mag)
    vals += [rng.uniform(-1e9, 1e9) for _ in range(500)]
    vals += [0.0, -0.0, 1e-300, -1e-300]

    for k in (2, 4, 6):
        got = (
            spark.createDataFrame(
                [(i, v) for i, v in enumerate(vals)], "i int, x double"
            )
            .select("i", trunc_digits(F.col("x"), k).alias("t"))
            .orderBy("i")
            .collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE vals (i INTEGER, x DOUBLE)")
        con.executemany(
            "INSERT INTO vals VALUES (?, ?)", list(enumerate(vals))
        )
        want = [
            r[0]
            for r in con.execute(
                f"SELECT {sql_trunc_digits('x', k)} FROM vals ORDER BY i"
            ).fetchall()
        ]
        # Row-aligned by the carried index: per-input bit equality, not
        # multiset equality (offsetting per-row mismatches can't hide).
        g = [struct.pack("<d", r.t) for r in got]
        w = [struct.pack("<d", v) for v in want]
        assert g == w, (
            f"k={k}: bit mismatch at rows "
            f"{[i for i, (a, b) in enumerate(zip(g, w)) if a != b]}"
        )


def test_scratch_sweep_collects_only_dead_pid_dirs(monkeypatch):
    """Scratch GC contract: pid-tagged dirs of dead processes are
    removed at the next process's first allocation; live-pid dirs and
    named caches (no pid tag) are never touched."""
    import os

    from tpctools_spark.queries import scans

    monkeypatch.setattr(scans, "_swept", False)
    dead = os.path.join(scans._SCRATCH, "probe-pid999999-x")
    live = os.path.join(scans._SCRATCH, f"probe-pid{os.getpid()}-x")
    cache = os.path.join(scans._SCRATCH, "probe_named_cache")
    for d in (dead, live, cache):
        os.makedirs(d, exist_ok=True)
    try:
        out = scans._scratch_dir("probe")
        assert f"-pid{os.getpid()}-" in os.path.basename(out)
        assert not os.path.exists(dead)
        assert os.path.exists(live)
        assert os.path.exists(cache)
        os.rmdir(out)
    finally:
        for d in (live, cache):
            if os.path.exists(d):
                os.rmdir(d)


def test_spread_input_widens_narrow_and_skips_wide(spark):
    """spread_input repartitions a 1-split fixture scan to full
    parallelism but leaves an already-wide input untouched — the plan
    must stay 100 TB-verbatim (no shuffle of document text at scale),
    not just be documented as removable."""
    from tpctools_spark.queries._util import spread_input

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1)
    widened = spread_input(narrow)
    assert widened.rdd.getNumPartitions() == target
    assert "Repartition" in widened._jdf.queryExecution().analyzed().toString()

    wide = spark.range(0, 1000, 1, target)
    same = spread_input(wide)
    assert same is wide  # no plan change at all, not even a no-op node

    wider = spark.range(0, 1000, 1, target * 2)
    assert spread_input(wider) is wider


@pytest.mark.parametrize(
    "name, keys",
    [
        ("scalar_sql_script", ["spark.sql.scripting.enabled"]),
        (
            "scan_bucket_pruned",
            ["spark.sql.sources.bucketing.autoBucketedScan.enabled"],
        ),
        ("join_bloom_pruned", list(_BLOOM_CONFS)),
    ],
)
def test_queries_leave_session_confs_unset(spark, sf_dir, name, keys):
    """A query that sets a session conf for its own run puts it back
    as it found it: a key the caller left unset is unset again, so the
    built-in default (SQL scripting on, in Spark 4) still applies."""
    from tpctools_spark.registry import spark_queries

    for k in {*keys, "spark.sql.scripting.enabled"}:
        spark.conf.unset(k)
    spark_queries()[name](spark, sf_dir).collect()
    assert {k: spark.conf.get(k, None) for k in keys} == dict.fromkeys(keys)
    assert spark.sql("BEGIN SELECT 1 AS x; END").collect()[0]["x"] == 1
