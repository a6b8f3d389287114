"""The typed table loader (``catalog.read_table``).

It must never surface TIMESTAMP_NTZ, even when the caller's session pins
NTZ inference on (a driver-owned session did once, and two event-time
queries died on ``unix_micros``); it must read nanosecond timestamps
without touching session confs; and, reading the schema from the parquet
footer on the driver, it must start no Spark job.
"""

from __future__ import annotations

from pyspark.sql.types import TimestampNTZType, TimestampType

from tpctools_spark.catalog import table

SF = "/root/testdata/sf0.001"


def test_events_ts_is_ltz_under_ntz_pinned_session(spark):
    real_set = spark.conf.set
    orig = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")

    def pinned(k, v):
        if k == "spark.sql.parquet.inferTimestampNTZ.enabled":
            return  # simulate a caller session that rejects the pin
        real_set(k, v)

    spark.conf.set = pinned
    try:
        real_set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        df = table(spark, SF, "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        assert not any(
            isinstance(f.dataType, TimestampNTZType) for f in df.schema.fields
        )
        # epoch arithmetic must resolve (this is what round 3 lost)
        from pyspark.sql import functions as F

        df.select(F.unix_micros("ts")).limit(1).collect()
    finally:
        spark.conf.set = real_set
        real_set("spark.sql.parquet.inferTimestampNTZ.enabled", orig)


def test_orders_orderdate_is_ltz_under_ntz_pinned_session(spark):
    orig = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    real_set = spark.conf.set
    try:
        real_set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        spark.conf.set = lambda k, v: None  # every conf.set refused
        df = table(spark, SF, "orders")
        assert isinstance(df.schema["o_orderdate"].dataType, TimestampType)
    finally:
        spark.conf.set = real_set
        real_set("spark.sql.parquet.inferTimestampNTZ.enabled", orig)


def _ns_fixture(tmp_path) -> str:
    """sf0.001 with ``events.ts`` stored as parquet INT64
    ``TIMESTAMP(NANOS)`` (FIXTURES.md's documented type); every other
    table is a symlink to the µs fixture."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "sf_ns"
    out.mkdir()
    for name in os.listdir(SF):
        if name != "events.parquet":
            os.symlink(os.path.join(SF, name), out / name)
    ev = pq.read_table(os.path.join(SF, "events.parquet"))
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ev, out / "events.parquet")
    col = pq.ParquetFile(out / "events.parquet").schema.column(i)
    assert col.physical_type == "INT64" and "nanoseconds" in col.logical_type.to_json()
    return str(out)


def test_nanos_events_read_like_micros_without_conf_changes(spark, tmp_path):
    """Event-time queries, batch and streaming, return the same rows
    over a nanosecond ``events.ts`` as over the µs fixture, and reading
    it changes neither ``nanosAsLong`` nor ``inferTimestampNTZ``."""
    from tpctools_spark.registry import spark_queries

    ns_dir = _ns_fixture(tmp_path)
    keys = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    )
    orig = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        qs = spark_queries()
        for name in ("window_tumbling", "window_session", "stream_stateful_count"):
            got = sorted(qs[name](spark, ns_dir).collect())
            assert {k: spark.conf.get(k, None) for k in keys} == before, name
            want = sorted(qs[name](spark, SF).collect())
            assert got == want and got, name
    finally:
        for k, v in orig.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _jobs(spark, group: str, build) -> int:
    """Spark jobs started by ``build()`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_typed_reads_start_no_spark_job(spark, tmp_path):
    """Fixture tables, a generator-layout ``<t>.parquet`` symlink, a
    materialized TPC-DS table and the plans built over them read their
    schema from the footer: zero Spark jobs, where schema inference
    starts one per read."""
    import os

    from tpctools_spark.queries.tpcds_demo import _t as tpcds_table
    from tpctools_spark.queries.tpch_generated import _GEN_DIR
    from tpctools_spark.queries.tpch_generated import _t as tpch_table
    from tpctools_spark.registry import spark_queries
    from tpctools_spark.schemas import TESTDATA_TABLE_NAMES

    qs = spark_queries()
    # materialize the generated tables first: writing them is a job
    tpch_table(spark, "lineitem")
    tpcds_table(spark, "store_sales")
    os.symlink(os.path.join(_GEN_DIR, "lineitem"), tmp_path / "lineitem.parquet")

    started = {
        f"table:{name}": _jobs(spark, f"t_{name}", lambda: table(spark, SF, name))
        for name in TESTDATA_TABLE_NAMES
    }
    started["generator layout"] = _jobs(
        spark, "gen", lambda: table(spark, str(tmp_path), "lineitem")
    )
    started["tpcds_demo._t"] = _jobs(
        spark, "ds", lambda: tpcds_table(spark, "store_sales")
    )
    for name in ("tpch_q3_shipping_priority", "tpch_q9_product_profit"):
        started[name] = _jobs(spark, name, lambda: qs[name](spark, SF))
    assert len(started) == 14
    assert not any(started.values()), started
