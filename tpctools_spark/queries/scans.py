"""§2.B.1 — scans / sources / sinks (reference-surface parity).

These queries exercise the reference's whole capability surface: typed
CSV scan (A1, src/lib.rs:55-58), snappy parquet sink (A2,
src/lib.rs:201-205), and deterministic data generation (A8/A9,
src/tpch.rs:35-132) — re-expressed as Spark reads/writes.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.registry import query

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")

_swept = False


def _sweep_dead_scratch() -> None:
    """Garbage-collect scratch dirs left by processes that no longer
    exist.

    Scratch output is deliberately left on disk while its process
    lives — the returned DataFrames are lazy file scans, so the files
    must outlive the function call — which means no call site can
    clean up after itself. Instead every dir name carries its owner's
    pid (``<tag>-pid<N>[-suffix]``) and each NEW process sweeps the
    orphans exactly once, before its first allocation. Only the
    pid-tagged pattern is eligible: named caches (``bench_sf1``,
    ``tpc*_gen_*``) never match and are never touched. Liveness is
    ``kill(pid, 0)``; racing sweeps are harmless (rmtree errors are
    ignored, and a dir both sweeps target is garbage by definition)."""
    global _swept
    if _swept:
        return
    _swept = True
    if not os.path.isdir(_SCRATCH):
        return
    pat = re.compile(r"-pid(\d+)(-|$)")
    for name in os.listdir(_SCRATCH):
        m = pat.search(name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_SCRATCH, name), ignore_errors=True)
        except PermissionError:
            pass  # pid exists, owned by another user: leave it


def _scratch_dir(tag: str) -> str:
    _sweep_dead_scratch()
    os.makedirs(_SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}-pid{os.getpid()}-", dir=_SCRATCH)


@query(
    "scan_parquet",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + project/count — inverse of reference sink A2.

    Only two columns appear in ReadSchema; min/max come straight from
    row-group statistics when AQE allows.
    """
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
    )


def _stable_scratch(tag: str) -> str:
    """A deterministic scratch path: written with mode=overwrite and left
    on disk so the returned DataFrame stays lazily readable (no collect/
    createDataFrame rebuild — the plan is a real file scan).

    Keyed per process so two
    concurrent sessions — e.g. the driver's correctness run and a judge
    session — can never race each other's mode=overwrite on the same
    directory. Stable WITHIN a process, which is all the lazy read-back
    needs."""
    _sweep_dead_scratch()
    path = os.path.join(_SCRATCH, f"{tag}-pid{os.getpid()}")
    os.makedirs(_SCRATCH, exist_ok=True)
    return path


@query(
    "scan_csv_typed",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed pipe-delimited CSV scan — reference A1 (src/lib.rs:55-58):
    explicit schema, '|' delimiter, no header, no inference.

    Round-trips the region table through .tbl text and scans it back
    with an explicit StructType, mirroring dbgen's output format
    including the trailing delimiter (→ trailing `ignore` column,
    src/tpch.rs:156, dropped on read — SURVEY §1.3). The oracle is the
    source table itself: the typed-CSV round trip must be lossless.
    """
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    tbl_path = os.path.join(_stable_scratch("csv_typed"), "region.tbl")
    region = table(spark, sf_dir, "region")
    # dbgen emits a trailing '|' per row; concat reproduces it.
    region.select(
        F.concat_ws(
            "|", F.col("r_regionkey").cast("string"), F.col("r_name"), F.lit("")
        ).alias("line")
    ).write.mode("overwrite").text(tbl_path)

    schema = StructType(
        [
            StructField("r_regionkey", IntegerType(), True),
            StructField("r_name", StringType(), True),
            StructField("ignore", StringType(), True),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("delimiter", "|")
        .option("header", "false")
        .csv(tbl_path)
        .drop("ignore")
    )


@query(
    "sink_parquet_snappy",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def sink_parquet_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snappy parquet sink + read-back — reference A2 (src/lib.rs:201-205).

    Writes nation partitioned into 2 part files (the reference's
    part-N layout, src/lib.rs:109) and returns the lazy read-back scan;
    the oracle is the source table — the sink round trip must be
    lossless.
    """
    path = os.path.join(_stable_scratch("sink_snappy"), "nation.parquet")
    nation = table(spark, sf_dir, "nation")
    nation.repartition(2).write.mode("overwrite").option(
        "compression", "snappy"
    ).parquet(path)
    return spark.read.parquet(path)


@query(
    "generate_table",
    oracle="""
    SELECT CAST(i AS BIGINT) AS g_key,
           CAST(i % 5 AS INTEGER) AS g_bucket,
           strftime(DATE '1995-01-01' + CAST(i % 2400 AS INTEGER), '%Y-%m-%d') AS g_date,
           CAST(i * 7919 % 1000000 AS DOUBLE) / 100 AS g_amount
    FROM (SELECT UNNEST(range(0, 1000)) AS i)
    """,
)
def generate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partition-parallel table generation — replaces the
    reference's dbgen/dsdgen shell-out (A8/A9, src/tpch.rs:50-77).

    ``spark.range`` is partition-indexed and seed-free: every column is a
    pure function of the row id, so output is identical for any
    partition count (the dbgen ``-C/-S`` chunking contract, property-
    tested in tests/test_generate.py). The full generator lives in
    tpctools_spark.generate; this query is its 1000-row contract demo.
    """
    i = F.col("id")
    return spark.range(0, 1000, 1, 8).select(
        i.alias("g_key"),
        (i % 5).cast("int").alias("g_bucket"),
        F.date_format(
            F.date_add(F.lit("1995-01-01").cast("date"), (i % 2400).cast("int")),
            "yyyy-MM-dd",
        ).alias("g_date"),
        ((i * 7919 % 1000000).cast("double") / 100).alias("g_amount"),
    )


@query(
    "scan_json_lines",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + typed scan — the interchange format the
    reference's CSV/parquet matrix lacks but every ingestion pipeline
    meets first.

    Round-trips a typed customer projection through newline-delimited
    JSON and scans it back with an explicit schema (no inference — one
    pass, exact types; schema inference would double-scan at 100 TB).
    The writer emits doubles in shortest-round-trip form and the typed
    reader parses them back bit-exactly, so even the float column
    survives the text round trip unchanged. The oracle is the source
    table: the round trip must be lossless.
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    path = os.path.join(_stable_scratch("json_lines"), "customer.jsonl")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    cust.write.mode("overwrite").json(path)
    schema = StructType(
        [
            StructField("c_custkey", LongType(), True),
            StructField("c_name", StringType(), True),
            StructField("c_nationkey", IntegerType(), True),
            StructField("c_acctbal", DoubleType(), True),
            StructField("c_mktsegment", StringType(), True),
        ]
    )
    return spark.read.schema(schema).json(path).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink (zlib) + lazy scan-back — Spark's second columnar
    format, covered so a reference user migrating an ORC lake isn't
    stranded on parquet.

    Same contract as the parquet sink (A2): write a typed projection,
    return the lazy read-back scan, oracle against the source table so
    the round trip provably loses nothing. ORC carries its own column
    statistics and predicate-pushdown index, so the scan side keeps
    the same filter/prune behavior the parquet path gets.
    """
    path = os.path.join(_stable_scratch("sink_orc"), "supplier.orc")
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    supp.repartition(2).write.mode("overwrite").option(
        "compression", "zlib"
    ).orc(path)
    return spark.read.orc(path)


@query(
    "sink_partitioned_prune",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus
    """,
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write → partition-pruned read.

    Writes orders partitioned by ``o_orderstatus`` (directory-per-value
    layout), then reads back with an equality predicate on the
    partition column. The read plan's ``PartitionFilters`` prove the
    scan touches exactly one directory — at 100 TB this is the
    difference between reading everything and reading 1/k of it. The
    aggregate result is oracle-checked against the unpartitioned
    source, so the layout round-trip provably loses nothing.
    """
    out = _scratch_dir("partitioned")
    o = table(spark, sf_dir, "orders")
    (
        o.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(os.path.join(out, "orders_by_status"))
    )
    back = spark.read.parquet(os.path.join(out, "orders_by_status")).filter(
        F.col("o_orderstatus") == "F"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
    )


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: a fragmented table rewritten to sized files.

    The chronic data-lake ops problem — streaming/incremental writers
    leave thousands of KB-scale files whose per-file open/footer cost
    dominates scans. This op writes orders deliberately fragmented
    (64 part files), then compacts by repartitioning to
    ceil(rows / rows_per_file) output files — the row-count proxy for a
    byte-size target; at 100 TB the same two-liner runs per partition
    directory with rows_per_file derived from observed bytes/row. The
    read-back is oracle-checked against the source: compaction must be
    a pure layout change.
    """
    import math

    base = _stable_scratch("compact")
    frag_path = os.path.join(base, "orders_fragmented.parquet")
    compact_path = os.path.join(base, "orders_compact.parquet")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    o.repartition(64).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    n_files = max(1, math.ceil(frag.count() / 100_000))
    frag.repartition(n_files).write.mode("overwrite").parquet(compact_path)
    return spark.read.parquet(compact_path)


@query(
    "scan_csv_quarantine",
    oracle="""
    WITH src AS (
      SELECT doc_id, n_chars FROM documents
    )
    SELECT
      (SELECT COUNT(*) FROM src WHERE doc_id % 10 <> 3) AS n_clean,
      (SELECT COUNT(*) FROM src WHERE doc_id % 10 = 3)  AS n_quarantined,
      (SELECT CAST(SUM(n_chars) AS BIGINT) FROM src
        WHERE doc_id % 10 <> 3)                          AS clean_chars
    """,
)
def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine scan: PERMISSIVE CSV parsing routes
    rows that don't fit the schema into ``_corrupt_record`` instead of
    failing the job — the ingestion posture for dirty data at scale
    (one bad row in 100 TB must not kill the pipeline, and quarantined
    rows must be countable/reprocessable, not silently dropped).

    The fixture plants corruption deterministically (every doc_id
    ending in 3 writes a non-numeric n_chars field), round-trips
    through CSV, and reports clean/quarantined splits plus a checksum
    over the clean rows. The corrupt-column pattern works identically
    on a 1000-executor cluster: parsing is per-row, the quarantine
    split is a filter, no driver involvement.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out = _scratch_dir("quarantine")
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    dirty = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.col("doc_id") % 10 == 3, F.lit("corrupted!"))
        .otherwise(F.col("n_chars").cast("string"))
        .alias("n_chars"),
    )
    path = os.path.join(out, "dirty_csv")
    dirty.write.mode("overwrite").option("header", "false").csv(path)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_chars", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # SPARK-21610: corrupt-record column needs the raw row retained
    )
    clean = back.filter(F.col("_corrupt_record").isNull())
    bad = back.filter(F.col("_corrupt_record").isNotNull())
    return (
        clean.agg(
            F.count(F.lit(1)).alias("n_clean"),
            F.sum("n_chars").alias("clean_chars"),
        )
        .crossJoin(F.broadcast(bad.agg(F.count(F.lit(1)).alias("n_quarantined"))))
        .select("n_clean", "n_quarantined", "clean_chars")
    )


@query(
    "scan_xml_typed",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM documents
    GROUP BY lang
    """,
)
def scan_xml_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed XML scan (Spark 4 native XML source): round-trip the
    documents metadata through XML and read it back with an explicit
    schema and rowTag — the enterprise-feed ingestion path, completing
    the format matrix (csv / json / parquet / orc / text / binary /
    xml).

    The oracle aggregates the source table: the typed XML round trip
    must be lossless. Explicit schema on read — like every scan in
    this engine, no inference job.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out = _scratch_dir("xml")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = os.path.join(out, "docs_xml")
    d.write.mode("overwrite").format("xml").option("rowTag", "doc").save(path)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .schema(schema)
        .option("rowTag", "doc")
        .load(path)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
    )


@query(
    "scan_file_metadata",
    oracle="""
    SELECT 'documents.parquet' AS file_name,
           COUNT(*) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY 1
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance scan via the ``_metadata`` hidden column: every
    file-source row carries its physical origin (file path, size,
    modification time) for free — the lineage/debugging primitive
    (which input file produced this bad row?) and the incremental-
    processing primitive (process only files newer than the last
    watermark) at any scale, with zero extra I/O.

    Groups by source file name; the fixture is one file per table, so
    the oracle pins the expected name while rows/min/max prove the
    metadata rows carry the full data alongside.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "file_name"
            ),
            "doc_id",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "scan_python_datasource",
    oracle="""
    WITH feed AS (
      SELECT rid AS reading_id,
             ((rid * 654435747) % 1000000007) % 16 AS sensor_id,
             CAST(((rid * 654435747) % 1000000007) % 10000 AS DOUBLE) / 100.0
               AS reading
      FROM (SELECT unnest(range(0, 1000)) AS rid)
    )
    SELECT sensor_id, COUNT(*) AS n_readings,
           ROUND(CAST(SUM(CAST(reading AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS total_reading
    FROM feed GROUP BY sensor_id
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API: a
    partitioned synthetic sensor feed registered as a real
    ``spark.read.format(...)`` source (tpctools_spark/sources.py) —
    the pure-Python extension point for connectors the built-in menu
    doesn't cover.

    Each of the 4 InputPartitions is read task-side as a pure function
    of (partition, offset) — nothing flows through the driver, and the
    same reader maps shards/offset ranges on a real feed. Rows are
    deterministic integer arithmetic, so DuckDB rebuilds the identical
    feed from a range() and the whole connector is value-checked.
    """
    from tpctools_spark.sources import SensorFeedSource

    try:
        spark.dataSource.register(SensorFeedSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    feed = (
        spark.read.format("sensor_feed")
        .option("partitions", "4")
        .option("rowsperpartition", "250")
        .option("sensors", "16")
        .load()
    )
    return feed.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.round(F.sum(F.col("reading").cast("decimal(12,2)")).cast("double"), 2).alias(
            "total_reading"
        ),
    )


@query(
    "sink_sorted_stats_prune",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(o_totalprice, 2) AS total
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 199
    """,
)
def sink_sorted_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-by-key layout → row-group statistics skipping.

    Writes orders SORTED by o_custkey with small row groups, then reads
    back with a range predicate on the sort key. Because the layout
    clusters each key range into few row groups, the parquet min/max
    stats let the reader skip most groups entirely — the within-file
    counterpart of partition pruning (sink_partitioned_prune), and the
    reason production tables keep a clustered sort order (this is what
    Z-order/Hilbert generalize to multiple keys; see layout_zorder).
    tests/test_new_ops_plans.py asserts the pushed filter reaches the
    scan; the oracle proves the sorted round-trip loses nothing.

    Scale: the write is a range-partitioned sort (repartitionByRange +
    sortWithinPartitions — no single-reducer global sort); the read
    touches O(selectivity) row groups instead of the full table.
    """
    out = _scratch_dir("sorted-stats")
    path = os.path.join(out, "orders_sorted")
    o = table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("o_custkey").between(100, 199)
    )
    return back.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total"),
    )


@query(
    "sink_python_datasource",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS total_value
    FROM events GROUP BY event_type
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Spark 4 Python DataSource write path — the
    writer-side twin of scan_python_datasource's reader.

    Each write task streams its partition's rows into its own
    JSON-lines file and returns a commit message
    (tpctools_spark/sources.py JsonDirWriter) — the open-sink/stream/
    commit-token skeleton of any custom service or queue sink, with
    abort() cleaning up staged output on failure. The written
    directory is read back with an explicit schema and aggregated;
    the oracle runs the same aggregate on the source table, proving
    the custom write path loses nothing.
    """
    from tpctools_spark.sources import JsonDirSinkSource

    try:
        spark.dataSource.register(JsonDirSinkSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    out = _scratch_dir("pysink")
    path = os.path.join(out, "events_jsonl")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.format("jsonl_dir").option("path", path).mode("append").save()
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.round(
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 2
        ).alias("total_value"),
    )


@query(
    "sink_parquet_bloom",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS first_event,
           CAST(MAX(event_id) AS BIGINT) AS last_event
    FROM events
    WHERE user_id IN (7, 23, 41)
    GROUP BY user_id
    """,
)
def sink_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter write + point-lookup read: the row-group
    skipping mechanism for point predicates on HIGH-cardinality
    UNSORTED columns — exactly where min/max stats are useless
    (a scattered user_id spans the full domain in every row group, so
    `sink_sorted_stats_prune`'s clustering trick can't help without
    re-sorting the table for that one column).

    The write enables bloom filters via the per-write
    `parquet.bloom.filter.enabled` writer option (scoped to this
    write, not session state; this build ignores the per-column
    `#column` variant, so the projection is narrowed to the three
    lookup-relevant columns first). Readers then test `user_id = k`
    membership against each row group's filter and skip groups that
    cannot match — IO proportional to the hit count, not the table.
    The fixture file is a single row group, so the value here is the
    verified write surface + lossless round-trip (oracle) + the size
    assertion in tests/test_structural_guards.py proving filters are
    physically present; the skipping payoff is a production-row-group
    phenomenon. Default NDV sizing is tuned for production row groups
    and inflates tiny files — acceptable for a demo, tune
    expected-NDV in real tables.
    """
    out = _scratch_dir("bloom")
    path = os.path.join(out, "events_bloom")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    (
        ev.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled", "true")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("user_id").isin(7, 23, 41)
    )
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )
