"""Scale-technique operators: bucketed co-located joins, skew salting.

These demonstrate — as first-class, verified queries — the two join
techniques a 100 TB deployment leans on beyond AQE's defaults:

- **bucketing**: pre-shuffle both fact tables into the same bucket
  layout so the join needs *no exchange at read time* (amortize one
  shuffle across every future join on that key);
- **salting**: explode the build side S ways and scatter the probe side
  with ``pmod(hash, S)`` so one hot key spreads over S tasks.

Both produce results identical to the plain join, so each is
oracle-checked against the straightforward SQL — the technique changes
the physical plan, never the answer.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.queries._util import dsum, session_conf, trunc_digits
from tpctools_spark.queries.scans import _scratch_dir, _stable_scratch
from tpctools_spark.registry import query

N_SALT = 8
_BUCKETS = 8

_JOIN_AGG_SQL = """
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS sum_price
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
    GROUP BY o.o_orderstatus
"""


@query("join_bucketed", oracle=_JOIN_AGG_SQL)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables: zero exchanges at read time.

    Both sides are written once as bucketed+sorted tables on the join
    key; the join then runs as a per-bucket sort-merge with NO Exchange
    in the plan (tests assert this). At 100 TB this is the pattern for
    fact-fact joins repeated across a workload: pay the shuffle once at
    layout time, never again.
    """
    tag = uuid.uuid4().hex[:8]
    base = _scratch_dir("buckets")  # pid-tagged: swept once its owner dies
    o_name, l_name = f"orders_b_{tag}", f"lineitem_b_{tag}"

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date")
    )
    li = table(spark, sf_dir, "lineitem")
    (
        o.write.bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(base, "orders"))
        .mode("overwrite")
        .saveAsTable(o_name)
    )
    (
        li.select("l_orderkey", "l_extendedprice")
        .write.bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(base, "lineitem"))
        .mode("overwrite")
        .saveAsTable(l_name)
    )
    ob, lb = spark.table(o_name), spark.table(l_name)
    return (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@query("join_skew_salted", oracle=_JOIN_AGG_SQL)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join via salting: same answer, spread hot keys.

    The (small-after-filter) orders side replicates into N_SALT copies;
    every lineitem row picks one deterministic salt. A key carrying k
    rows lands in N_SALT partitions of ~k/N_SALT instead of one — the
    manual version of what AQE skew-join does adaptively, needed when a
    single key alone exceeds a task's memory.

    The salt MUST vary within a key, so it hashes a row-unique tuple
    (orderkey, linenumber) — hashing the join key alone would map every
    row of a hot key to one salt and spread nothing (property-tested in
    tests/test_scale_patterns.py::test_salting_spreads_planted_hot_key).
    """
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date")
    )
    li = table(spark, sf_dir, "lineitem")
    salts = F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))).alias("salt")
    o_salted = o.select("o_orderkey", "o_orderstatus", salts)
    l_salted = li.select(
        "l_orderkey",
        "l_extendedprice",
        F.pmod(
            F.xxhash64("l_orderkey", "l_linenumber", F.lit(42)),
            F.lit(N_SALT),
        ).alias("salt"),
    )
    return (
        o_salted.join(
            l_salted,
            (o_salted.o_orderkey == l_salted.l_orderkey)
            & (o_salted.salt == l_salted.salt),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@query(
    "join_range_bucketed",
    oracle="""
    SELECT e.event_type AS type_a, f.event_type AS type_b,
           COUNT(*) AS n_pairs
    FROM events e JOIN events f
      ON f.ts > e.ts AND f.ts <= e.ts + INTERVAL 5 MINUTES
    GROUP BY 1, 2
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key) made shuffle-joinable by bucketing.

    "All event pairs within 5 minutes" has no equality condition, so
    Catalyst can only plan a nested loop — O(n²) comparisons, a
    non-starter at scale. The range-join rewrite: bucket time into
    window-width cells, explode the probe side into its cell and the
    next (a candidate match lies in one of the two), equi-join on the
    cell id, then re-apply the exact range as a post-filter. Cost drops
    to O(n · pairs-per-bucket) with an ordinary shuffled hash join —
    the same rewrite engines apply for range-join hints. Each true pair
    is found exactly once (its two cells are distinct).
    """
    window_s = 300
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    bucket = (F.unix_micros(F.col("ts")) / (window_s * 1_000_000)).cast("long")
    e = ev.select(
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("ts_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("cell"),
    )
    f = ev.select(
        F.col("event_type").alias("type_b"),
        F.col("ts").alias("ts_b"),
        bucket.alias("cell"),
    )
    us = window_s * 1_000_000
    return (
        e.join(f, "cell")
        .filter(
            (F.unix_micros(F.col("ts_b")) > F.unix_micros(F.col("ts_a")))
            & (
                F.unix_micros(F.col("ts_b"))
                <= F.unix_micros(F.col("ts_a")) + F.lit(us)
            )
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # The fixture-scale probe side is far below the 10 GB default
    # application-side threshold; at real scale the default gates the
    # filter to scans big enough to be worth pruning.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # The optimizer skips injection when the creation side could just
    # be broadcast (broadcast already prunes via DPP); at 100 TB a
    # year-of-orders creation side is NOT broadcastable, so emulate
    # that regime at fixture scale. Scoped to the materializing run.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim-filtered fact join, broadcast disabled by hint so
    the optimizer injects a runtime bloom filter on the probe side."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS sum_price
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: a selective filter on the
    dimension side is turned into a `bloom_filter_agg` built over the
    surviving join keys and applied as `might_contain` at the fact
    scan — rows that cannot match never enter the shuffle. At 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the ~selectivity fraction that survives; it composes
    with (and beyond) dynamic partition pruning because it prunes
    ROWS, not just partitions.

    The result is identical to the plain join (the filter is sound),
    so the oracle is the straightforward SQL. The session confs that
    let the filter inject at fixture scale are restored after the
    materializing run — the technique, not the conf state, is the
    deliverable.
    """
    with session_conf(spark, _BLOOM_CONFS):
        df = _bloom_join(spark, sf_dir).cache()
        df.count()  # materialize while the injection confs are live
    return df


@query(
    "join_dpp_partitioned",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS sum_total
    FROM orders o
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderstatus
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned by the join key (status here standing in for the
    date_key of a real warehouse layout); a selective filter on the
    dimension side becomes a runtime IN-subquery on the fact scan, so
    non-matching PARTITIONS are never read — file listing included.
    At 100 TB with a date-partitioned fact this is the single biggest
    scan reducer Spark has; it needs zero hints, only the layout.

    The dim side is a tiny status-attribute relation filtered to the
    'finished' slice; plan test asserts `dynamicpruning` reaches the
    fact FileScan. Oracle: the equivalent static filter — DPP never
    changes the answer, only the partitions read.
    """
    base = _stable_scratch("dpp_orders")
    path = os.path.join(base, "orders_by_status")
    dim_path = os.path.join(base, "status_dim")
    orders = table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    if not os.path.exists(os.path.join(dim_path, "_SUCCESS")):
        orders.select(F.col("o_orderstatus").alias("status")).distinct().withColumn(
            "label",
            F.when(F.col("status") == "F", "final").otherwise("open"),
        ).write.mode("overwrite").parquet(dim_path)
    fact = spark.read.parquet(path)
    # A real dim relation filtered by an attribute COMPARISON on a
    # non-key column: the pruning rule pattern-matches a likely-
    # selective predicate below the join (a filter above an aggregate,
    # or a bare boolean column, does not qualify), and filtering a
    # non-key attribute keeps Catalyst from just pushing a static
    # equality onto the fact side.
    dim = spark.read.parquet(dim_path).filter(F.col("label") == "final")
    return (
        fact.join(F.broadcast(dim), fact.o_orderstatus == dim.status)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        )
    )


@query(
    "join_spatial_grid",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST((c_custkey * 7919) % 1800 AS DOUBLE) / 10 - 90.0  AS lat,
             CAST((c_custkey * 104729) % 3600 AS DOUBLE) / 10 - 180.0 AS lon
      FROM customer
    ),
    hubs AS (
      SELECT s_suppkey AS hub_id,
             CAST((s_suppkey * 7919) % 1800 AS DOUBLE) / 10 - 90.0  AS hlat,
             CAST((s_suppkey * 104729) % 3600 AS DOUBLE) / 10 - 180.0 AS hlon
      FROM supplier
    ),
    cells AS (
      SELECT hub_id, hlat, hlon,
             CAST(floor(hlat / 5) AS BIGINT) + dy AS cy,
             CAST(floor(hlon / 5) AS BIGINT) + dx AS cx
      FROM hubs,
           (SELECT unnest([-1, 0, 1]) AS dy),
           (SELECT unnest([-1, 0, 1]) AS dx)
    ),
    candidates AS (
      SELECT p.id, c.hub_id, p.lat, p.lon, c.hlat, c.hlon
      FROM pts p
      JOIN cells c
        ON CAST(floor(p.lat / 5) AS BIGINT) = c.cy
       AND CAST(floor(p.lon / 5) AS BIGINT) = c.cx
    ),
    scored AS (
      SELECT id, hub_id,
             (lat - hlat) * (lat - hlat) + (lon - hlon) * (lon - hlon)
               AS d2
      FROM candidates
    ),
    best AS (
      SELECT id, hub_id, d2,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, hub_id) AS rn
      FROM scored
    )
    SELECT id AS c_custkey, hub_id AS nearest_hub,
           (CAST(floor(d2 * 10000) AS DOUBLE) / 10000) AS dist2
    FROM best WHERE rn = 1
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub spatial join via grid bucketing: points join only
    the hubs in their own 5°-cell (hubs replicated into their 3×3
    neighborhood), then an exact distance rescore picks the winner —
    the 2-D twin of the binned range join, and the standard way to
    keep a spatial join off the cross product at scale (candidates
    per point ≈ hubs per 9 cells, not |hubs|).

    Coordinates derive deterministically from keys (no geo columns in
    the fixtures); distance is squared-degrees (monotone with true
    distance inside a cell neighborhood — the haversine rescore swaps
    in without changing the plan). A point whose neighborhood holds no
    hub gets no row (documented; production pads the grid coarser or
    falls back to a second pass at 2× cell size).
    """
    from pyspark.sql.window import Window

    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 7919) % 1800).cast("double") / 10 - 90.0).alias("lat"),
        (((F.col("c_custkey") * 104729) % 3600).cast("double") / 10 - 180.0).alias(
            "lon"
        ),
    )
    hubs = s.select(
        F.col("s_suppkey").alias("hub_id"),
        (((F.col("s_suppkey") * 7919) % 1800).cast("double") / 10 - 90.0).alias(
            "hlat"
        ),
        (((F.col("s_suppkey") * 104729) % 3600).cast("double") / 10 - 180.0).alias(
            "hlon"
        ),
    )
    nbr = F.array(F.lit(-1), F.lit(0), F.lit(1))
    cells = (
        hubs.select("*", F.explode(nbr).alias("dy"))
        .select("*", F.explode(nbr).alias("dx"))
        .select(
            "hub_id",
            "hlat",
            "hlon",
            (F.floor(F.col("hlat") / 5) + F.col("dy")).alias("cy"),
            (F.floor(F.col("hlon") / 5) + F.col("dx")).alias("cx"),
        )
    )
    cand = pts.join(
        F.broadcast(cells),
        (F.floor(F.col("lat") / 5) == F.col("cy"))
        & (F.floor(F.col("lon") / 5) == F.col("cx")),
    )
    d2 = (F.col("lat") - F.col("hlat")) ** 2 + (F.col("lon") - F.col("hlon")) ** 2
    w = Window.partitionBy("id").orderBy("d2", "hub_id")
    return (
        cand.select("id", "hub_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id").alias("c_custkey"),
            F.col("hub_id").alias("nearest_hub"),
            trunc_digits(F.col("d2"), 4).alias("dist2"),
        )
    )


@query(
    "scan_bucket_pruned",
    oracle="""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS total
    FROM orders WHERE o_custkey = 37
    """,
)
def scan_bucket_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket pruning on read: an equality predicate on the bucketing
    key scans ONE bucket's files, not the table.

    The third member of the pruning triptych — partition pruning skips
    directories (sink_partitioned_prune), min/max stats skip row groups
    (sink_sorted_stats_prune), bucket pruning skips bucket files: the
    key hashes to exactly one bucket, so the other N−1 never open.
    Unlike partitioning this works on HIGH-cardinality keys (you can't
    make a directory per customer, but hashing a million customers
    into 64 buckets is routine). The plan advertises it as
    ``SelectedBucketsCount: 1 out of N`` (plan-asserted in
    tests/test_new_ops_plans.py).
    """
    # The planner drops bucketed scans when no operator exploits the
    # bucket distribution — but that heuristic also forfeits bucket
    # PRUNING, which is the whole point here. Pin the bucketed scan on
    # only long enough to fix THIS query's physical plan: the conf is
    # read at planning time, so force executedPlan inside the scope and
    # restore the caller's value (QueryExecution caches the plan, so
    # the returned DataFrame keeps its pruned scan). Limitation: the
    # pin covers THIS DataFrame's own QueryExecution only — a
    # write/save on the returned frame builds a fresh QueryExecution
    # under the restored conf and may re-plan without the pruned
    # bucketed scan (results stay correct; only the demonstration plan
    # shape is at stake). Sink-path callers must set the conf for
    # their own execution scope.
    with session_conf(
        spark, {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    ):
        tag = uuid.uuid4().hex[:8]
        base = _scratch_dir("bprune")
        name = f"orders_bp_{tag}"
        (
            table(spark, sf_dir, "orders")
            .write.bucketBy(_BUCKETS, "o_custkey")
            .sortBy("o_custkey")
            .option("path", os.path.join(base, "orders"))
            .mode("overwrite")
            .saveAsTable(name)
        )
        out = (
            spark.table(name)
            .filter(F.col("o_custkey") == 37)
            .select(
                "o_orderkey",
                "o_orderstatus",
                F.round("o_totalprice", 2).alias("total"),
            )
        )
        out._jdf.queryExecution().executedPlan()
        return out
