"""Physical-plan assertions for the scale-technique joins."""

from __future__ import annotations


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: the join itself needs no shuffle.

    Broadcast is disabled so the join can't be rewritten away (at real
    scale both sides are too big to broadcast — that's when bucketing
    pays); the bucketed sort-merge join must then read both sides with
    no Exchange on the join keys.
    """
    from tpctools_spark.registry import spark_queries

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark_queries()["join_bucketed"](spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan
    assert "SortMergeJoin" in plan
    # the only exchange allowed is the post-join aggregation on
    # o_orderstatus — never on the join keys
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_salted_join_matches_plain(spark):
    from pyspark.sql import functions as F

    from tpctools_spark.registry import spark_queries

    sf = "/root/testdata/sf0.001"
    salted = {
        (r.o_orderstatus, r.n_lines, r.sum_price)
        for r in spark_queries()["join_skew_salted"](spark, sf).collect()
    }
    from tpctools_spark.catalog import table
    from tpctools_spark.queries._util import dsum

    o = table(spark, sf, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date")
    )
    li = table(spark, sf, "lineitem")
    plain = {
        (r.o_orderstatus, r.n_lines, r.sum_price)
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .collect()
    }
    assert salted == plain


def test_partitioned_read_prunes_directories(spark, tmp_path):
    """The partition predicate must land in PartitionFilters (directory
    pruning), not the row-level data filter."""
    from pyspark.sql import functions as F

    from tpctools_spark.catalog import table

    out = str(tmp_path / "by_status")
    o = table(spark, "/root/testdata/sf0.001", "orders")
    o.write.partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or (
        "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
    )


def test_pivot_is_single_aggregation(spark):
    """Pivot with an explicit value list must compile to one hash
    aggregation pair (partial+final) over one scan — no per-value scans,
    no distinct-values job, no Expand."""
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["agg_pivot"](spark, "/root/testdata/sf0.001")
    df.collect()
    # AQE prints final + initial plans; assert on the final one only
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Scan parquet") == 1
    assert "Expand" not in plan
    # two stacked aggregations — (status, priority) sums, then
    # pivotfirst over status — each split partial+final
    assert plan.count("HashAggregate") == 4
    assert "pivotfirst" in plan


def test_q4_exists_becomes_semi_join(spark):
    """The correlated EXISTS must execute as a single semi join on
    orderkey — not a nested-loop or an inner join + distinct."""
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["tpch_q4_order_priority"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "Distinct" not in plan


def test_q1_filter_pushes_to_scan(spark):
    """The flagship's shipdate predicate must reach the parquet reader
    (Catalyst rewrites cast(ts as date) <= lit into a strict < on the
    next day's timestamp — a pushable range)."""
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["agg_group_sum"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_range_bucketed_join_is_hash_not_nested_loop(spark):
    """The whole point of the bucket rewrite: a pure range join executes
    as an equi hash/sort-merge join on the cell id, never a nested loop
    over the cross product."""
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["join_range_bucketed"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Incremental-pipeline sink: with partitionOverwriteMode=dynamic,
    rewriting one ingest day replaces only that day's directory — the
    other partitions' files survive untouched (the idempotent-backfill
    pattern; static mode would wipe the whole table root)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "by_day")
    df = spark.createDataFrame(
        [(d, i, i * 10) for d in ("d1", "d2") for i in range(5)],
        "day string, k int, v int",
    )
    df.write.partitionBy("day").parquet(out)

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fixed = spark.createDataFrame(
            [("d2", i, i * 100) for i in range(3)], "day string, k int, v int"
        )
        fixed.write.mode("overwrite").partitionBy("day").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    back = spark.read.parquet(out)
    assert back.filter(F.col("day") == "d1").count() == 5  # untouched
    d2 = {(r.k, r.v) for r in back.filter(F.col("day") == "d2").collect()}
    assert d2 == {(i, i * 100) for i in range(3)}  # fully replaced


def test_knn_join_is_cell_bucketed_not_all_pairs(spark):
    """The kNN-join must never score all probe×corpus pairs: the only
    nested-loop/cross join allowed is the constant-size centroid set
    (ncells × dim); the candidate join must be an equi-join on the cell
    id so both sides co-partition at scale."""
    import re

    from tpctools_spark.registry import spark_queries

    df = spark_queries()["sim_knn_join"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the initial plan after the final one — keep the final
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    # exactly one nested-loop join: probe × centroids (constant size)
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # the corpus candidate join is keyed on the cell id
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cell", plan
    )


def test_global_rank_matches_single_partition_window(spark):
    """The two-pass distributed rank must equal the textbook
    single-partition window: same global row numbers and running sums,
    over a deliberately skewed value distribution with many tied
    partitions possible."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tpctools_spark.queries._util import global_rank

    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        # heavy-tailed, heavily tied values exercise range boundaries
        (F.col("id") % 97 * (F.col("id") % 13)).cast("bigint").alias("v"),
    )
    got = (
        global_rank(
            df,
            [F.col("v").desc(), F.col("k")],
            rn="rn",
            cumsums={"cv": F.col("v")},
        )
        .select("k", "rn", "cv")
        .collect()
    )
    w = Window.orderBy(F.col("v").desc(), "k")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "k",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("v").over(wc).alias("cv"),
    ).collect()
    assert sorted((r.k, r.rn, r.cv) for r in got) == sorted(
        (r.k, r.rn, r.cv) for r in want
    )


def test_global_rank_reuses_one_range_exchange(spark):
    """global_rank's correctness requires both passes to observe the
    SAME spark_partition_id assignment — i.e. the range exchange must
    be planned once and reused (ReusedExchange), never duplicated into
    two independently-sampled range partitioners."""
    from pyspark.sql import functions as F

    from tpctools_spark.queries._util import global_rank

    df = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") % 101).cast("bigint").alias("v")
    )
    out = global_rank(df, [F.col("v").desc(), F.col("k")], rn="rn")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    live = 0
    for line in final.splitlines():
        if "rangepartitioning" in line and "ReusedExchange" not in line:
            live += 1
    assert live == 1, f"expected 1 live range exchange, got {live}"
    assert "ReusedExchange" in final


def test_salting_spreads_planted_hot_key(spark):
    """The salted join's point: a key with k rows must land in N_SALT
    cells of ~k/N_SALT, not one. Uses the exact salt expression from
    join_skew_salted over a planted 50k-row hot key (a salt derived
    from the join key ALONE would put all 50k in one cell — the bug
    this test exists to prevent)."""
    from pyspark.sql import functions as F

    from tpctools_spark.queries.scale_patterns import N_SALT

    hot = spark.range(50_000).select(
        F.lit(7).alias("l_orderkey"),
        (F.col("id") % 7 + 1).cast("int").alias("l_linenumber"),
        F.col("id").alias("row_id"),
    )
    salted = hot.select(
        F.pmod(
            F.xxhash64("l_orderkey", "l_linenumber", F.lit(42)),
            F.lit(N_SALT),
        ).alias("salt")
    )
    counts = [r.n for r in salted.groupBy("salt").count().withColumnRenamed("count", "n").collect()]
    # NOTE: linenumber has only 7 distinct values, so at most 7 salt
    # cells can be hit — still a 7x spread vs the single cell a
    # key-only salt produces. Require at least 4 cells and no cell
    # above half the rows.
    assert len(counts) >= 4, f"hot key hit only {len(counts)} salt cells"
    assert max(counts) <= 25_000, f"max salt cell {max(counts)} — not spread"


def test_aqe_splits_planted_skew_join(spark):
    """AQE's OptimizeSkewedJoin must fire on a planted skewed key once
    the thresholds are in range: one key carries 200k padded rows, the
    others one each. Asserts the final adaptive plan marks the join
    skew=true AND the answer is right."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        pad = F.concat(F.lit("x" * 64), F.col("id").cast("string"))
        fact = (
            spark.range(200_000)
            .select(F.lit(0).alias("k"), pad.alias("pad"))
            .unionAll(
                spark.range(1, 1001).select(
                    F.col("id").alias("k"), F.lit("y").alias("pad")
                )
            )
        )
        dim = spark.range(0, 1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = fact.join(dim, "k")
        got = j.collect()
        from collections import Counter

        per_key = Counter(r.k for r in got)
        assert per_key[0] == 200_000 and per_key[17] == 1
        final = (
            j._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "skew=true" in final, "OptimizeSkewedJoin did not fire"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fixture_embedding_dim_matches_km_constant(spark):
    """EMB_DIM is baked into the generated k-means/medoid oracle SQL —
    if the fixture dimensionality ever drifts, fail HERE, not with a
    silent hash mismatch."""
    from pyspark.sql import functions as F

    from tpctools_spark.catalog import table
    from tpctools_spark.queries.similarity import EMB_DIM

    dims = (
        table(spark, "/root/testdata/sf0.001", "embeddings")
        .select(F.size("embedding").alias("d"))
        .distinct()
        .collect()
    )
    assert [r.d for r in dims] == [EMB_DIM]


def test_global_rank_property_random_shapes(spark):
    """Property: for arbitrary (skewed, tied, negative) key data and
    any partition count, global_rank == the single-partition window."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tpctools_spark.queries._util import global_rank

    rng = random.Random(20260814)
    for trial in range(4):
        n = rng.choice([1, 7, 500, 4096])
        parts = rng.choice([1, 3, 32, 100])
        rows = [
            (i, rng.choice([-5, -1, 0, 3, rng.randint(-1000, 1000)]))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "k long, v long")
        got = (
            global_rank(
                df,
                [F.col("v").desc(), F.col("k")],
                rn="rn",
                cumsums={"cv": F.col("v")},
                partitions=parts,
            )
            .select("k", "rn", "cv")
            .collect()
        )
        w = Window.orderBy(F.col("v").desc(), "k")
        want = df.select(
            "k",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cv"),
        ).collect()
        assert sorted((r.k, r.rn, r.cv) for r in got) == sorted(
            (r.k, r.rn, r.cv) for r in want
        ), f"trial {trial}: n={n} parts={parts}"


def test_global_rank_correct_with_aqe_disabled(spark):
    """global_rank's one-exchange invariant must hold under BOTH reuse
    mechanisms: AQE stage reuse (default) and the static ReuseExchange
    rule (adaptive off) — pid assignment consistency is correctness,
    not an optimization."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tpctools_spark.queries._util import global_rank

    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.range(10_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 89 * (F.col("id") % 11)).cast("bigint").alias("v"),
        )
        got = global_rank(
            df, [F.col("v").desc(), F.col("k")], rn="rn"
        ).select("k", "rn")
        rows = got.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        live = sum(
            1
            for line in plan.splitlines()
            if "rangepartitioning" in line and "ReusedExchange" not in line
        )
        assert live == 1 and "ReusedExchange" in plan
        w = Window.orderBy(F.col("v").desc(), "k")
        want = df.select(
            "k", F.row_number().over(w).cast("bigint").alias("rn")
        ).collect()
        assert sorted((r.k, r.rn) for r in rows) == sorted(
            (r.k, r.rn) for r in want
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_embedding_cell_occupancy_bounded(spark):
    """dedup_embedding's blocking must not go quadratic with corpus size.

    The sub-cell bit count scales with log2(n_label / target), so max
    cell occupancy should stay ~constant (not double) when the corpus
    doubles — the property that kept the old raw-label blocking from
    scaling. Synthetic single-label corpus, deterministic hash-valued
    components (uniform-ish in [-1, 1))."""
    from pyspark.sql import functions as F

    from tpctools_spark.queries.dedup import _EMB_CELL_TARGET, _embedding_cells

    def stats(n: int) -> tuple[int, int]:
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.lit(0).alias("label"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: F.pmod(
                    F.xxhash64(F.col("id") * 8 + j), F.lit(1000)
                ).cast("double")
                / 500.0
                - 1.0,
            ).alias("e"),
        )
        occ = _embedding_cells(df).groupBy("label", "subcell").count()
        row = occ.agg(
            F.max("count").alias("mx"), F.count(F.lit(1)).alias("cells")
        ).collect()[0]
        return int(row.mx), int(row.cells)

    m1, c1 = stats(1024)
    m2, c2 = stats(2048)
    # occupancy stays bounded by a small multiple of the target…
    assert m1 <= 4 * _EMB_CELL_TARGET
    assert m2 <= 4 * _EMB_CELL_TARGET
    # …because the cell count doubles with the corpus
    assert c2 > c1
    # and doubling the corpus must not double the worst cell
    assert m2 <= 1.8 * m1


def test_bucketed_tables_live_in_swept_scratch(spark):
    """The bucketed copies that join_bucketed and scan_bucket_pruned
    write land in a pid-tagged dir under the library scratch root, which
    a later process sweeps once this one is gone, never in ``/tmp``."""
    import os

    from tpctools_spark.queries.scans import _SCRATCH
    from tpctools_spark.registry import spark_queries

    before = {t.name for t in spark.catalog.listTables()}
    for name in ("join_bucketed", "scan_bucket_pruned"):
        spark_queries()[name](spark, "/root/testdata/sf0.001")
    new = {t.name for t in spark.catalog.listTables()} - before
    assert len(new) == 3, new
    scratch = os.path.realpath(_SCRATCH)
    for name in new:
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
            .filter("col_name = 'Location'")
            .first()["data_type"]
        )
        path = os.path.realpath(loc.removeprefix("file:"))
        assert os.path.commonpath([path, scratch]) == scratch, path
        assert f"-pid{os.getpid()}-" in path, path
