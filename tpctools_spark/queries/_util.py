"""Shared determinism helpers for oracle-checked queries.

The fixtures store money as ``double`` (FIXTURES.md deviation table), but
FP summation order differs between Spark's partial/final aggregation and
DuckDB's. To make value-hashes match exactly, money math is done in
DECIMAL: cast each 2-decimal input to an exact decimal, do the arithmetic
and the SUM in decimal (order-independent, exact), and only cast the final
result back to double. Both engines then produce bit-identical doubles.

Mirrors the reference's choice of ``Decimal128(11,2)`` for money columns
(``/root/reference/src/tpch.rs:154, 209-212``).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column
from pyspark.sql import functions as F

# money (price-like, up to ~1e6 with 2 decimals) and rate-like (discount,
# tax, in [0,1]) decimal shapes — small enough that products stay within
# 38 digits of precision in both Spark and DuckDB.
MONEY_DEC = "decimal(12,2)"
RATE_DEC = "decimal(4,2)"


def money(c: Column) -> Column:
    """Exact decimal view of a 2-decimal money double."""
    return c.cast(MONEY_DEC)


def rate(c: Column) -> Column:
    """Exact decimal view of a 2-decimal rate double."""
    return c.cast(RATE_DEC)


def dsum(c: Column) -> Column:
    """Order-independent SUM of money: decimal-sum → double, 2 decimals."""
    return F.round(F.sum(money(c)).cast("double"), 2)


def davg(c: Column) -> Column:
    """Order-independent AVG of money: exact decimal sum / count, then
    truncated to 2 decimals (see trunc_digits for why not ROUND)."""
    return trunc_digits(F.sum(money(c)).cast("double") / F.count(c), 2)


def trunc_digits(c: Column, k: int) -> Column:
    """Truncate a raw double to k decimals: ``floor(x·10^k)/10^k``.

    ``ROUND`` on arbitrary doubles diverges between engines near decimal
    halfway points (Spark rounds the shortest decimal repr, DuckDB the
    binary value). floor of the same IEEE product is bit-deterministic
    in both, so truncation is the cross-engine-safe way to emit
    fractional results of divisions/cosines. Use ROUND only on values
    that are exact decimals by construction (decimal sums cast back).

    Domain: |x|·10^k must stay under 2^63 (Spark's floor returns
    BIGINT) — fine for the ratios/cosines/averages this is used on;
    large absolute money totals go through ``dsum`` instead.
    Bit-equality against the DuckDB twin (including the −0.0
    normalization) is pinned in ``tests/test_util.py``.
    """
    scale = 10**k
    return F.floor(c * scale).cast("double") / scale


def sql_trunc_digits(expr: str, k: int) -> str:
    # The leading `0.0 +` normalizes IEEE negative zero: Spark's floor
    # returns BIGINT (so −0.0 → 0 → +0.0) while DuckDB's floor keeps
    # DOUBLE −0.0 — the one bit pattern where the engines' results
    # diverge (pinned in tests/test_util.py). 0.0 + x is an exact
    # identity for every other double.
    scale = 10**k
    return f"(0.0 + CAST(floor(({expr}) * {scale}) AS DOUBLE) / {scale})"


def global_rank(df, order_by, rn="rn", cumsums=None, partitions=None):
    """Globally-correct ``ROW_NUMBER() OVER (ORDER BY ...)`` (and
    optional running sums) WITHOUT an empty-partition window.

    An unpartitioned window funnels every row through one partition —
    fine on a vocabulary, fatal on anything that grows with the data.
    This is the scale-safe two-pass form:

    1. ``repartitionByRange(order_by)`` gives each shuffle partition a
       contiguous, ordered key range; a window partitioned by
       ``spark_partition_id()`` then computes LOCAL ranks / running
       sums fully in parallel.
    2. Per-partition ``(count, sum…)`` stats — one row per shuffle
       partition, constant-size in the DATA — are collapsed into a
       single sorted array and prefix-summed with ``F.aggregate`` over
       ``F.slice`` (no window, no collect), then hash-broadcast back:
       ``global rank = local rank + Σ counts of earlier partitions``.

    Both passes read the SAME range exchange — Catalyst de-duplicates
    the identical subplan (``ReusedExchange``), which also guarantees
    the partition-id assignment both passes see is one and the same
    RDD (asserted in ``tests/test_scale_patterns.py``).

    ``cumsums`` maps output-column name → Column to running-sum in the
    same global order (``ROWS UNBOUNDED PRECEDING``).  ``order_by``
    must be a total order (include a tiebreaker) — with duplicate sort
    keys, range partitioning may split a tie group across partitions
    and local ranks would double-count.
    """
    from pyspark.sql.window import Window

    cumsums = dict(cumsums or {})
    sess = df.sparkSession
    n = int(
        partitions
        or sess.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = df.repartitionByRange(n, *order_by).withColumn(
        "_gp", F.spark_partition_id()
    )
    w = Window.partitionBy("_gp").orderBy(*order_by)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    local = ranged.withColumn("_lrn", F.row_number().over(w))
    for name, col in cumsums.items():
        local = local.withColumn(f"_lc_{name}", F.sum(col).over(wc))

    stat_aggs = [F.count(F.lit(1)).cast("bigint").alias("_cnt")]
    for name, col in cumsums.items():
        stat_aggs.append(F.sum(col).alias(f"_s_{name}"))
    stats = ranged.groupBy("_gp").agg(*stat_aggs)
    stat_types = dict(stats.dtypes)
    arr = stats.agg(
        F.sort_array(
            F.collect_list(
                F.struct("_gp", *[c for c in stats.columns if c != "_gp"])
            )
        ).alias("_a")
    )
    # r13 fold sweep: these folds stay — the array holds ONE entry per
    # shuffle partition (constant in the data), so interpreted
    # evaluation costs O(partitions^2) scalars total, not per-row work.
    prefix = F.slice("_a", F.lit(1), F.col("_i"))  # the _i EARLIER partitions
    off_cols = [
        F.col("_e._gp").alias("_gp"),
        F.aggregate(
            prefix, F.lit(0).cast("bigint"), lambda a, x: a + x["_cnt"]
        ).alias("_rn_off"),
    ]
    def _sum_of(field):
        # PySpark infers merge-fn arity from the signature, so the
        # field name must be captured by a factory, not a default arg.
        return lambda a, x: a + x[field]

    for name in cumsums:
        off_cols.append(
            F.aggregate(
                prefix,
                F.lit(0).cast(stat_types[f"_s_{name}"]),
                _sum_of(f"_s_{name}"),
            ).alias(f"_off_{name}")
        )
    offsets = arr.select("_a", F.posexplode("_a").alias("_i", "_e")).select(
        *off_cols
    )

    out = local.join(F.broadcast(offsets), "_gp").withColumn(
        rn, (F.col("_lrn") + F.col("_rn_off")).cast("bigint")
    )
    for name in cumsums:
        out = out.withColumn(name, F.col(f"_lc_{name}") + F.col(f"_off_{name}"))
    return out.drop(
        "_gp",
        "_lrn",
        "_rn_off",
        *[f"_lc_{name}" for name in cumsums],
        *[f"_off_{name}" for name in cumsums],
    )


def spread_input(df):
    """Repartition a scan to full parallelism ONLY when it arrives with
    fewer input splits than the cluster has slots.

    The small-SF fixtures land as one parquet file → a 1-partition scan
    that would serialize the row-local heavy lifting (shingling, window
    hashing) onto one core. At 100 TB the scan already has thousands of
    splits, and an unconditional ``repartition(defaultParallelism)``
    would be an avoidable full shuffle of document TEXT — the single
    most expensive kind of byte to move. The partition count comes from
    the planned physical scan (metadata only, no job), so at scale this
    helper is a true no-op rather than a docstring promise.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def scan_size_bytes(df) -> int:
    """Catalyst's size estimate of ``df``'s plan, in bytes — metadata
    only (file-listing stats the scan already holds), no job.

    Used to SIZE-GATE optimizations whose fixed overhead (Python
    worker spin-up, Arrow transfer) only amortizes past a data volume
    — e.g. ``dedup_minhash``'s Arrow tail, a measured r13 win at the
    500k-doc tier but a −21% loss at 50k docs. Returns -1 when the
    estimate is unavailable; callers must treat unknown as LARGE (the
    scale-safe default — at 100 TB the gate must never fail closed).
    """
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — estimate only, never fatal
        return -1


def maybe_local_checkpoint(df):
    """``localCheckpoint(eager=False)`` — unless ``TPCTOOLS_NO_CHECKPOINT``
    is set, in which case the plan is returned unchanged.

    A checkpointed subtree collapses to an opaque ``LogicalRDD`` scan,
    which hides the joins/windows behind it from the blanket plan sweep
    (``tests/test_plan_sweep.py``) and the committed plan fingerprints.
    The sweep sets the env var so it audits the REAL pre-checkpoint
    tree; production runs keep the checkpoint (reused subtrees pay one
    materialization instead of N recomputes).
    """
    import os

    if os.environ.get("TPCTOOLS_NO_CHECKPOINT"):
        return df
    return df.localCheckpoint(eager=False)


def release_local_checkpoint(df) -> None:
    """Unpersist the block store backing a ``localCheckpoint()``ed
    DataFrame.

    ``DataFrame.unpersist()`` only touches cache entries; the blocks a
    local checkpoint pins live on the RDD *inside* the checkpointed
    plan's ``LogicalRDD`` node, and are otherwise only released when
    driver GC collects the RDD handle and ContextCleaner notices —
    unbounded in a tight iterative loop. This reaches through the
    analyzed plan for that RDD and unpersists it directly (non-blocking).
    No-op (swallowed) if the plan isn't a checkpoint scan, so callers
    can use it unconditionally on loop-carried tables. "Isn't a
    checkpoint scan" is checked structurally: the root must be a
    ``LogicalRDD`` whose RDD is actually checkpointed — a plain
    ``spark.createDataFrame(rdd)`` also roots at an RDD scan, and
    unpersisting *that* would drop blocks a caller still needs.
    """
    try:
        root = df._jdf.queryExecution().analyzed()
        if root.nodeName() != "LogicalRDD":
            return
        rdd = root.rdd()
        if rdd.isCheckpointed():
            rdd.unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort release, never fatal
        pass


@contextmanager
def session_conf(spark, confs: dict[str, str]):
    """Set the session confs *confs* for the block, then put each key
    back as it was: a key that was unset is unset again, so its
    built-in default stays in force (``conf.get(k, default)`` on an
    unset key returns the default given, which must not be pinned)."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
