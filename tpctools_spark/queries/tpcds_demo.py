"""TPC-DS end-to-end demos over the native generator, oracle-checked.

The driver fixtures carry no TPC-DS tables, so these queries exercise
the full reference surface in one plan: generate (partition-invariant,
:mod:`tpctools_spark.generate_tpcds`) → star-join → rollup — the
workload shape the reference's data exists to feed
(``/root/reference/README.md:85-93``).

Oracle strategy (same as :mod:`tpch_generated`): generation is a pure
function of row ids, so the needed tables are MATERIALIZED once to a
stable scratch directory and every oracle is spec-form DuckDB SQL over
the very same parquet files — full value-level cross-engine checks.

Determinism notes: all money columns are decimal(7,2), so SUMs carry
scale 2 and ROUND(CAST(.. AS DOUBLE), 2) is exact on both engines.
Averages are computed as exact decimal/int SUM divided by COUNT in
double (identical operation order in both engines), then truncated —
never via engine-native AVG, whose intermediate typing differs.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.benchmark import TpcDs, materialized_table, parquet_ctes
from tpctools_spark.queries._util import sql_trunc_digits, trunc_digits
from tpctools_spark.registry import query

_SCALE = 0.001
_GEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
    "tpcds_gen_sf0001",
)


_t = partial(
    materialized_table, lambda: os.environ.get("TPCTOOLS_TPCDS_DIR"),
    TpcDs(), _SCALE, _GEN_DIR,
)

_with = partial(parquet_ctes, _GEN_DIR)


def _avg4(sum_col: F.Column, count_col: F.Column) -> F.Column:
    """Exact sum / count in double, truncated to 4 decimals — the
    cross-engine-stable average (native AVG typing differs)."""
    return trunc_digits(sum_col.cast("double") / count_col, 4)


@query(
    "tpcds_sales_rollup",
    oracle=_with("store_sales", "date_dim", "store")
    + """
    SELECT d_year, d_moy, COUNT(*) AS n_sales,
           ROUND(CAST(SUM(ss_net_paid) AS DOUBLE), 2) AS sum_net_paid
    FROM store_sales
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
    JOIN store ON ss_store_sk = s_store_sk
    GROUP BY ROLLUP(d_year, d_moy)
    """,
)
def tpcds_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """store_sales ⋆ date_dim ⋆ store rollup: net paid by year/month.

    Star-join shape: the fact carries surrogate date keys; date_dim
    (fixed 73k rows) and store broadcast; ROLLUP produces the
    year → month → grand-total lattice. At any scale the only wide
    shuffle is the fact-side aggregation exchange.
    """
    ss = _t(spark, "store_sales")
    dd = F.broadcast(_t(spark, "date_dim").select("d_date_sk", "d_year", "d_moy"))
    st = F.broadcast(_t(spark, "store").select("s_store_sk"))
    return (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(st, ss.ss_store_sk == st.s_store_sk)
        .rollup("d_year", "d_moy")
        .agg(
            F.count(F.lit(1)).alias("n_sales"),
            F.round(F.sum(F.col("ss_net_paid")).cast("double"), 2).alias(
                "sum_net_paid"
            ),
        )
        .select("d_year", "d_moy", "n_sales", "sum_net_paid")
    )


@query(
    "tpcds_inventory_by_warehouse",
    oracle=_with("inventory", "warehouse")
    + """
    SELECT w_warehouse_id, COUNT(*) AS n_records,
           CAST(SUM(inv_quantity_on_hand) AS BIGINT) AS total_qty
    FROM inventory
    JOIN warehouse ON inv_warehouse_sk = w_warehouse_sk
    GROUP BY w_warehouse_id
    """,
)
def tpcds_inventory_by_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inventory ⋆ warehouse: stock position per warehouse.

    The no-fixture second shape: a quantity fact keyed by (date, item,
    warehouse) aggregated against a broadcast dim.
    """
    inv = _t(spark, "inventory")
    w = F.broadcast(_t(spark, "warehouse").select("w_warehouse_sk", "w_warehouse_id"))
    return (
        inv.join(w, inv.inv_warehouse_sk == w.w_warehouse_sk)
        .groupBy("w_warehouse_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("inv_quantity_on_hand").alias("total_qty"),
        )
    )


@query(
    "tpcds_q3_brand_revenue",
    oracle=_with("store_sales", "date_dim", "item")
    + """
    SELECT d_year, i_brand_id, i_brand,
           ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS sum_agg
    FROM store_sales
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
    JOIN item ON ss_item_sk = i_item_sk
    WHERE d_moy = 12 AND i_manufact_id % 20 = 1
    GROUP BY d_year, i_brand_id, i_brand
    ORDER BY d_year, sum_agg DESC, i_brand_id
    LIMIT 100
    """,
)
def tpcds_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q3 shape: manufacturer's brand revenue by year, December
    sales only.

    Fact⋈date on the surrogate date key with the month predicate pushed
    into the broadcast dimension; brand grouping aggregates map-side
    first (item is tiny and broadcast).
    """
    ss = _t(spark, "store_sales")
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_moy") == 12).select("d_date_sk", "d_year")
    )
    it = F.broadcast(
        _t(spark, "item")
        .filter(F.col("i_manufact_id") % 20 == 1)
        .select("i_item_sk", "i_brand_id", "i_brand")
    )
    return (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .groupBy("d_year", "i_brand_id", "i_brand")
        .agg(F.round(F.sum("ss_ext_sales_price").cast("double"), 2).alias("sum_agg"))
        .orderBy("d_year", F.col("sum_agg").desc(), "i_brand_id")
        .limit(100)
    )


@query(
    "tpcds_q7_demographic_avg",
    oracle=_with(
        "store_sales", "customer_demographics", "date_dim", "item", "promotion"
    )
    + """
    SELECT i_item_id,
           CAST(floor(CAST(SUM(ss_quantity) AS DOUBLE) / COUNT(ss_quantity)
                      * 10000) AS DOUBLE) / 10000 AS agg1,
           CAST(floor(CAST(SUM(ss_list_price) AS DOUBLE) / COUNT(ss_list_price)
                      * 10000) AS DOUBLE) / 10000 AS agg2,
           CAST(floor(CAST(SUM(ss_coupon_amt) AS DOUBLE) / COUNT(ss_coupon_amt)
                      * 10000) AS DOUBLE) / 10000 AS agg3,
           CAST(floor(CAST(SUM(ss_sales_price) AS DOUBLE) / COUNT(ss_sales_price)
                      * 10000) AS DOUBLE) / 10000 AS agg4
    FROM store_sales
    JOIN customer_demographics ON ss_cdemo_sk = cd_demo_sk
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
    JOIN promotion ON ss_promo_sk = p_promo_sk
    JOIN item ON ss_item_sk = i_item_sk
    WHERE cd_gender = 'F' AND cd_marital_status = 'W'
      AND cd_education_status = 'College'
      AND d_year = 1999
      AND (p_channel_email = 'N' OR p_channel_event = 'N')
    GROUP BY i_item_id
    ORDER BY i_item_id
    LIMIT 100
    """,
)
def tpcds_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q7 shape: per-item averages for a demographic slice under
    no-response promotions.

    Four broadcast dimensions against one fact scan; the demographics
    table is spec-fixed at 1.92M rows regardless of SF, so its filtered
    projection (demo_sk only) is what broadcasts, not the full table.
    Averages are exact-sum / count (see module docstring).
    """
    ss = _t(spark, "store_sales")
    cd = F.broadcast(
        _t(spark, "customer_demographics")
        .filter(
            (F.col("cd_gender") == "F")
            & (F.col("cd_marital_status") == "W")
            & (F.col("cd_education_status") == "College")
        )
        .select("cd_demo_sk")
    )
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 1999).select("d_date_sk")
    )
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_item_id"))
    pr = F.broadcast(
        _t(spark, "promotion")
        .filter((F.col("p_channel_email") == "N") | (F.col("p_channel_event") == "N"))
        .select("p_promo_sk")
    )
    return (
        ss.join(cd, ss.ss_cdemo_sk == cd.cd_demo_sk)
        .join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(pr, ss.ss_promo_sk == pr.p_promo_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .groupBy("i_item_id")
        .agg(
            _avg4(F.sum("ss_quantity"), F.count("ss_quantity")).alias("agg1"),
            _avg4(F.sum("ss_list_price"), F.count("ss_list_price")).alias("agg2"),
            _avg4(F.sum("ss_coupon_amt"), F.count("ss_coupon_amt")).alias("agg3"),
            _avg4(F.sum("ss_sales_price"), F.count("ss_sales_price")).alias("agg4"),
        )
        .orderBy("i_item_id")
        .limit(100)
    )


@query(
    "tpcds_q15_catalog_zip",
    oracle=_with("catalog_sales", "customer", "customer_address", "date_dim")
    + """
    SELECT ca_zip,
           ROUND(CAST(SUM(cs_sales_price) AS DOUBLE), 2) AS sum_sales
    FROM catalog_sales
    JOIN date_dim ON cs_sold_date_sk = d_date_sk
    JOIN customer ON cs_bill_customer_sk = c_customer_sk
    JOIN customer_address ON c_current_addr_sk = ca_address_sk
    WHERE d_qoy = 1 AND d_year = 2000
      AND (substring(ca_zip, 1, 2) IN ('85', '86', '88')
           OR ca_state IN ('CA', 'GA', 'WA')
           OR cs_sales_price > 450)
    GROUP BY ca_zip
    ORDER BY ca_zip
    LIMIT 100
    """,
)
def tpcds_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q15 shape: catalog revenue by customer zip for big-ticket
    or select-state buyers in one quarter.

    The disjunctive residual (zip prefix OR state OR price) cannot prune
    at any single scan, so it evaluates post-join. The customer→address
    chain is deliberately UNHINTED — both tables scale with sf (100k×sf
    / 50k×sf here, 12 M / 6 M at spec sf1000), so AQE picks
    broadcast-vs-shuffle from runtime sizes; the fact shuffles once for
    the zip grouping.
    """
    cs = _t(spark, "catalog_sales")
    c = _t(spark, "customer").select("c_customer_sk", "c_current_addr_sk")
    ca = _t(spark, "customer_address").select("ca_address_sk", "ca_zip", "ca_state")
    dd = F.broadcast(
        _t(spark, "date_dim")
        .filter((F.col("d_qoy") == 1) & (F.col("d_year") == 2000))
        .select("d_date_sk")
    )
    keep = (
        F.substring("ca_zip", 1, 2).isin("85", "86", "88")
        | F.col("ca_state").isin("CA", "GA", "WA")
        | (F.col("cs_sales_price") > 450)
    )
    return (
        cs.join(dd, cs.cs_sold_date_sk == dd.d_date_sk)
        .join(c, cs.cs_bill_customer_sk == c.c_customer_sk)
        .join(ca, c.c_current_addr_sk == ca.ca_address_sk)
        .filter(keep)
        .groupBy("ca_zip")
        .agg(F.round(F.sum("cs_sales_price").cast("double"), 2).alias("sum_sales"))
        .orderBy("ca_zip")
        .limit(100)
    )


@query(
    "tpcds_q33_cross_channel",
    oracle=_with("store_sales", "catalog_sales", "web_sales", "date_dim", "item")
    + """
    , per_channel AS (
      SELECT i_manufact_id, SUM(CAST(ss_ext_sales_price AS DECIMAL(17,2))) AS total_sales
      FROM store_sales
      JOIN date_dim ON ss_sold_date_sk = d_date_sk
      JOIN item ON ss_item_sk = i_item_sk
      WHERE i_category = 'Electronics' AND d_year = 1999
      GROUP BY i_manufact_id
      UNION ALL
      SELECT i_manufact_id, SUM(CAST(cs_ext_sales_price AS DECIMAL(17,2)))
      FROM catalog_sales
      JOIN date_dim ON cs_sold_date_sk = d_date_sk
      JOIN item ON cs_item_sk = i_item_sk
      WHERE i_category = 'Electronics' AND d_year = 1999
      GROUP BY i_manufact_id
      UNION ALL
      SELECT i_manufact_id, SUM(CAST(ws_ext_sales_price AS DECIMAL(17,2)))
      FROM web_sales
      JOIN date_dim ON ws_sold_date_sk = d_date_sk
      JOIN item ON ws_item_sk = i_item_sk
      WHERE i_category = 'Electronics' AND d_year = 1999
      GROUP BY i_manufact_id
    )
    SELECT i_manufact_id,
           ROUND(CAST(SUM(total_sales) AS DOUBLE), 2) AS total_sales
    FROM per_channel
    GROUP BY i_manufact_id
    ORDER BY total_sales DESC, i_manufact_id
    LIMIT 100
    """,
)
def tpcds_q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q33 shape: one category's revenue summed across all three
    sales channels.

    Each channel aggregates independently (partial aggs collapse the
    facts before any union), then unionByName concatenates the three
    tiny per-channel results for the final rollup — the fan-in shape
    TPC-DS uses for Q33/Q56/Q60/Q76.
    """
    it = F.broadcast(
        _t(spark, "item")
        .filter(F.col("i_category") == "Electronics")
        .select("i_item_sk", "i_manufact_id")
    )
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 1999).select("d_date_sk")
    )

    def channel(fact: DataFrame, date_sk: str, item_sk: str, price: str) -> DataFrame:
        return (
            fact.join(dd, F.col(date_sk) == F.col("d_date_sk"))
            .join(it, F.col(item_sk) == F.col("i_item_sk"))
            .groupBy("i_manufact_id")
            .agg(F.sum(F.col(price).cast("decimal(17,2)")).alias("total_sales"))
        )

    ss = channel(
        _t(spark, "store_sales"), "ss_sold_date_sk", "ss_item_sk", "ss_ext_sales_price"
    )
    cs = channel(
        _t(spark, "catalog_sales"), "cs_sold_date_sk", "cs_item_sk", "cs_ext_sales_price"
    )
    ws = channel(
        _t(spark, "web_sales"), "ws_sold_date_sk", "ws_item_sk", "ws_ext_sales_price"
    )
    return (
        ss.unionByName(cs)
        .unionByName(ws)
        .groupBy("i_manufact_id")
        .agg(F.round(F.sum("total_sales").cast("double"), 2).alias("total_sales"))
        .orderBy(F.col("total_sales").desc(), "i_manufact_id")
        .limit(100)
    )


@query(
    "tpcds_q88_time_buckets",
    oracle=_with("store_sales", "time_dim", "household_demographics")
    + """
    SELECT
      CAST(SUM(CASE WHEN hh = 16 THEN 1 ELSE 0 END) AS BIGINT) AS h8_0,
      CAST(SUM(CASE WHEN hh = 17 THEN 1 ELSE 0 END) AS BIGINT) AS h8_30,
      CAST(SUM(CASE WHEN hh = 18 THEN 1 ELSE 0 END) AS BIGINT) AS h9_0,
      CAST(SUM(CASE WHEN hh = 19 THEN 1 ELSE 0 END) AS BIGINT) AS h9_30,
      CAST(SUM(CASE WHEN hh = 20 THEN 1 ELSE 0 END) AS BIGINT) AS h10_0,
      CAST(SUM(CASE WHEN hh = 21 THEN 1 ELSE 0 END) AS BIGINT) AS h10_30,
      CAST(SUM(CASE WHEN hh = 22 THEN 1 ELSE 0 END) AS BIGINT) AS h11_0,
      CAST(SUM(CASE WHEN hh = 23 THEN 1 ELSE 0 END) AS BIGINT) AS h11_30
    FROM (
      SELECT t_hour * 2 + CASE WHEN t_minute >= 30 THEN 1 ELSE 0 END AS hh
      FROM store_sales
      JOIN time_dim ON ss_sold_time_sk = t_time_sk
      JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
      WHERE t_hour BETWEEN 8 AND 11 AND hd_dep_count BETWEEN 1 AND 5
    )
    """,
)
def tpcds_q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape: store traffic in four half-hour buckets, one
    row out.

    The spec writes 8 scalar subqueries cross-joined into one row; here
    one fact scan feeds a conditional aggregation (sum of CASEs per
    bucket) — same result, 1/8th the scans. time_dim and the
    dependents-filtered household_demographics broadcast.
    """
    ss = _t(spark, "store_sales")
    td = F.broadcast(
        _t(spark, "time_dim")
        .filter(F.col("t_hour").between(8, 11))
        .select("t_time_sk", "t_hour", "t_minute")
    )
    hd = F.broadcast(
        _t(spark, "household_demographics")
        .filter(F.col("hd_dep_count").between(1, 5))
        .select("hd_demo_sk")
    )
    half_hour = (F.col("t_hour") * 2 + (F.col("t_minute") >= 30).cast("int"))
    return (
        ss.join(td, ss.ss_sold_time_sk == td.t_time_sk)
        .join(hd, ss.ss_hdemo_sk == hd.hd_demo_sk)
        .groupBy()
        .agg(
            *[
                F.sum((half_hour == 16 + i).cast("long")).alias(
                    f"h{8 + i // 2}_{30 * (i % 2)}"
                )
                for i in range(8)
            ]
        )
    )


@query(
    "tpcds_q1_returning_customers",
    oracle=_with("store_returns", "date_dim", "store", "customer")
    + """
    , ctr AS (
      SELECT sr_customer_sk, sr_store_sk,
             CAST(SUM(CAST(sr_return_amt * 100 AS BIGINT)) AS BIGINT) AS ctr_cents
      FROM store_returns
      JOIN date_dim ON sr_returned_date_sk = d_date_sk
      WHERE d_year = 2000
      GROUP BY sr_customer_sk, sr_store_sk
    ), w AS (
      SELECT *,
             SUM(ctr_cents) OVER (PARTITION BY sr_store_sk) AS store_cents,
             COUNT(*) OVER (PARTITION BY sr_store_sk) AS store_cnt
      FROM ctr
    )
    SELECT c_customer_id,
           ROUND(CAST(ctr_cents AS DOUBLE) / 100, 2) AS total_return
    FROM w
    JOIN store ON sr_store_sk = s_store_sk
    JOIN customer ON sr_customer_sk = c_customer_sk
    WHERE ctr_cents * store_cnt * 10 > store_cents * 12
    ORDER BY c_customer_id, total_return
    LIMIT 100
    """,
)
def tpcds_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q1 shape: customers returning >1.2x their store's average.

    The spec's correlated scalar subquery (per-store AVG over the same
    CTE) decorrelates into a window over the grouped returns — one
    aggregation, one window pass, no re-scan of the fact. The threshold
    compares in integer cents with the division cleared
    (ctr·n·10 > total·12), so the 1.2x cut is exact on both engines at
    any scale; only the displayed total converts to dollars.
    """
    from pyspark.sql.window import Window

    sr = _t(spark, "store_returns")
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2000).select("d_date_sk")
    )
    ctr = (
        sr.join(dd, sr.sr_returned_date_sk == dd.d_date_sk)
        .groupBy("sr_customer_sk", "sr_store_sk")
        .agg(
            F.sum((F.col("sr_return_amt") * 100).cast("long")).alias("ctr_cents")
        )
    )
    w = Window.partitionBy("sr_store_sk")
    st = F.broadcast(_t(spark, "store").select("s_store_sk"))
    c = (
        _t(spark, "customer").select("c_customer_sk", "c_customer_id")
    )
    return (
        ctr.withColumn("store_cents", F.sum("ctr_cents").over(w))
        .withColumn("store_cnt", F.count(F.lit(1)).over(w))
        .filter(
            F.col("ctr_cents") * F.col("store_cnt") * 10
            > F.col("store_cents") * 12
        )
        .join(st, F.col("sr_store_sk") == st.s_store_sk)
        .join(c, F.col("sr_customer_sk") == c.c_customer_sk)
        .select(
            "c_customer_id",
            F.round(F.col("ctr_cents").cast("double") / 100, 2).alias(
                "total_return"
            ),
        )
        .orderBy("c_customer_id", "total_return")
        .limit(100)
    )


_Q2_DAYS = [
    ("Sunday", "sun"), ("Monday", "mon"), ("Tuesday", "tue"),
    ("Wednesday", "wed"), ("Thursday", "thu"), ("Friday", "fri"),
    ("Saturday", "sat"),
]


@query(
    "tpcds_q2_weekly_yoy",
    oracle=_with("web_sales", "catalog_sales", "date_dim")
    + """
    , wscs AS (
      SELECT ws_sold_date_sk AS sold_date_sk,
             CAST(ws_ext_sales_price * 100 AS BIGINT) AS cents
      FROM web_sales
      UNION ALL
      SELECT cs_sold_date_sk,
             CAST(cs_ext_sales_price * 100 AS BIGINT)
      FROM catalog_sales
    ), wswscs AS (
      SELECT d_week_seq,
"""
    + ",\n".join(
        f"             CAST(SUM(CASE WHEN d_day_name = '{day}' THEN cents END)"
        f" AS BIGINT) AS {ab}_cents"
        for day, ab in _Q2_DAYS
    )
    + """
      FROM wscs JOIN date_dim ON sold_date_sk = d_date_sk
      GROUP BY d_week_seq
    )
    SELECT y.d_week_seq AS d_week_seq1,
"""
    + ",\n".join(
        "           "
        + sql_trunc_digits(
            f"CAST(y.{ab}_cents AS DOUBLE) / NULLIF(z.{ab}_cents, 0)", 4
        )
        + f" AS r_{ab}"
        for _, ab in _Q2_DAYS
    )
    + """
    FROM wswscs y
    JOIN wswscs z ON y.d_week_seq = z.d_week_seq - 53
    WHERE y.d_week_seq IN (SELECT d_week_seq FROM date_dim WHERE d_year = 2001)
      AND z.d_week_seq IN (SELECT d_week_seq FROM date_dim WHERE d_year = 2002)
    ORDER BY d_week_seq1
    """,
)
def tpcds_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q2 shape: web+catalog weekly sales by day-of-week, each
    2001 week ratioed against the same week one year (53 week-seqs) on.

    The two channel facts concatenate before a single per-week pivot
    aggregation (7 conditional sums in exact integer cents), then the
    tiny per-week table self-joins on the shifted week key — fact data
    is touched exactly once. Year membership is a semi-join against
    date_dim so boundary-straddling weeks can't duplicate rows. Ratios
    divide once in double and truncate to 4 digits (cross-engine-stable;
    see _util.trunc_digits).
    """
    ws = _t(spark, "web_sales").select(
        F.col("ws_sold_date_sk").alias("sold_date_sk"),
        (F.col("ws_ext_sales_price") * 100).cast("long").alias("cents"),
    )
    cs = _t(spark, "catalog_sales").select(
        F.col("cs_sold_date_sk").alias("sold_date_sk"),
        (F.col("cs_ext_sales_price") * 100).cast("long").alias("cents"),
    )
    dd = F.broadcast(
        _t(spark, "date_dim").select("d_date_sk", "d_week_seq", "d_day_name")
    )
    dates = _t(spark, "date_dim")

    def weeks_of(year: int) -> DataFrame:
        return F.broadcast(
            dates.filter(F.col("d_year") == year).select("d_week_seq").distinct()
        )

    # A/B NEUTRAL (r10, interleaved min-of-5 at sf1): semi-joining the
    # fact rows to the two years' week-seqs BEFORE the pivot aggregate
    # (dropping ~2/3 of rows pre-shuffle) measured +2.9% on min and NOT
    # sign-stable — the map-side partial aggregate already collapses
    # everything to ~300 week keys, so there is no shuffle to save.
    # The unfiltered single-pass pivot stays the shipped plan.
    wk = (
        ws.unionByName(cs)
        .join(dd, F.col("sold_date_sk") == dd.d_date_sk)
        .groupBy("d_week_seq")
        .agg(
            *[
                F.sum(
                    F.when(F.col("d_day_name") == day, F.col("cents"))
                ).alias(f"{ab}_cents")
                for day, ab in _Q2_DAYS
            ]
        )
    )

    y = wk.join(weeks_of(2001), "d_week_seq", "semi").alias("y")
    z = wk.join(weeks_of(2002), "d_week_seq", "semi").alias("z")
    ratio = [
        trunc_digits(
            F.col(f"y.{ab}_cents").cast("double")
            / F.when(F.col(f"z.{ab}_cents") != 0, F.col(f"z.{ab}_cents")),
            4,
        ).alias(f"r_{ab}")
        for _, ab in _Q2_DAYS
    ]
    return (
        y.join(z, F.col("y.d_week_seq") == F.col("z.d_week_seq") - 53)
        .select(F.col("y.d_week_seq").alias("d_week_seq1"), *ratio)
        .orderBy("d_week_seq1")
    )


@query(
    "tpcds_q5_channel_rollup",
    oracle=_with(
        "store_sales", "store_returns", "catalog_sales", "catalog_returns",
        "web_sales", "web_returns", "date_dim",
    )
    + """
    , legs AS (
      SELECT 'store channel' AS channel,
             COALESCE(ss_store_sk, -1) AS id, ss_sold_date_sk AS date_sk,
             CAST(ss_ext_sales_price * 100 AS BIGINT) AS sales_cents,
             CAST(0 AS BIGINT) AS returns_cents,
             CAST(ss_net_profit * 100 AS BIGINT) AS profit_cents
      FROM store_sales
      UNION ALL
      SELECT 'store channel', COALESCE(sr_store_sk, -1), sr_returned_date_sk,
             0, CAST(sr_return_amt * 100 AS BIGINT),
             -CAST(sr_net_loss * 100 AS BIGINT)
      FROM store_returns
      UNION ALL
      SELECT 'catalog channel', COALESCE(cs_catalog_page_sk, -1), cs_sold_date_sk,
             CAST(cs_ext_sales_price * 100 AS BIGINT), 0,
             CAST(cs_net_profit * 100 AS BIGINT)
      FROM catalog_sales
      UNION ALL
      SELECT 'catalog channel', COALESCE(cr_catalog_page_sk, -1), cr_returned_date_sk,
             0, CAST(cr_return_amount * 100 AS BIGINT),
             -CAST(cr_net_loss * 100 AS BIGINT)
      FROM catalog_returns
      UNION ALL
      SELECT 'web channel', COALESCE(ws_web_page_sk, -1), ws_sold_date_sk,
             CAST(ws_ext_sales_price * 100 AS BIGINT), 0,
             CAST(ws_net_profit * 100 AS BIGINT)
      FROM web_sales
      UNION ALL
      SELECT 'web channel', COALESCE(wr_web_page_sk, -1), wr_returned_date_sk,
             0, CAST(wr_return_amt * 100 AS BIGINT),
             -CAST(wr_net_loss * 100 AS BIGINT)
      FROM web_returns
    )
    SELECT channel, id,
           ROUND(CAST(SUM(sales_cents) AS DOUBLE) / 100, 2) AS sales,
           ROUND(CAST(SUM(returns_cents) AS DOUBLE) / 100, 2) AS returns_amt,
           ROUND(CAST(SUM(profit_cents) AS DOUBLE) / 100, 2) AS profit
    FROM legs
    JOIN date_dim ON date_sk = d_date_sk
    WHERE d_year = 2002
    GROUP BY ROLLUP(channel, id)
    """,
)
def tpcds_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q5 shape: sales/returns/profit per channel entity with a
    channel → entity → grand-total rollup across all six facts.

    Each fact normalizes to one (channel, id, sales, returns, profit)
    leg — returns carry negated net_loss so profit is SUM-only, no
    join between sales and returns is ever needed. All money moves as
    integer cents (exact under any partitioning/union order); null
    entity FKs coalesce to -1 so data nulls stay distinct from the
    rollup's subtotal NULLs on both engines.
    """
    def leg(df: DataFrame, channel: str, id_col: str, date_col: str,
            sales: str | None, returns_: str | None,
            profit: str, negate: bool) -> DataFrame:
        cents = lambda c: (F.col(c) * 100).cast("long")  # noqa: E731
        zero = F.lit(0).cast("long")
        p = cents(profit)
        return df.select(
            F.lit(channel).alias("channel"),
            F.coalesce(F.col(id_col), F.lit(-1)).alias("id"),
            F.col(date_col).alias("date_sk"),
            (cents(sales) if sales else zero).alias("sales_cents"),
            (cents(returns_) if returns_ else zero).alias("returns_cents"),
            (-p if negate else p).alias("profit_cents"),
        )

    legs = (
        leg(_t(spark, "store_sales"), "store channel", "ss_store_sk",
            "ss_sold_date_sk", "ss_ext_sales_price", None, "ss_net_profit", False)
        .unionByName(
            leg(_t(spark, "store_returns"), "store channel", "sr_store_sk",
                "sr_returned_date_sk", None, "sr_return_amt", "sr_net_loss", True))
        .unionByName(
            leg(_t(spark, "catalog_sales"), "catalog channel", "cs_catalog_page_sk",
                "cs_sold_date_sk", "cs_ext_sales_price", None, "cs_net_profit", False))
        .unionByName(
            leg(_t(spark, "catalog_returns"), "catalog channel", "cr_catalog_page_sk",
                "cr_returned_date_sk", None, "cr_return_amount", "cr_net_loss", True))
        .unionByName(
            leg(_t(spark, "web_sales"), "web channel", "ws_web_page_sk",
                "ws_sold_date_sk", "ws_ext_sales_price", None, "ws_net_profit", False))
        .unionByName(
            leg(_t(spark, "web_returns"), "web channel", "wr_web_page_sk",
                "wr_returned_date_sk", None, "wr_return_amt", "wr_net_loss", True))
    )
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2002).select("d_date_sk")
    )
    dollars = lambda c: F.round(F.sum(c).cast("double") / 100, 2)  # noqa: E731
    return (
        legs.join(dd, F.col("date_sk") == dd.d_date_sk)
        .rollup("channel", "id")
        .agg(
            dollars("sales_cents").alias("sales"),
            dollars("returns_cents").alias("returns_amt"),
            dollars("profit_cents").alias("profit"),
        )
        .select("channel", "id", "sales", "returns_amt", "profit")
    )


@query(
    "tpcds_q42_category_revenue",
    oracle=_with("store_sales", "date_dim", "item")
    + """
    SELECT d_year, i_category_id, i_category,
           ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS sum_sales
    FROM store_sales
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
    JOIN item ON ss_item_sk = i_item_sk
    WHERE d_moy = 11 AND d_year = 2000 AND i_manager_id <= 500
    GROUP BY d_year, i_category_id, i_category
    ORDER BY sum_sales DESC, d_year, i_category_id, i_category
    LIMIT 100
    """,
)
def tpcds_q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q42 shape: November revenue by item category for one
    manager tier.

    Cheapest star variant: both dimension filters (month on date_dim,
    manager tier on item) prune inside their broadcast builds, so the
    fact scan is the only distributed input and the category grouping
    the only exchange.
    """
    ss = _t(spark, "store_sales")
    dd = F.broadcast(
        _t(spark, "date_dim")
        .filter((F.col("d_moy") == 11) & (F.col("d_year") == 2000))
        .select("d_date_sk", "d_year")
    )
    it = F.broadcast(
        _t(spark, "item")
        .filter(F.col("i_manager_id") <= 500)
        .select("i_item_sk", "i_category_id", "i_category")
    )
    return (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .groupBy("d_year", "i_category_id", "i_category")
        .agg(
            F.round(F.sum("ss_ext_sales_price").cast("double"), 2).alias(
                "sum_sales"
            )
        )
        .orderBy(
            F.col("sum_sales").desc(), "d_year", "i_category_id", "i_category"
        )
        .limit(100)
    )


@query(
    "tpcds_q52_brand_revenue",
    oracle=_with("store_sales", "date_dim", "item")
    + """
    SELECT d_year, i_brand_id, i_brand,
           ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
    FROM store_sales
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
    JOIN item ON ss_item_sk = i_item_sk
    WHERE d_moy = 11 AND d_year = 2000 AND i_manager_id <= 500
    GROUP BY d_year, i_brand_id, i_brand
    ORDER BY d_year, ext_price DESC, i_brand_id
    LIMIT 100
    """,
)
def tpcds_q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q52 shape: Q42's slice regrouped by brand — the spec pairs
    these as the minimal star-join family (same joins, different
    grouping column), so both share one physical shape: pruned broadcast
    dims, single fact exchange.
    """
    ss = _t(spark, "store_sales")
    dd = F.broadcast(
        _t(spark, "date_dim")
        .filter((F.col("d_moy") == 11) & (F.col("d_year") == 2000))
        .select("d_date_sk", "d_year")
    )
    it = F.broadcast(
        _t(spark, "item")
        .filter(F.col("i_manager_id") <= 500)
        .select("i_item_sk", "i_brand_id", "i_brand")
    )
    return (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .groupBy("d_year", "i_brand_id", "i_brand")
        .agg(
            F.round(F.sum("ss_ext_sales_price").cast("double"), 2).alias(
                "ext_price"
            )
        )
        .orderBy("d_year", F.col("ext_price").desc(), "i_brand_id")
        .limit(100)
    )


@query(
    "tpcds_q26_catalog_demographics",
    oracle=_with(
        "catalog_sales", "customer_demographics", "date_dim", "item", "promotion"
    )
    + """
    SELECT i_item_id,
           CAST(floor(CAST(SUM(cs_quantity) AS DOUBLE) / COUNT(cs_quantity)
                      * 10000) AS DOUBLE) / 10000 AS agg1,
           CAST(floor(CAST(SUM(cs_list_price) AS DOUBLE) / COUNT(cs_list_price)
                      * 10000) AS DOUBLE) / 10000 AS agg2,
           CAST(floor(CAST(SUM(cs_coupon_amt) AS DOUBLE) / COUNT(cs_coupon_amt)
                      * 10000) AS DOUBLE) / 10000 AS agg3,
           CAST(floor(CAST(SUM(cs_sales_price) AS DOUBLE) / COUNT(cs_sales_price)
                      * 10000) AS DOUBLE) / 10000 AS agg4
    FROM catalog_sales
    JOIN customer_demographics ON cs_bill_cdemo_sk = cd_demo_sk
    JOIN date_dim ON cs_sold_date_sk = d_date_sk
    JOIN promotion ON cs_promo_sk = p_promo_sk
    JOIN item ON cs_item_sk = i_item_sk
    WHERE cd_gender = 'M' AND cd_marital_status = 'S'
      AND cd_education_status = 'College'
      AND d_year = 2000
      AND (p_channel_email = 'N' OR p_channel_event = 'N')
    GROUP BY i_item_id
    ORDER BY i_item_id
    LIMIT 100
    """,
)
def tpcds_q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q26 shape: the catalog-channel twin of Q7 — per-item
    averages for a demographic slice under no-response promotions.

    Same physical plan family as Q7 (four pruned broadcast dims, one
    fact exchange); exercising it against catalog_sales proves the
    star scaffolding is channel-agnostic. Averages are exact-sum /
    count truncated to 4 digits (module docstring).
    """
    cs = _t(spark, "catalog_sales")
    cd = F.broadcast(
        _t(spark, "customer_demographics")
        .filter(
            (F.col("cd_gender") == "M")
            & (F.col("cd_marital_status") == "S")
            & (F.col("cd_education_status") == "College")
        )
        .select("cd_demo_sk")
    )
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2000).select("d_date_sk")
    )
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_item_id"))
    pr = F.broadcast(
        _t(spark, "promotion")
        .filter((F.col("p_channel_email") == "N") | (F.col("p_channel_event") == "N"))
        .select("p_promo_sk")
    )
    return (
        cs.join(cd, cs.cs_bill_cdemo_sk == cd.cd_demo_sk)
        .join(dd, cs.cs_sold_date_sk == dd.d_date_sk)
        .join(pr, cs.cs_promo_sk == pr.p_promo_sk)
        .join(it, cs.cs_item_sk == it.i_item_sk)
        .groupBy("i_item_id")
        .agg(
            _avg4(F.sum("cs_quantity"), F.count("cs_quantity")).alias("agg1"),
            _avg4(F.sum("cs_list_price"), F.count("cs_list_price")).alias("agg2"),
            _avg4(F.sum("cs_coupon_amt"), F.count("cs_coupon_amt")).alias("agg3"),
            _avg4(F.sum("cs_sales_price"), F.count("cs_sales_price")).alias("agg4"),
        )
        .orderBy("i_item_id")
        .limit(100)
    )


@query(
    "tpcds_q36_margin_rank",
    oracle=_with("store_sales", "date_dim", "item", "store")
    + """
    , grp AS (
      SELECT i_category, i_class,
             GROUPING(i_category) * 2 + GROUPING(i_class) AS lochierarchy,
             CAST(SUM(CAST(ss_net_profit * 100 AS BIGINT)) AS BIGINT) AS profit_cents,
             CAST(SUM(CAST(ss_ext_sales_price * 100 AS BIGINT)) AS BIGINT) AS sales_cents
      FROM store_sales
      JOIN date_dim ON ss_sold_date_sk = d_date_sk
      JOIN item ON ss_item_sk = i_item_sk
      JOIN store ON ss_store_sk = s_store_sk
      WHERE d_year = 2001
      GROUP BY ROLLUP(i_category, i_class)
    )
    SELECT i_category, i_class, lochierarchy,
    """
    + sql_trunc_digits("CAST(profit_cents AS DOUBLE) / NULLIF(sales_cents, 0)", 6)
    + """ AS gross_margin,
           RANK() OVER (
             PARTITION BY lochierarchy, CASE WHEN lochierarchy = 1
                                             THEN i_category END
             ORDER BY CAST(profit_cents AS DOUBLE) / NULLIF(sales_cents, 0) ASC,
                      i_category NULLS FIRST, i_class NULLS FIRST
           ) AS rank_within_parent
    FROM grp
    """,
)
def tpcds_q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q36 shape: gross margin by category/class rollup, each
    level ranked within its parent.

    The grouping level comes from GROUPING flags (identical bitmask
    semantics in Spark's grouping() and DuckDB's GROUPING()), so
    subtotal rows are first-class join/window keys — the window
    partitions on (level, parent category) exactly as the spec's
    lochierarchy does. Margins divide once in double from exact cent
    sums and truncate to 6 digits; the rank orders by the same double
    with a deterministic NULLS FIRST tie-break.
    """
    from pyspark.sql.window import Window

    ss = _t(spark, "store_sales")
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2001).select("d_date_sk")
    )
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_category", "i_class"))
    st = F.broadcast(_t(spark, "store").select("s_store_sk"))
    cents = lambda c: F.sum((F.col(c) * 100).cast("long"))  # noqa: E731
    grp = (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .join(st, ss.ss_store_sk == st.s_store_sk)
        .rollup("i_category", "i_class")
        .agg(
            (F.grouping("i_category") * 2 + F.grouping("i_class")).alias(
                "lochierarchy"
            ),
            cents("ss_net_profit").alias("profit_cents"),
            cents("ss_ext_sales_price").alias("sales_cents"),
        )
    )
    margin = F.col("profit_cents").cast("double") / F.when(
        F.col("sales_cents") != 0, F.col("sales_cents")
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("lochierarchy") == 1, F.col("i_category")),
    ).orderBy(
        margin.asc(),
        F.col("i_category").asc_nulls_first(),
        F.col("i_class").asc_nulls_first(),
    )
    return grp.select(
        "i_category",
        "i_class",
        "lochierarchy",
        trunc_digits(margin, 6).alias("gross_margin"),
        F.rank().over(w).alias("rank_within_parent"),
    )


@query(
    "tpcds_q90_am_pm_ratio",
    oracle=_with("web_sales", "household_demographics", "time_dim", "web_page")
    + """
    , am AS (
      SELECT COUNT(*) AS amc FROM web_sales
      JOIN household_demographics ON ws_ship_hdemo_sk = hd_demo_sk
      JOIN time_dim ON ws_sold_time_sk = t_time_sk
      JOIN web_page ON ws_web_page_sk = wp_web_page_sk
      WHERE t_hour BETWEEN 8 AND 9 AND hd_dep_count = 6
        AND wp_char_count BETWEEN 500 AND 1000
    ), pm AS (
      SELECT COUNT(*) AS pmc FROM web_sales
      JOIN household_demographics ON ws_ship_hdemo_sk = hd_demo_sk
      JOIN time_dim ON ws_sold_time_sk = t_time_sk
      JOIN web_page ON ws_web_page_sk = wp_web_page_sk
      WHERE t_hour BETWEEN 19 AND 20 AND hd_dep_count = 6
        AND wp_char_count BETWEEN 500 AND 1000
    )
    SELECT CAST(amc AS BIGINT) AS amc, CAST(pmc AS BIGINT) AS pmc,
    """
    + sql_trunc_digits("CAST(amc AS DOUBLE) / NULLIF(pmc, 0)", 6)
    + """ AS am_pm_ratio
    FROM am, pm
    """,
)
def tpcds_q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q90 shape: morning vs evening web order counts as one
    ratio row.

    Rather than the spec's two scalar subqueries (two fact scans), one
    scan feeds two conditional counts over the union of both hour
    bands — halving fact IO; the cross join of two singleton CTEs
    collapses into a single global aggregate. Counts are exact ints;
    the single ratio divides once and truncates.
    """
    ws = _t(spark, "web_sales")
    hd = F.broadcast(
        _t(spark, "household_demographics")
        .filter(F.col("hd_dep_count") == 6)
        .select("hd_demo_sk")
    )
    td = F.broadcast(
        _t(spark, "time_dim")
        .filter(F.col("t_hour").between(8, 9) | F.col("t_hour").between(19, 20))
        .select("t_time_sk", "t_hour")
    )
    wp = F.broadcast(
        _t(spark, "web_page")
        .filter(F.col("wp_char_count").between(500, 1000))
        .select("wp_web_page_sk")
    )
    zero = F.lit(0).cast("long")
    agg = (
        ws.join(hd, ws.ws_ship_hdemo_sk == hd.hd_demo_sk)
        .join(td, ws.ws_sold_time_sk == td.t_time_sk)
        .join(wp, ws.ws_web_page_sk == wp.wp_web_page_sk)
        .groupBy()
        .agg(
            # COUNT semantics: empty input is 0, never NULL
            F.coalesce(
                F.sum(F.col("t_hour").between(8, 9).cast("long")), zero
            ).alias("amc"),
            F.coalesce(
                F.sum(F.col("t_hour").between(19, 20).cast("long")), zero
            ).alias("pmc"),
        )
    )
    ratio = trunc_digits(
        F.col("amc").cast("double") / F.when(F.col("pmc") != 0, F.col("pmc")), 6
    )
    return agg.select("amc", "pmc", ratio.alias("am_pm_ratio"))


@query(
    "tpcds_q93_actual_sales",
    oracle=_with("store_sales", "store_returns", "reason")
    + """
    , t AS (
      SELECT ss_customer_sk,
             CASE WHEN sr_return_quantity IS NOT NULL
                  THEN CAST((ss_quantity - sr_return_quantity)
                            * CAST(ss_sales_price * 100 AS BIGINT) AS BIGINT)
                  ELSE CAST(ss_quantity
                            * CAST(ss_sales_price * 100 AS BIGINT) AS BIGINT)
             END AS act_cents
      FROM store_sales
      LEFT JOIN store_returns ON ss_item_sk = sr_item_sk
                             AND ss_ticket_number = sr_ticket_number
      LEFT JOIN reason ON sr_reason_sk = r_reason_sk
      WHERE sr_item_sk IS NULL OR r_reason_sk <= 17
    )
    SELECT ss_customer_sk,
           ROUND(CAST(SUM(act_cents) AS DOUBLE) / 100, 2) AS sumsales
    FROM t
    GROUP BY ss_customer_sk
    ORDER BY sumsales, ss_customer_sk
    LIMIT 100
    """,
)
def tpcds_q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q93 shape: per-customer sales net of returns for one
    reason family — a fact-to-fact join.

    store_sales LEFT-joins store_returns on the composite natural key
    (item, ticket); at scale both facts shuffle-hash on that pair —
    the one legitimately wide join in the TPC-DS set here, kept to a
    single exchange per side with the tiny reason dim applied to the
    returns side. Unreturned lines keep full quantity; returned lines
    subtract the returned quantity. Money in exact cents.
    """
    ss = _t(spark, "store_sales").select(
        "ss_customer_sk", "ss_item_sk", "ss_ticket_number",
        "ss_quantity", "ss_sales_price",
    )
    sr = _t(spark, "store_returns").select(
        "sr_item_sk", "sr_ticket_number", "sr_reason_sk", "sr_return_quantity"
    )
    r = F.broadcast(_t(spark, "reason").select("r_reason_sk"))
    joined = (
        ss.join(
            sr,
            (ss.ss_item_sk == sr.sr_item_sk)
            & (ss.ss_ticket_number == sr.sr_ticket_number),
            "left",
        )
        .join(r, sr.sr_reason_sk == r.r_reason_sk, "left")
        .filter(F.col("sr_item_sk").isNull() | (F.col("r_reason_sk") <= 17))
    )
    price_cents = (F.col("ss_sales_price") * 100).cast("long")
    act = F.when(
        F.col("sr_return_quantity").isNotNull(),
        (F.col("ss_quantity") - F.col("sr_return_quantity")) * price_cents,
    ).otherwise(F.col("ss_quantity") * price_cents)
    return (
        joined.select("ss_customer_sk", act.alias("act_cents"))
        .groupBy("ss_customer_sk")
        .agg(F.round(F.sum("act_cents").cast("double") / 100, 2).alias("sumsales"))
        .orderBy("sumsales", "ss_customer_sk")
        .limit(100)
    )


@query(
    "tpcds_q96_evening_traffic",
    oracle=_with("store_sales", "household_demographics", "time_dim", "store")
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt
    FROM store_sales
    JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
    JOIN time_dim ON ss_sold_time_sk = t_time_sk
    JOIN store ON ss_store_sk = s_store_sk
    WHERE t_hour = 20 AND t_minute >= 30 AND hd_dep_count = 7
    """,
)
def tpcds_q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q96 shape: one COUNT(*) through three pruned broadcast
    dims — the minimal star probe the spec uses to measure pure join
    throughput. All selectivity lives in the dimension builds
    (half-hour slot, dependent count), so the fact scan is the only
    distributed work and no exchange survives except the final
    single-row reduce.
    """
    ss = _t(spark, "store_sales")
    hd = F.broadcast(
        _t(spark, "household_demographics")
        .filter(F.col("hd_dep_count") == 7)
        .select("hd_demo_sk")
    )
    td = F.broadcast(
        _t(spark, "time_dim")
        .filter((F.col("t_hour") == 20) & (F.col("t_minute") >= 30))
        .select("t_time_sk")
    )
    st = F.broadcast(_t(spark, "store").select("s_store_sk"))
    return (
        ss.join(hd, ss.ss_hdemo_sk == hd.hd_demo_sk)
        .join(td, ss.ss_sold_time_sk == td.t_time_sk)
        .join(st, ss.ss_store_sk == st.s_store_sk)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "tpcds_q19_brand_geo_mismatch",
    oracle=_with(
        "store_sales", "date_dim", "item", "customer", "customer_address", "store"
    )
    + """
    SELECT i_brand_id, i_brand, i_manufact_id, i_manufact,
           ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
    FROM store_sales
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
    JOIN item ON ss_item_sk = i_item_sk
    JOIN customer ON ss_customer_sk = c_customer_sk
    JOIN customer_address ON c_current_addr_sk = ca_address_sk
    JOIN store ON ss_store_sk = s_store_sk
    WHERE d_moy = 11 AND d_year = 1999 AND i_manager_id <= 500
      AND substring(ca_zip, 1, 5) <> substring(s_zip, 1, 5)
    GROUP BY i_brand_id, i_brand, i_manufact_id, i_manufact
    ORDER BY ext_price DESC, i_brand_id, i_manufact_id
    LIMIT 100
    """,
)
def tpcds_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q19 shape: brand revenue from customers shopping outside
    their home zip.

    The geography residual compares columns of two *different*
    dimensions (customer_address.ca_zip vs store.s_zip), so it can
    only evaluate after both broadcast joins — Catalyst keeps each
    dim's own filters pushed while the cross-dim predicate floats to
    the first point both sides exist. Fact scan remains the only
    distributed input.
    """
    ss = _t(spark, "store_sales")
    dd = F.broadcast(
        _t(spark, "date_dim")
        .filter((F.col("d_moy") == 11) & (F.col("d_year") == 1999))
        .select("d_date_sk")
    )
    it = F.broadcast(
        _t(spark, "item")
        .filter(F.col("i_manager_id") <= 500)
        .select("i_item_sk", "i_brand_id", "i_brand", "i_manufact_id", "i_manufact")
    )
    c = _t(spark, "customer").select("c_customer_sk", "c_current_addr_sk")
    ca = _t(spark, "customer_address").select("ca_address_sk", "ca_zip")
    st = F.broadcast(_t(spark, "store").select("s_store_sk", "s_zip"))
    return (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .join(c, ss.ss_customer_sk == c.c_customer_sk)
        .join(ca, c.c_current_addr_sk == ca.ca_address_sk)
        .join(st, ss.ss_store_sk == st.s_store_sk)
        .filter(F.substring("ca_zip", 1, 5) != F.substring("s_zip", 1, 5))
        .groupBy("i_brand_id", "i_brand", "i_manufact_id", "i_manufact")
        .agg(
            F.round(F.sum("ss_ext_sales_price").cast("double"), 2).alias(
                "ext_price"
            )
        )
        .orderBy(F.col("ext_price").desc(), "i_brand_id", "i_manufact_id")
        .limit(100)
    )


@query(
    "tpcds_q25_resale_chain",
    oracle=_with(
        "store_sales", "store_returns", "catalog_sales", "date_dim", "item"
    )
    + """
    SELECT i_item_id,
           ROUND(CAST(SUM(ss_net_profit)  AS DOUBLE), 2) AS store_profit,
           ROUND(CAST(SUM(sr_net_loss)    AS DOUBLE), 2) AS return_loss,
           ROUND(CAST(SUM(cs_net_profit)  AS DOUBLE), 2) AS catalog_profit
    FROM store_sales
    JOIN store_returns ON ss_item_sk = sr_item_sk
                      AND ss_ticket_number = sr_ticket_number
    JOIN catalog_sales ON sr_item_sk = cs_item_sk
                      AND sr_customer_sk = cs_bill_customer_sk
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
    JOIN item ON ss_item_sk = i_item_sk
    WHERE d_year = 2000
    GROUP BY i_item_id
    ORDER BY i_item_id
    LIMIT 100
    """,
)
def tpcds_q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q25 shape: sold → returned → re-bought-by-catalog chain
    across three facts.

    The only multi-fact join chain in the family: store_sales ⋈
    store_returns on the (item, ticket) natural key, then the
    returner's re-purchase via (item, customer) against catalog_sales.
    At scale each hop shuffles both sides on its own composite key —
    two wide exchanges, no broadcast possible, which is exactly the
    shape AQE's skew handling exists for. Dims stay broadcast.
    """
    ss = _t(spark, "store_sales").select(
        "ss_item_sk", "ss_ticket_number", "ss_sold_date_sk", "ss_net_profit"
    )
    sr = _t(spark, "store_returns").select(
        "sr_item_sk", "sr_ticket_number", "sr_customer_sk", "sr_net_loss"
    )
    cs = _t(spark, "catalog_sales").select(
        "cs_item_sk", "cs_bill_customer_sk", "cs_net_profit"
    )
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2000).select("d_date_sk")
    )
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_item_id"))
    # Date-first reorder (same shuffle-volume rule as q75/q78/q80):
    # the broadcast 1-year filter runs before BOTH composite-key fact
    # hops, so ~5/6 of store_sales rows never enter either wide
    # exchange. All joins here are inner, so the reorder is
    # value-neutral; Catalyst's cost-based reorder is off by default
    # and AQE never reorders, so the written order is the plan.
    return (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(
            sr,
            (ss.ss_item_sk == sr.sr_item_sk)
            & (ss.ss_ticket_number == sr.sr_ticket_number),
        )
        .join(
            cs,
            (sr.sr_item_sk == cs.cs_item_sk)
            & (sr.sr_customer_sk == cs.cs_bill_customer_sk),
        )
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .groupBy("i_item_id")
        .agg(
            F.round(F.sum("ss_net_profit").cast("double"), 2).alias("store_profit"),
            F.round(F.sum("sr_net_loss").cast("double"), 2).alias("return_loss"),
            F.round(F.sum("cs_net_profit").cast("double"), 2).alias("catalog_profit"),
        )
        .orderBy("i_item_id")
        .limit(100)
    )


@query(
    "tpcds_q65_below_average_items",
    oracle=_with("store_sales", "item", "store")
    + """
    , per_item AS (
      SELECT ss_store_sk, ss_item_sk,
             CAST(SUM(CAST(ss_sales_price * 100 AS BIGINT)) AS BIGINT) AS rev_cents
      FROM store_sales
      GROUP BY ss_store_sk, ss_item_sk
    ), w AS (
      SELECT *,
             SUM(rev_cents) OVER (PARTITION BY ss_store_sk) AS store_cents,
             COUNT(*) OVER (PARTITION BY ss_store_sk) AS n_items
      FROM per_item
    )
    SELECT s_store_sk AS store_sk, i_item_id,
           ROUND(CAST(rev_cents AS DOUBLE) / 100, 2) AS revenue
    FROM w
    JOIN store ON ss_store_sk = s_store_sk
    JOIN item ON ss_item_sk = i_item_sk
    WHERE rev_cents * n_items * 10 <= store_cents * 9
    ORDER BY store_sk, i_item_id
    LIMIT 100
    """,
)
def tpcds_q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q65 shape: items revenuing below 90% of their store's
    per-item average.

    Same decorrelation as Q1 — the spec's grouped subquery (per-store
    average over a re-aggregation of the same fact) becomes a window
    over the single grouped result, so the fact is scanned and
    aggregated exactly once. Threshold compares in integer cents with
    the division multiplied out (rev·n·10 ≤ total·9): exact at any
    scale, no FP boundary to disagree on.
    """
    from pyspark.sql.window import Window

    ss = _t(spark, "store_sales")
    per_item = ss.groupBy("ss_store_sk", "ss_item_sk").agg(
        F.sum((F.col("ss_sales_price") * 100).cast("long")).alias("rev_cents")
    )
    w = Window.partitionBy("ss_store_sk")
    st = F.broadcast(_t(spark, "store").select("s_store_sk"))
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_item_id"))
    return (
        per_item.withColumn("store_cents", F.sum("rev_cents").over(w))
        .withColumn("n_items", F.count(F.lit(1)).over(w))
        .filter(
            F.col("rev_cents") * F.col("n_items") * 10
            <= F.col("store_cents") * 9
        )
        .join(st, F.col("ss_store_sk") == st.s_store_sk)
        .join(it, F.col("ss_item_sk") == it.i_item_sk)
        .select(
            F.col("s_store_sk").alias("store_sk"),
            "i_item_id",
            F.round(F.col("rev_cents").cast("double") / 100, 2).alias("revenue"),
        )
        .orderBy("store_sk", "i_item_id")
        .limit(100)
    )


@query(
    "tpcds_q68_ticket_city_mismatch",
    oracle=_with(
        "store_sales", "date_dim", "store", "household_demographics",
        "customer_address", "customer",
    )
    + """
    , tickets AS (
      SELECT ss_ticket_number, ss_customer_sk, ss_addr_sk AS bought_addr_sk,
             CAST(SUM(CAST(ss_ext_sales_price * 100 AS BIGINT)) AS BIGINT)
               AS extsales_cents,
             CAST(SUM(CAST(ss_ext_list_price * 100 AS BIGINT)) AS BIGINT)
               AS extlist_cents,
             CAST(SUM(CAST(ss_ext_tax * 100 AS BIGINT)) AS BIGINT) AS exttax_cents
      FROM store_sales
      JOIN date_dim ON ss_sold_date_sk = d_date_sk
      JOIN store ON ss_store_sk = s_store_sk
      JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
      WHERE d_year = 1999 AND d_dom BETWEEN 1 AND 2
        AND (hd_dep_count = 5 OR hd_vehicle_count = 3)
      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk
    )
    SELECT c_last_name, c_first_name,
           bought.ca_city AS bought_city, ss_ticket_number,
           ROUND(CAST(extsales_cents AS DOUBLE) / 100, 2) AS extended_price,
           ROUND(CAST(extlist_cents AS DOUBLE) / 100, 2) AS list_price,
           ROUND(CAST(exttax_cents AS DOUBLE) / 100, 2) AS extended_tax
    FROM tickets
    JOIN customer ON ss_customer_sk = c_customer_sk
    JOIN customer_address bought ON bought_addr_sk = bought.ca_address_sk
    JOIN customer_address current ON c_current_addr_sk = current.ca_address_sk
    WHERE bought.ca_city IS DISTINCT FROM current.ca_city
    ORDER BY ss_ticket_number, c_last_name NULLS FIRST, c_first_name NULLS FIRST,
             bought_city NULLS FIRST, extended_price
    LIMIT 100
    """,
)
def tpcds_q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q68 shape: per-ticket totals for households shopping in a
    city other than where they live.

    The fact pre-aggregates to ticket grain *before* touching the
    customer side (the spec's inner GROUP BY) — at scale this collapses
    ~4 lines/ticket ahead of the wide work. customer_address joins
    twice under different roles (point-of-sale vs current residence);
    the mismatch uses null-safe inequality so the ~4% null FK rows
    resolve identically on both engines.
    """
    ss = _t(spark, "store_sales")
    dd = F.broadcast(
        _t(spark, "date_dim")
        .filter((F.col("d_year") == 1999) & (F.col("d_dom").between(1, 2)))
        .select("d_date_sk")
    )
    st = F.broadcast(_t(spark, "store").select("s_store_sk"))
    hd = F.broadcast(
        _t(spark, "household_demographics")
        .filter((F.col("hd_dep_count") == 5) | (F.col("hd_vehicle_count") == 3))
        .select("hd_demo_sk")
    )
    cents = lambda c: F.sum((F.col(c) * 100).cast("long"))  # noqa: E731
    tickets = (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(st, ss.ss_store_sk == st.s_store_sk)
        .join(hd, ss.ss_hdemo_sk == hd.hd_demo_sk)
        .groupBy(
            "ss_ticket_number",
            "ss_customer_sk",
            F.col("ss_addr_sk").alias("bought_addr_sk"),
        )
        .agg(
            cents("ss_ext_sales_price").alias("extsales_cents"),
            cents("ss_ext_list_price").alias("extlist_cents"),
            cents("ss_ext_tax").alias("exttax_cents"),
        )
    )
    c = (
        _t(spark, "customer").select(
            "c_customer_sk", "c_current_addr_sk", "c_first_name", "c_last_name"
        )
    )
    ca = _t(spark, "customer_address").select("ca_address_sk", "ca_city")
    bought = ca.alias("bought")
    current = ca.alias("current")
    dollars = lambda c_: F.round(F.col(c_).cast("double") / 100, 2)  # noqa: E731
    return (
        tickets.join(c, F.col("ss_customer_sk") == c.c_customer_sk)
        .join(bought, F.col("bought_addr_sk") == F.col("bought.ca_address_sk"))
        .join(current, F.col("c_current_addr_sk") == F.col("current.ca_address_sk"))
        .filter(
            ~F.col("bought.ca_city").eqNullSafe(F.col("current.ca_city"))
        )
        .select(
            "c_last_name",
            "c_first_name",
            F.col("bought.ca_city").alias("bought_city"),
            "ss_ticket_number",
            dollars("extsales_cents").alias("extended_price"),
            dollars("extlist_cents").alias("list_price"),
            dollars("exttax_cents").alias("extended_tax"),
        )
        .orderBy(
            "ss_ticket_number",
            F.col("c_last_name").asc_nulls_first(),
            F.col("c_first_name").asc_nulls_first(),
            F.col("bought_city").asc_nulls_first(),
            "extended_price",
        )
        .limit(100)
    )


@query(
    "tpcds_q98_class_revenue_ratio",
    oracle=_with("store_sales", "date_dim", "item")
    + """
    , per_item AS (
      SELECT i_item_id, i_item_desc, i_category, i_class,
             CAST(SUM(CAST(ss_ext_sales_price * 100 AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM store_sales
      JOIN date_dim ON ss_sold_date_sk = d_date_sk
      JOIN item ON ss_item_sk = i_item_sk
      WHERE d_year = 2000
        AND i_category IN ('Books', 'Home', 'Sports')
      GROUP BY i_item_id, i_item_desc, i_category, i_class
    )
    SELECT i_item_id, i_item_desc, i_category, i_class,
           ROUND(CAST(rev_cents AS DOUBLE) / 100, 2) AS itemrevenue,
    """
    + sql_trunc_digits(
        "CAST(rev_cents AS DOUBLE) * 100 / SUM(rev_cents) OVER (PARTITION BY i_class)",
        4,
    )
    + """ AS revenueratio
    FROM per_item
    ORDER BY i_category, i_class, i_item_id
    """,
)
def tpcds_q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q98 shape: item revenue as a share of its class total.

    The share denominator is a window SUM over the already-aggregated
    per-item rows — the aggregate feeds the window directly, no second
    scan or self-join. Cent sums keep the window total exact under any
    partitioning; the percentage divides once in double and truncates
    (both engines evaluate the identical IEEE expression).
    """
    from pyspark.sql.window import Window

    ss = _t(spark, "store_sales")
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2000).select("d_date_sk")
    )
    it = F.broadcast(
        _t(spark, "item")
        .filter(F.col("i_category").isin("Books", "Home", "Sports"))
        .select("i_item_sk", "i_item_id", "i_item_desc", "i_category", "i_class")
    )
    per_item = (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .groupBy("i_item_id", "i_item_desc", "i_category", "i_class")
        .agg(
            F.sum((F.col("ss_ext_sales_price") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    w = Window.partitionBy("i_class")
    ratio = trunc_digits(
        F.col("rev_cents").cast("double") * 100 / F.sum("rev_cents").over(w), 4
    )
    return per_item.select(
        "i_item_id",
        "i_item_desc",
        "i_category",
        "i_class",
        F.round(F.col("rev_cents").cast("double") / 100, 2).alias("itemrevenue"),
        ratio.alias("revenueratio"),
    ).orderBy("i_category", "i_class", "i_item_id")
