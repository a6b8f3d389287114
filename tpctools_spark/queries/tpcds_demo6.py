"""TPC-DS shapes, seventh tier: Q10 (EXISTS-gated demographic counts),
Q16/Q95 (order-level semi/anti self-joins), Q17/Q29 (tri-fact
sale→return→rebuy chains with per-cell statistics), Q32/Q92 (excess
discount vs per-item average), Q37/Q82 (inventory × price-band item
availability), Q72 (inventory shortfall against catalog demand).

New shapes over the earlier tiers: order-key EXISTS against a
different-attribute sibling line (Q16/Q95 — a grouped HAVING gate, a
semi join, and an anti/semi join on the same key, all co-partitioned),
the 1.3×-average correlated filter decorrelated to one aggregate +
one broadcast join (Q32/Q92), and the same-week fact×inventory
shortfall join (Q72). Determinism discipline as the whole family.
Oracle scheme as :mod:`tpcds_demo`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.queries.tpcds_demo import _t, _with
from tpctools_spark.registry import query


@query(
    "tpcds_q10_exists_demographics",
    oracle=_with(
        "customer", "customer_demographics", "store_sales",
        "web_sales", "catalog_sales", "date_dim"
    )
    + """
    SELECT cd_gender, cd_marital_status, cd_education_status,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN customer_demographics ON cd_demo_sk = c_current_cdemo_sk
    WHERE EXISTS (
        SELECT 1 FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
        WHERE ss_customer_sk = c_customer_sk AND d_year = 2001)
      AND (EXISTS (
        SELECT 1 FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
        WHERE ws_bill_customer_sk = c_customer_sk AND d_year = 2001)
        OR EXISTS (
        SELECT 1 FROM catalog_sales JOIN date_dim ON cs_sold_date_sk = d_date_sk
        WHERE cs_bill_customer_sk = c_customer_sk AND d_year = 2001))
    GROUP BY 1, 2, 3
    """,
)
def tpcds_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q10 shape: demographic profile counts of customers active
    in-store AND on at least one remote channel in the year.

    The EXISTS / OR-EXISTS composition: the mandatory store EXISTS is a
    left-semi join; the disjunction of the two remote EXISTS is the
    DISTINCT UNION of their customer keys fed to a second semi join
    (a disjunction of semi joins can't be chained directly — unioning
    the key sets first keeps both sides semi and co-partitioned). The
    demographic dim joins AFTER the gates, so only qualifying
    customers reach the wide row.
    """
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2001).select("d_date_sk")
    )
    ss_c = (
        _t(spark, "store_sales")
        .join(dd, F.col("ss_sold_date_sk") == F.col("d_date_sk"))
        .select(F.col("ss_customer_sk").alias("k"))
    )
    ws_c = (
        _t(spark, "web_sales")
        .join(dd, F.col("ws_sold_date_sk") == F.col("d_date_sk"))
        .select(F.col("ws_bill_customer_sk").alias("k"))
    )
    cs_c = (
        _t(spark, "catalog_sales")
        .join(dd, F.col("cs_sold_date_sk") == F.col("d_date_sk"))
        .select(F.col("cs_bill_customer_sk").alias("k"))
    )
    # r9 A/B NEGATIVE result: replacing these two semi joins with one
    # union+flag aggregation over tagged customer keys measured 1.7%
    # slower (7 interleaved sf1 reps, deltas mostly negative) — the
    # int-key semi joins are already the cheap form here, same lesson
    # as the q14 intersect. The two-gate shape stays.
    remote = ws_c.unionByName(cs_c).distinct()
    cust = _t(spark, "customer").select("c_customer_sk", "c_current_cdemo_sk")
    gated = (
        cust.join(ss_c, cust.c_customer_sk == ss_c.k, "left_semi")
        .join(remote, cust.c_customer_sk == remote.k, "left_semi")
    )
    cd = _t(spark, "customer_demographics").select(
        "cd_demo_sk", "cd_gender", "cd_marital_status", "cd_education_status"
    )
    return (
        gated.join(cd, gated.c_current_cdemo_sk == cd.cd_demo_sk)
        .groupBy("cd_gender", "cd_marital_status", "cd_education_status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _ship_orders_sql(fact: str, pfx: str, returns: str, rpfx: str,
                     want_return: bool) -> str:
    anti = "" if want_return else "NOT"
    return _with(fact, returns, "date_dim") + f"""
    , multi_mode AS (
      SELECT {pfx}_order_number AS o
      FROM {fact} GROUP BY 1
      HAVING COUNT(DISTINCT {pfx}_ship_mode_sk) >= 2
    )
    SELECT CAST(COUNT(DISTINCT {pfx}_order_number) AS BIGINT) AS order_count,
           CAST(SUM(CAST({pfx}_ext_ship_cost * 100 AS BIGINT)) AS BIGINT)
             AS ship_cost_cents,
           CAST(SUM(CAST({pfx}_net_profit * 100 AS BIGINT)) AS BIGINT)
             AS net_profit_cents
    FROM {fact}
    JOIN date_dim ON {pfx}_ship_date_sk = d_date_sk
    WHERE d_year = 2001
      AND {pfx}_order_number IN (SELECT o FROM multi_mode)
      AND {anti} EXISTS (SELECT 1 FROM {returns}
                         WHERE {rpfx}_order_number = {pfx}_order_number)
    """


def _ship_orders(spark: SparkSession, fact: str, pfx: str, returns: str,
                 rpfx: str, want_return: bool) -> DataFrame:
    f_ = _t(spark, fact)
    multi = (
        f_.groupBy(F.col(f"{pfx}_order_number").alias("o"))
        .agg(F.countDistinct(f"{pfx}_ship_mode_sk").alias("m"))
        .filter(F.col("m") >= 2)
        .select("o")
    )
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2001).select("d_date_sk")
    )
    r = _t(spark, returns).select(F.col(f"{rpfx}_order_number").alias("ro"))
    base = f_.join(dd, F.col(f"{pfx}_ship_date_sk") == F.col("d_date_sk")).join(
        multi, F.col(f"{pfx}_order_number") == multi.o, "left_semi"
    )
    base = base.join(
        r,
        F.col(f"{pfx}_order_number") == r.ro,
        "left_semi" if want_return else "left_anti",
    )
    return base.agg(
        F.countDistinct(f"{pfx}_order_number").cast("bigint").alias("order_count"),
        F.sum((F.col(f"{pfx}_ext_ship_cost") * 100).cast("bigint")).alias(
            "ship_cost_cents"
        ),
        F.sum((F.col(f"{pfx}_net_profit") * 100).cast("bigint")).alias(
            "net_profit_cents"
        ),
    )


@query(
    "tpcds_q16_catalog_multi_mode_no_return",
    oracle=_ship_orders_sql(
        "catalog_sales", "cs", "catalog_returns", "cr", want_return=False
    ),
)
def tpcds_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q16 shape: catalog orders shipped in-year through ≥2
    distinct ship modes that were never returned — order count plus
    exact shipping-cost and profit totals.

    The spec gates on "another line from a different warehouse"; the
    generator materializes a single warehouse, so the sibling-line
    diversity gate uses ship mode instead (documented adaptation —
    identical plan: grouped DISTINCT-count HAVING on the order key,
    then a semi join and an anti join both on that same key, so all
    three hops share one co-partitioned exchange). Totals are integer
    cents; the single output row is fully value-checked.
    """
    return _ship_orders(
        spark, "catalog_sales", "cs", "catalog_returns", "cr", want_return=False
    )


@query(
    "tpcds_q95_web_multi_mode_returned",
    oracle=_ship_orders_sql(
        "web_sales", "ws", "web_returns", "wr", want_return=True
    ),
)
def tpcds_q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q95 shape: Q16's dual on the web channel — multi-mode
    orders that WERE returned (EXISTS instead of NOT EXISTS).

    Same three co-partitioned hops on ws_order_number; the return gate
    flips from anti to semi join, which is the whole spec difference
    between the two queries' order pipelines.
    """
    return _ship_orders(
        spark, "web_sales", "ws", "web_returns", "wr", want_return=True
    )


def _chain(spark: SparkSession):
    """ss → sr (item, ticket) → cs (item, returning customer) with the
    three date legs kept live at generator density (sale year 2000;
    return/rebuy any fixture date — documented vs the spec's quarter
    gates, which empty out at the materialized scale)."""
    ss = _t(spark, "store_sales").select(
        "ss_item_sk", "ss_ticket_number", "ss_customer_sk",
        "ss_sold_date_sk", "ss_store_sk", "ss_quantity",
    )
    sr = _t(spark, "store_returns").select(
        "sr_item_sk", "sr_ticket_number", "sr_customer_sk", "sr_return_quantity"
    )
    cs = _t(spark, "catalog_sales").select(
        "cs_item_sk", "cs_bill_customer_sk", "cs_quantity"
    )
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2000).select("d_date_sk")
    )
    # Date-first reorder (same shuffle-volume rule as q75/q78/q80):
    # the broadcast 1-year filter runs before BOTH composite-key fact
    # hops, so ~5/6 of store_sales rows never enter either wide
    # exchange. Inner joins — value-neutral reorder.
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
    )


_CHAIN_SQL = """
      FROM store_sales
      JOIN store_returns ON ss_item_sk = sr_item_sk
                        AND ss_ticket_number = sr_ticket_number
      JOIN catalog_sales ON sr_item_sk = cs_item_sk
                        AND sr_customer_sk = cs_bill_customer_sk
      JOIN date_dim ON ss_sold_date_sk = d_date_sk
"""


@query(
    "tpcds_q17_chain_quantity_moments",
    oracle=_with(
        "store_sales", "store_returns", "catalog_sales", "date_dim", "item", "store"
    )
    + f"""
    SELECT i_item_id, s_state,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ss_quantity AS BIGINT)) AS BIGINT) AS s1_store,
           CAST(SUM(CAST(ss_quantity AS BIGINT)
                    * CAST(ss_quantity AS BIGINT)) AS BIGINT) AS s2_store,
           CAST(SUM(CAST(sr_return_quantity AS BIGINT)) AS BIGINT) AS s1_return,
           CAST(SUM(CAST(cs_quantity AS BIGINT)) AS BIGINT) AS s1_catalog
    {_CHAIN_SQL}
      JOIN item ON ss_item_sk = i_item_sk
      JOIN store ON ss_store_sk = s_store_sk
    WHERE d_year = 2000
    GROUP BY 1, 2
    """,
)
def tpcds_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q17 shape: per item × store-state quantity statistics
    along the sold→returned→re-bought-by-catalog chain.

    Q25's tri-fact chain carrying Q39's moment discipline: the spec's
    count/mean/stdev per cell are emitted as the exact integer moments
    (n, Σq, Σq²) — mean and stdev are arithmetic on these, and the
    integer triple is bit-stable across engines where FP stdev is not.
    Two composite-key shuffles (item×ticket, item×customer) do the
    wide work; item/store/date dims broadcast.
    """
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_item_id"))
    st = F.broadcast(_t(spark, "store").select("s_store_sk", "s_state"))
    q = F.col("ss_quantity").cast("bigint")
    return (
        _chain(spark)
        .join(it, F.col("ss_item_sk") == it.i_item_sk)
        .join(st, F.col("ss_store_sk") == st.s_store_sk)
        .groupBy("i_item_id", "s_state")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(q).alias("s1_store"),
            F.sum(q * q).alias("s2_store"),
            F.sum(F.col("sr_return_quantity").cast("bigint")).alias("s1_return"),
            F.sum(F.col("cs_quantity").cast("bigint")).alias("s1_catalog"),
        )
    )


@query(
    "tpcds_q29_chain_quantity_totals",
    oracle=_with(
        "store_sales", "store_returns", "catalog_sales", "date_dim", "item", "store"
    )
    + f"""
    SELECT i_item_id, s_store_id,
           CAST(SUM(CAST(ss_quantity AS BIGINT)) AS BIGINT) AS store_qty,
           CAST(SUM(CAST(sr_return_quantity AS BIGINT)) AS BIGINT) AS return_qty,
           CAST(SUM(CAST(cs_quantity AS BIGINT)) AS BIGINT) AS catalog_qty
    {_CHAIN_SQL}
      JOIN item ON ss_item_sk = i_item_sk
      JOIN store ON ss_store_sk = s_store_sk
    WHERE d_year = 2000
    GROUP BY 1, 2
    """,
)
def tpcds_q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q29 shape: total sold/returned/re-bought quantities per
    item × store along the same tri-fact chain as Q17.

    The spec pair Q17/Q29 share the chain and differ in the aggregate
    face (moments vs plain totals) and grouping (state vs store id) —
    kept as two registered queries so both result shapes are
    value-checked. Same two composite-key shuffles.
    """
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_item_id"))
    st = F.broadcast(_t(spark, "store").select("s_store_sk", "s_store_id"))
    return (
        _chain(spark)
        .join(it, F.col("ss_item_sk") == it.i_item_sk)
        .join(st, F.col("ss_store_sk") == st.s_store_sk)
        .groupBy("i_item_id", "s_store_id")
        .agg(
            F.sum(F.col("ss_quantity").cast("bigint")).alias("store_qty"),
            F.sum(F.col("sr_return_quantity").cast("bigint")).alias("return_qty"),
            F.sum(F.col("cs_quantity").cast("bigint")).alias("catalog_qty"),
        )
    )


def _excess_discount_sql(fact: str, pfx: str) -> str:
    return _with(fact, "date_dim") + f"""
    , per_item AS (
      SELECT {pfx}_item_sk AS item,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST({pfx}_ext_discount_amt * 100 AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM {fact} JOIN date_dim ON {pfx}_sold_date_sk = d_date_sk
      WHERE d_year = 2001
      GROUP BY 1
    )
    SELECT CAST(SUM(CAST({pfx}_ext_discount_amt * 100 AS BIGINT)) AS BIGINT)
             AS excess_discount_cents
    FROM {fact}
    JOIN date_dim ON {pfx}_sold_date_sk = d_date_sk
    JOIN per_item ON {pfx}_item_sk = per_item.item
    WHERE d_year = 2001
      AND CAST({pfx}_ext_discount_amt * 100 AS BIGINT) * n * 10 > sum_cents * 13
    """


def _excess_discount(spark: SparkSession, fact: str, pfx: str) -> DataFrame:
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2001).select("d_date_sk")
    )
    f_ = _t(spark, fact).join(dd, F.col(f"{pfx}_sold_date_sk") == F.col("d_date_sk"))
    cents = (F.col(f"{pfx}_ext_discount_amt") * 100).cast("bigint")
    per_item = (
        f_.groupBy(F.col(f"{pfx}_item_sk").alias("item"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).alias("sum_cents"),
        )
    )
    return (
        f_.join(F.broadcast(per_item), F.col(f"{pfx}_item_sk") == per_item.item)
        .filter(cents * F.col("n") * 10 > F.col("sum_cents") * 13)
        .agg(F.sum(cents).alias("excess_discount_cents"))
    )


@query(
    "tpcds_q32_catalog_excess_discount",
    oracle=_excess_discount_sql("catalog_sales", "cs"),
)
def tpcds_q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q32 shape: total catalog discount on lines discounted
    more than 1.3× their item's average discount for the year.

    The correlated scalar subquery (per-item AVG over the same fact)
    decorrelated into one aggregation + one broadcast join back onto
    the fact — the fact is scanned twice but shuffled only once (the
    per-item table is tiny and broadcasts). The 1.3× threshold is
    cross-multiplied into integers (amt·n·10 > Σ·13): no FP boundary,
    so the qualifying line set is identical on both engines.
    """
    return _excess_discount(spark, "catalog_sales", "cs")


@query(
    "tpcds_q92_web_excess_discount",
    oracle=_excess_discount_sql("web_sales", "ws"),
)
def tpcds_q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q92 shape: Q32's web-channel twin (same decorrelated
    1.3×-average plan over web_sales)."""
    return _excess_discount(spark, "web_sales", "ws")


def _inventory_band_sql(fact: str, item_col: str) -> str:
    return _with(fact, "inventory", "item", "date_dim") + f"""
    SELECT i_item_id, i_item_desc,
           ROUND(CAST(i_current_price AS DOUBLE), 2) AS price
    FROM item
    JOIN inventory ON inv_item_sk = i_item_sk
    JOIN date_dim ON inv_date_sk = d_date_sk
    JOIN {fact} ON {item_col} = i_item_sk
    WHERE i_current_price BETWEEN 1000 AND 7000
      AND inv_quantity_on_hand BETWEEN 100 AND 500
      AND d_year = 2001
    GROUP BY 1, 2, 3
    """


def _inventory_band(spark: SparkSession, fact: str, item_col: str) -> DataFrame:
    """Existence-probe shape shared by Q37/Q82: both the inventory leg
    and the sales leg only assert "∃ a qualifying row for this item",
    so each collapses to a DISTINCT item-key set (bounded by |item|,
    which scales sublinearly) BEFORE touching the other. Joining the
    raw legs first — the naive reading of the spec SQL — multiplies
    ~40 inventory rows × ~160 sales rows per item and then throws the
    product away in the final GROUP BY (measured 8.4 s → this shape
    ~1 s at sf1). Each fact scan is pruned by a broadcast semi-join on
    the price-band item keys, shuffles only its distinct surviving
    keys, and the final semi-joins run over item-bounded sets."""
    it = _t(spark, "item").filter(
        F.col("i_current_price").between(1000, 7000)
    ).select("i_item_sk", "i_item_id", "i_item_desc", "i_current_price")
    it_keys = it.select(F.col("i_item_sk").alias("k"))
    dd = F.broadcast(
        _t(spark, "date_dim").filter(F.col("d_year") == 2001).select("d_date_sk")
    )
    inv = _t(spark, "inventory").filter(
        F.col("inv_quantity_on_hand").between(100, 500)
    )
    inv_items = (
        inv.join(dd, inv.inv_date_sk == dd.d_date_sk)
        .join(F.broadcast(it_keys), F.col("inv_item_sk") == F.col("k"), "left_semi")
        .select(F.col("inv_item_sk").alias("inv_k"))
        .distinct()
    )
    sold_items = (
        _t(spark, fact)
        .join(F.broadcast(it_keys), F.col(item_col) == F.col("k"), "left_semi")
        .select(F.col(item_col).alias("sold_k"))
        .distinct()
    )
    return (
        it.join(inv_items, F.col("i_item_sk") == F.col("inv_k"), "left_semi")
        .join(sold_items, F.col("i_item_sk") == F.col("sold_k"), "left_semi")
        .select(
            "i_item_id", "i_item_desc",
            F.round(F.col("i_current_price").cast("double"), 2).alias("price"),
        )
        .distinct()
    )


@query(
    "tpcds_q37_catalog_inventory_band",
    oracle=_inventory_band_sql("catalog_sales", "cs_item_sk"),
)
def tpcds_q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q37 shape: catalog-sold items in a price band with
    mid-range inventory on hand during the year.

    Item (filtered, broadcast) ⋈ inventory (quantity band pushed to
    the scan) ⋈ dates ⋈ catalog_sales as an existence probe, distinct
    by item attributes. Price band 1000–7000 instead of the spec's
    20–50: the generator draws prices uniform on [0, 10000), so the
    spec band holds ~0 of the materialized items (documented
    adaptation; pushdown and plan identical). The sales join runs as
    a semi-style dedup via GROUP BY, so fact multiplicity never
    inflates the result.
    """
    return _inventory_band(spark, "catalog_sales", "cs_item_sk")


@query(
    "tpcds_q82_store_inventory_band",
    oracle=_inventory_band_sql("store_sales", "ss_item_sk"),
)
def tpcds_q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q82 shape: Q37's store-channel twin (store_sales as the
    existence probe over the same price/inventory bands)."""
    return _inventory_band(spark, "store_sales", "ss_item_sk")


@query(
    "tpcds_q72_inventory_shortfall",
    oracle=_with("catalog_sales", "inventory", "warehouse", "item", "date_dim", "promotion")
    + """
    , d1 AS (SELECT d_date_sk, d_week_seq FROM date_dim),
      d2 AS (SELECT d_date_sk, d_week_seq FROM date_dim)
    SELECT i_item_desc, w_warehouse_name, d1.d_week_seq,
           CAST(SUM(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS no_promo,
           CAST(SUM(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS promo,
           CAST(COUNT(*) AS BIGINT) AS total_cnt
    FROM catalog_sales
    JOIN inventory ON cs_item_sk = inv_item_sk
    JOIN warehouse ON inv_warehouse_sk = w_warehouse_sk
    JOIN item ON cs_item_sk = i_item_sk
    JOIN d1 ON cs_sold_date_sk = d1.d_date_sk
    JOIN d2 ON inv_date_sk = d2.d_date_sk AND d1.d_week_seq = d2.d_week_seq
    LEFT JOIN promotion ON cs_promo_sk = p_promo_sk
    WHERE inv_quantity_on_hand < cs_quantity
    GROUP BY 1, 2, 3
    """,
)
def tpcds_q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q72 shape: catalog demand lines whose same-week warehouse
    inventory could not cover the ordered quantity, split by promo.

    The inventory×sales date-logic join: facts meet on (item, week) —
    the week equality comes from each side's own date_dim leg — with
    the shortfall predicate (qoh < quantity) as a non-equi residual.
    Spark plans the equi part as a hash join on (item, week-via-date)
    and evaluates the residual post-match, never a nested loop. The
    promotion LEFT JOIN feeds the spec's promo/no-promo split
    (p_promo_sk null-ness), counted in one pass.
    """
    # A/B NEGATIVE (r10, interleaved min-of-5 at sf1): semi-reducing
    # the 8x-larger inventory side to demanded (item, week) keys before
    # the main join measured −18.7% (2.494 → 2.960 s), every rep
    # slower — the extra key-only shuffle + distinct costs more than
    # the 4-int-wide inventory rows it saves. The single two-sided
    # equi join below stays the shipped plan.
    dd = _t(spark, "date_dim").select("d_date_sk", "d_week_seq")
    d1 = F.broadcast(dd.select(F.col("d_date_sk").alias("d1_sk"),
                               F.col("d_week_seq").alias("week")))
    d2 = F.broadcast(dd.select(F.col("d_date_sk").alias("d2_sk"),
                               F.col("d_week_seq").alias("week2")))
    cs = _t(spark, "catalog_sales").select(
        "cs_item_sk", "cs_sold_date_sk", "cs_quantity", "cs_promo_sk"
    )
    inv = _t(spark, "inventory")
    w = F.broadcast(_t(spark, "warehouse").select("w_warehouse_sk", "w_warehouse_name"))
    it = F.broadcast(_t(spark, "item").select("i_item_sk", "i_item_desc"))
    promo = F.broadcast(_t(spark, "promotion").select("p_promo_sk"))
    # SHUFFLE_HASH hint on the cs-week side: the main join's stream
    # side is INVENTORY (~9x the rows of catalog_sales, growing faster
    # with sf), and the default SortMergeJoin's sort of it dominated q72
    # at sf10 (3.1x faster with the hint, identical output).
    # OOM if one shuffle partition's cs x week rows outgrow task memory (SHJ builds never spill).
    cs_week = cs.join(d1, cs.cs_sold_date_sk == d1.d1_sk).hint("shuffle_hash")
    joined = (
        cs_week
        .join(
            inv.join(d2, inv.inv_date_sk == d2.d2_sk),
            (cs.cs_item_sk == inv.inv_item_sk)
            & (F.col("week") == F.col("week2"))
            & (inv.inv_quantity_on_hand < cs.cs_quantity),
        )
        .join(promo, cs.cs_promo_sk == promo.p_promo_sk, "left")
    )
    # Second A/B NEGATIVE at this site (r10, min-of-7): pre-aggregating
    # on the narrow (item_sk, warehouse_sk, week) keys before attaching
    # the wide name strings measured −3.3% and not sign-stable — the
    # matched-row count is too close to the group count at this shape
    # for the narrow-key shuffle saving to beat the extra aggregate.
    return (
        joined.join(w, joined.inv_warehouse_sk == w.w_warehouse_sk)
        .join(it, joined.cs_item_sk == it.i_item_sk)
        .groupBy("i_item_desc", "w_warehouse_name", "week")
        .agg(
            F.sum(F.when(F.col("p_promo_sk").isNull(), 1).otherwise(0))
            .cast("bigint").alias("no_promo"),
            F.sum(F.when(F.col("p_promo_sk").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("promo"),
            F.count(F.lit(1)).cast("bigint").alias("total_cnt"),
        )
        .withColumnRenamed("week", "d_week_seq")
    )
