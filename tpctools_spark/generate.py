"""Deterministic partition-parallel TPC-H-style data generation.

Reference parity: ``tpctools generate`` spawns one OS process per
partition running the official ``dbgen`` binary with chunking flags
``-C <parts> -S <i>`` (``/root/reference/src/tpch.rs:35-132``). The
defining property of that contract is **partition invariance**: the
union of all chunks is the same dataset regardless of how many chunks
you ask for.

Spark-first re-expression: every table is ``spark.range(n, numPartitions=p)``
followed by pure column expressions of ``id`` (xxhash64-seeded picks,
pmod ranges, date arithmetic, decimal money). Because ``range`` splits
the id space deterministically and every column is a pure function of
``id``, the generated *row set* is bit-identical for any partition count
— the dbgen ``-C/-S`` contract, without the external binary, at
task-per-partition parallelism with zero shuffles.

Cross-table consistency without joins:

- every FK lands in its parent's key range by construction;
- ``orders.o_totalprice`` is the exact decimal sum of its lineitems'
  ``extendedprice·(1-discount)·(1+tax)`` because both tables evaluate
  the *same* per-(orderkey, linenumber) formulas — orders folds them
  with ``F.aggregate`` over ``sequence(1, n_lines)``, lineitem explodes
  the same sequence. No join, no shuffle, still consistent.

Schemas: reference-parity ``TPCH_REFERENCE`` (src/tpch.rs:140-241)
minus the ``ignore`` CSV artifact column (SURVEY.md §1.3 deviation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.schemas import MONEY, TPCH_REFERENCE

# TPC-H cardinality contract (rows per unit scale factor).
ROWS_PER_SF = {
    "supplier": 10_000,
    "part": 200_000,
    "customer": 150_000,
    "orders": 1_500_000,
    # partsupp = 4 × part; lineitem = 1..7 per order (expected 4).
}

# Public TPC-H spec constants (region/nation names, segments, priorities).
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, regionkey) — TPC-H spec order, nationkey = index
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIP_MODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
SHIP_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
CONTAINERS = ["SM CASE", "SM BOX", "MED BAG", "MED BOX", "LG CASE", "LG BOX",
              "JUMBO PKG", "WRAP JAR"]
P_TYPES = ["STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "MEDIUM BURNISHED BRASS",
           "ECONOMY POLISHED STEEL", "PROMO BRUSHED NICKEL", "LARGE ANODIZED STEEL",
           "STANDARD BURNISHED COPPER", "PROMO PLATED TIN"]
P_NAME_WORDS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
                "black", "blanched", "blue", "blush", "brown", "burlywood",
                "burnished", "chartreuse", "chiffon", "chocolate", "coral",
                "cornflower", "cream", "cyan", "dark", "deep", "dim", "dodger",
                "drab", "firebrick", "floral", "forest", "frosted", "gainsboro",
                "ghost", "goldenrod", "green", "grey", "honeydew", "hot",
                "indian", "ivory", "khaki", "lace"]
COMMENT_WORDS = ["carefully", "quickly", "furiously", "slyly", "blithely",
                 "ironic", "final", "pending", "regular", "express", "bold",
                 "even", "special", "silent", "daring", "requests", "deposits",
                 "packages", "accounts", "instructions", "theodolites", "pinto",
                 "beans", "foxes", "ideas", "platelets", "asymptotes", "sleep",
                 "wake", "nag", "haggle", "cajole", "integrate", "detect",
                 "across", "above", "against", "along", "the", "never"]

def _id() -> Column:
    return F.col("id")


def _h(seed: int, *cols: Column) -> Column:
    """Seeded 64-bit hash — the one PRNG primitive (deterministic)."""
    return F.xxhash64(F.lit(seed), *cols)


def _u(seed: int, n: int, *cols: Column) -> Column:
    """Uniform integer in [0, n) as a pure function of (seed, cols)."""
    return F.pmod(_h(seed, *cols), F.lit(n))


def _uh(h: Column, shift: int, n: int) -> Column:
    """Uniform in [0, n) from a bit-slice of ONE 64-bit hash.

    xxhash64 is the dominant per-cell cost of generation, so each hash
    feeds several fields via different slice offsets (shiftrightunsigned
    keeps slices non-negative). Measured ~2-3x generation throughput vs
    one hash per field at identical value domains.
    """
    s = F.shiftrightunsigned(h, shift) if shift else h
    return F.pmod(s, F.lit(n))


def _pick_h(h: Column, shift: int, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.element_at(arr, (_uh(h, shift, len(words)) + 1).cast("int"))


def _money(seed: int, lo_cents: int, hi_cents: int, *cols: Column) -> Column:
    cents = F.lit(lo_cents) + _u(seed, hi_cents - lo_cents + 1, *cols)
    return (cents.cast("decimal(13,0)") / 100).cast(MONEY)


def _comment(seed: int, n_words: int, *cols: Column) -> Column:
    """n_words filler words from 1-2 hashes (10-bit slices, 6 per hash)."""
    hs = [_h(seed + 1000 * b, *cols) for b in range((n_words + 5) // 6)]
    words = [
        _pick_h(hs[i // 6], 10 * (i % 6), COMMENT_WORDS) for i in range(n_words)
    ]
    return F.concat_ws(" ", *words)


def _phone(seed: int, nationkey: Column) -> Column:
    h = _h(seed, nationkey, _id())
    return F.concat(
        (nationkey + 10).cast("string"), F.lit("-"),
        F.lpad(_uh(h, 0, 900).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(_uh(h, 20, 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad(_uh(h, 40, 10000).cast("string"), 4, "0"),
    )


def _pad_key(prefix: str, key: Column) -> Column:
    return F.concat(F.lit(prefix), F.lpad(key.cast("string"), 9, "0"))


START_DATE = "1992-01-01"  # TPC-H date domain start
N_ORDER_DATES = 2406 - 151  # orderdate ∈ [1992-01-01, 1998-08-02] (spec)


# --- shared per-(orderkey, linenumber) line formulas; used by BOTH
# lineitem (exploded) and orders (summed into o_totalprice). All four
# numeric fields slice ONE hash (subexpression elimination collapses the
# repeated xxhash64 inside whole-stage codegen).
def _line_h(o: Column, j: Column) -> Column:
    return _h(9, o, j)


def _line_qty(o: Column, j: Column) -> Column:
    return (_uh(_line_h(o, j), 0, 50) + 1).cast("decimal(13,0)").cast(MONEY)


def _line_price(o: Column, j: Column) -> Column:
    """extendedprice = quantity × unit retail price (900.00–2000.99)."""
    unit_cents = F.lit(90_000) + _uh(_line_h(o, j), 8, 110_100)
    return (_line_qty(o, j) * (unit_cents.cast("decimal(13,0)") / 100)).cast(
        "decimal(15,2)"
    )


def _line_discount(o: Column, j: Column) -> Column:
    return (_uh(_line_h(o, j), 34, 11).cast("decimal(13,0)") / 100).cast("decimal(4,2)")


def _line_tax(o: Column, j: Column) -> Column:
    return (_uh(_line_h(o, j), 46, 9).cast("decimal(13,0)") / 100).cast("decimal(4,2)")


def _n_lines(o: Column) -> Column:
    return (_u(10, 7, o) + 1).cast("int")


def _order_date(o: Column) -> Column:
    return F.date_add(F.to_date(F.lit(START_DATE)), _u(15, N_ORDER_DATES, o).cast("int"))


def _range(spark: SparkSession, n: int, partitions: int) -> DataFrame:
    return spark.range(0, n, numPartitions=max(1, min(partitions, n)))


def build_table(
    spark: SparkSession, name: str, scale: float, partitions: int
) -> DataFrame:
    """One TPC-H-style table as a lazy DataFrame (no shuffle anywhere)."""
    n_supp = max(1, int(ROWS_PER_SF["supplier"] * scale))
    n_part = max(1, int(ROWS_PER_SF["part"] * scale))
    n_cust = max(1, int(ROWS_PER_SF["customer"] * scale))
    n_ord = max(1, int(ROWS_PER_SF["orders"] * scale))

    if name == "region":
        df = _range(spark, len(REGIONS), 1)
        return df.select(
            _id().alias("r_regionkey"),
            F.element_at(
                F.array(*[F.lit(r) for r in REGIONS]), (_id() + 1).cast("int")
            ).alias("r_name"),
            _comment(20, 6, _id()).alias("r_comment"),
        )

    if name == "nation":
        df = _range(spark, len(NATIONS), 1)
        names = F.array(*[F.lit(n) for n, _ in NATIONS])
        rkeys = F.array(*[F.lit(r) for _, r in NATIONS])
        return df.select(
            _id().alias("n_nationkey"),
            F.element_at(names, (_id() + 1).cast("int")).alias("n_name"),
            F.element_at(rkeys, (_id() + 1).cast("int")).cast("long").alias("n_regionkey"),
            _comment(21, 8, _id()).alias("n_comment"),
        )

    if name == "supplier":
        df = _range(spark, n_supp, partitions)
        key = _id() + 1
        nation = _u(30, len(NATIONS), key)
        ah = _h(31, key)
        return df.select(
            key.alias("s_suppkey"),
            _pad_key("Supplier#", key).alias("s_name"),
            F.concat(_pick_h(ah, 0, COMMENT_WORDS), F.lit(" st "),
                     _uh(ah, 16, 1000).cast("string")).alias("s_address"),
            nation.alias("s_nationkey"),
            _phone(33, nation).alias("s_phone"),
            _money(34, -99_999, 999_999, key).alias("s_acctbal"),
            _comment(35, 10, key).alias("s_comment"),
        )

    if name == "part":
        df = _range(spark, n_part, partitions)
        key = _id() + 1
        nh = _h(40, key)
        th = _h(47, key)
        return df.select(
            key.alias("p_partkey"),
            F.concat_ws(
                " ", *[_pick_h(nh, 12 * i, P_NAME_WORDS) for i in range(5)]
            ).alias("p_name"),
            F.concat(F.lit("Manufacturer#"),
                     (_uh(th, 0, 5) + 1).cast("string")).alias("p_mfgr"),
            F.concat(F.lit("Brand#"), (_uh(th, 0, 5) + 1).cast("string"),
                     (_uh(th, 8, 5) + 1).cast("string")).alias("p_brand"),
            _pick_h(th, 16, P_TYPES).alias("p_type"),
            (_uh(th, 28, 50) + 1).cast("int").alias("p_size"),
            _pick_h(th, 40, CONTAINERS).alias("p_container"),
            _money(50, 90_000, 200_099, key).alias("p_retailprice"),
            _comment(51, 5, key).alias("p_comment"),
        )

    if name == "partsupp":
        # 4 suppliers per part; supplier chosen by a spec-style stride so
        # every supplier serves ~4·n_part/n_supp parts.
        df = _range(spark, n_part * 4, partitions)
        partkey = (_id() / 4).cast("long") + 1
        j = F.pmod(_id(), F.lit(4))
        suppkey = F.pmod(
            partkey + j * ((n_supp // 4) + 1) + _u(60, 7, partkey, j), F.lit(n_supp)
        ) + 1
        psh = _h(61, partkey, j)
        return df.select(
            partkey.alias("ps_partkey"),
            suppkey.alias("ps_suppkey"),
            (_uh(psh, 0, 9999) + 1).cast("int").alias("ps_availqty"),
            ((F.lit(100) + _uh(psh, 16, 99_901)).cast("decimal(13,0)") / 100)
            .cast(MONEY)
            .alias("ps_supplycost"),
            _comment(63, 12, partkey, j).alias("ps_comment"),
        )

    if name == "customer":
        df = _range(spark, n_cust, partitions)
        key = _id() + 1
        nation = _u(70, len(NATIONS), key)
        ah = _h(71, key)
        return df.select(
            key.alias("c_custkey"),
            _pad_key("Customer#", key).alias("c_name"),
            F.concat(_pick_h(ah, 0, COMMENT_WORDS), F.lit(" ave "),
                     _uh(ah, 16, 1000).cast("string")).alias("c_address"),
            nation.alias("c_nationkey"),
            _phone(73, nation).alias("c_phone"),
            _money(74, -99_999, 999_999, key).alias("c_acctbal"),
            _pick_h(ah, 32, SEGMENTS).alias("c_mktsegment"),
            _comment(76, 12, key).alias("c_comment"),
        )

    if name == "orders":
        df = _range(spark, n_ord, partitions)
        key = _id() + 1
        odate = _order_date(key)
        # o_totalprice: unrolled 7-term guarded sum, folded in integer
        # cents (BIGINT) rather than decimals — ~1.6× faster end-to-end
        # because each term is 3 long multiplies instead of 3 BigDecimal
        # multiplies + guarded casts. Exactly equal to the lineitem-side
        # decimal sum (test_orders_totalprice_equals_lineitem_sum): a
        # line total is price·(1-disc)·(1+tax) = qty·unit_cents·
        # (100-disc)·(100+tax) micro-dollars (all non-negative ints),
        # and the decimal(17,2) cast's HALF_UP rounding to cents is
        # floor((v6 + 5000) / 10⁴). Max v6 ≈ 50·200100·110·108 < 2⁴⁷,
        # so the fold never overflows a long.
        nl = _n_lines(key)
        total_c = F.lit(0).cast("bigint")
        for jj in range(1, 8):
            h = _line_h(key, F.lit(jj))
            qty = _uh(h, 0, 50) + 1
            unit_cents = F.lit(90_000) + _uh(h, 8, 110_100)
            disc = _uh(h, 34, 11)
            tax = _uh(h, 46, 9)
            v6 = qty * unit_cents * (100 - disc) * (100 + tax)
            cents = F.floor((v6 + 5000) / 10000).cast("bigint")
            total_c = total_c + F.when(F.lit(jj) <= nl, cents).otherwise(F.lit(0))
        total = (total_c.cast("decimal(17,2)") / 100).cast("decimal(17,2)")
        oh = _h(81, key)
        return df.select(
            key.alias("o_orderkey"),
            (_u(80, n_cust, key) + 1).alias("o_custkey"),
            F.when(odate < F.lit("1995-06-17"), F.lit("F"))
            .otherwise(F.lit("O")).alias("o_orderstatus"),
            total.cast(MONEY).alias("o_totalprice"),
            odate.alias("o_orderdate"),
            _pick_h(oh, 0, PRIORITIES).alias("o_orderpriority"),
            _pad_key("Clerk#", _uh(oh, 16, max(1, n_ord // 1000)) + 1).alias("o_clerk"),
            F.lit(0).alias("o_shippriority"),
            _comment(83, 10, key).alias("o_comment"),
        )

    if name == "lineitem":
        df = _range(spark, n_ord, partitions)
        o = _id() + 1
        df = df.select(
            o.alias("o"), _order_date(o).alias("odate"),
            F.explode(F.sequence(F.lit(1), _n_lines(o))).alias("j"),
        )
        o, j, odate = F.col("o"), F.col("j"), F.col("odate")
        dh = _h(16, o, j)
        ship = F.date_add(odate, (_uh(dh, 0, 121) + 1).cast("int"))
        receipt = F.date_add(ship, (_uh(dh, 14, 30) + 1).cast("int"))
        # dbgen's referential contract: every (l_partkey, l_suppkey) pair
        # exists in partsupp. Pick one of the part's 4 partsupp slots and
        # reproduce that row's supplier formula (same seed 60) exactly.
        ph = _h(18, o, j)
        lpart = _uh(ph, 0, n_part) + 1
        slot = _uh(ph, 60, 4)
        lsupp = (
            F.pmod(
                lpart + slot * ((n_supp // 4) + 1) + _u(60, 7, lpart, slot),
                F.lit(n_supp),
            )
            + 1
        )
        mh = _h(27, o, j)
        return df.select(
            o.alias("l_orderkey"),
            lpart.alias("l_partkey"),
            lsupp.alias("l_suppkey"),
            j.cast("int").alias("l_linenumber"),
            _line_qty(o, j).cast(MONEY).alias("l_quantity"),
            _line_price(o, j).cast(MONEY).alias("l_extendedprice"),
            _line_discount(o, j).cast(MONEY).alias("l_discount"),
            _line_tax(o, j).cast(MONEY).alias("l_tax"),
            F.when(receipt < F.lit("1995-06-17"),
                   F.when(_uh(dh, 40, 2) == 0, "R").otherwise("A"))
            .otherwise(F.lit("N")).alias("l_returnflag"),
            F.when(ship < F.lit("1995-06-17"), "F").otherwise("O").alias("l_linestatus"),
            ship.alias("l_shipdate"),
            F.date_add(odate, (_uh(dh, 22, 92) + 1).cast("int")).alias("l_commitdate"),
            receipt.alias("l_receiptdate"),
            _pick_h(mh, 0, SHIP_INSTRUCT).alias("l_shipinstruct"),
            _pick_h(mh, 8, SHIP_MODES).alias("l_shipmode"),
            _comment(29, 6, o, j).alias("l_comment"),
        )

    raise ValueError(f"unknown table {name!r}; expected one of {list(TPCH_REFERENCE)}")
