"""§2.B.7 — scalar function families.

Every expression here stays inside whole-stage codegen (JVM built-ins,
no Python UDFs) — at 100 TB these run at scan speed fused into the
surrounding operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.queries._util import money, rate, session_conf, trunc_digits
from tpctools_spark.registry import query


@query(
    "scalar_string",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substring(p_name, 1, 5) AS name_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           CASE WHEN p_name LIKE '%widget%' THEN 1 ELSE 0 END AS is_widget,
           replace(p_type, 'PROMO', 'PROMOTION') AS type_full
    FROM part
    """,
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/substring/length/concat/regexp/like/replace."""
    return table(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.when(F.col("p_name").like("%widget%"), 1).otherwise(0).alias("is_widget"),
        F.replace(F.col("p_type"), F.lit("PROMO"), F.lit("PROMOTION")).alias(
            "type_full"
        ),
    )


@query(
    "scalar_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS order_day,
           strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_ref,
           strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS order_month_start
    FROM orders
    """,
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: year/month/day, date_add, datediff, date_trunc.

    Temporal outputs are formatted to strings on both sides so the
    value-hash cannot diverge on timestamp/timezone rendering.
    """
    od = F.col("o_orderdate").cast("date")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(od).cast("bigint").alias("order_year"),
        F.month(od).cast("bigint").alias("order_month"),
        F.dayofmonth(od).cast("bigint").alias("order_day"),
        F.date_format(F.date_add(od, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), od)
        .cast("bigint")
        .alias("days_to_ref"),
        F.date_format(F.trunc(od, "month"), "yyyy-MM-dd").alias("order_month_start"),
    )


@query(
    "scalar_math_decimal",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(floor(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) * 100) AS DOUBLE) / 100 AS charge,
           CAST(floor(l_extendedprice / l_quantity * 100) AS DOUBLE) / 100 AS unit_price,
           CAST(abs(l_quantity - 25) AS BIGINT) AS qty_dist,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_bucket
    FROM lineitem
    WHERE l_quantity > 0
    """,
)
def scalar_math_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic family incl. the TPC-H Q1 charge expression in exact
    decimal (reference money type: Decimal128(11,2), src/tpch.rs:209-212).

    Per-row division (unit_price) is a single deterministic double op —
    identical in both engines; only reassociated sums need decimal.
    """
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    charge = (
        money(F.col("l_extendedprice"))
        * (F.lit(1) - rate(F.col("l_discount")))
        * (F.lit(1) + rate(F.col("l_tax")))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        trunc_digits(charge.cast("double"), 2).alias("charge"),
        trunc_digits(F.col("l_extendedprice") / F.col("l_quantity"), 2).alias(
            "unit_price"
        ),
        F.abs(F.col("l_quantity") - 25).cast("bigint").alias("qty_dist"),
        F.floor(F.col("l_extendedprice") / 1000).cast("bigint").alias("price_bucket"),
    )


@query(
    "scalar_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           CASE o_orderstatus WHEN 'F' THEN 'finished'
                              WHEN 'O' THEN 'open'
                              ELSE 'other' END AS status_name,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def scalar_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expressions (TPC-H Q8/Q12/Q14 CASE pattern)."""
    o = table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
    )
    status = (
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
    )
    return (
        o.select(band.alias("price_band"), status.alias("status_name"))
        .groupBy("price_band", "status_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "scalar_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the ``events.props`` string column."""
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        table(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "scalar_array",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
           (0.0 + CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000) AS DOUBLE)
              / 10000) AS first_component
    FROM embeddings
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: size, lambda filter, element access on embeddings.

    Higher-order functions (``filter``) run inside codegen — this is the
    JVM-side way to process array columns without exploding rows.

    ``first_component`` is a full-precision double, so it is emitted
    through ``trunc_digits`` (floor truncation), not ROUND — ROUND on
    arbitrary doubles diverges between engines near decimal halfway
    points and on the −0.0 bit pattern. Caught by the sf0.1 sweep
    (round 10): 10k vectors hit the first sub-10⁻⁴-magnitude negative
    component, which DuckDB rounds to −0.0 and Spark to +0.0; sf0.01's
    1k vectors never sampled one.
    """
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0))
        .cast("bigint")
        .alias("n_positive"),
        trunc_digits(F.element_at("embedding", 1).cast("double"), 4).alias(
            "first_component"
        ),
    )


@query(
    "scalar_array_explode",
    oracle="""
    SELECT label,
           COUNT(*) AS n_components,
           CAST(floor(CAST(SUM(CAST(component AS DECIMAL(20,10))) AS DOUBLE) * 10000) AS DOUBLE) / 10000 AS sum_components
    FROM (SELECT label, UNNEST(embedding) AS component FROM embeddings)
    GROUP BY label
    """,
)
def scalar_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/UNNEST: flatten vectors then aggregate per label.

    The per-component decimal cast makes the re-aggregated float sum
    order-independent (same trick as the money columns).
    """
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.explode("embedding").alias("component"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            trunc_digits(
                F.sum(F.col("component").cast("decimal(20,10)")).cast("double"), 4
            ).alias("sum_components"),
        )
    )


@query(
    "scalar_map",
    oracle="""
    SELECT event_id,
           '{"type":"' || event_type || '","user":"' || CAST(user_id AS VARCHAR) || '"}'
               AS props_json,
           event_type AS type_from_map,
           'type,user' AS keys_csv
    FROM events
    """,
)
def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construct + lookup: build a map per row, read keys back.

    Nested (map/array) cells are not hashable by the correctness driver,
    so the map is serialized with ``to_json`` and the key list with
    ``array_join`` — the oracle reconstructs the identical JSON string.
    Spark's ``create_map`` preserves the literal key insertion order,
    making the serialization deterministic.
    """
    e = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("user"), F.col("user_id").cast("string")
    )
    return e.select(
        "event_id",
        F.to_json(m).alias("props_json"),
        F.element_at(m, F.lit("type")).alias("type_from_map"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
    )


@query(
    "scalar_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 4095 AS key_and,
           o_orderkey | 4096 AS key_or,
           xor(o_orderkey, o_custkey) AS key_xor,
           (o_orderkey % 16) << 4 AS key_shl,
           o_orderkey >> 8 AS key_shr,
           CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS INTEGER) AS key_bits
    FROM orders
    """,
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface: AND/OR/XOR, shifts, popcount.

    The bit-twiddling toolkit behind bucket assignment, bloom probes,
    and bitmap indexes — all codegen'd JVM expressions, exact integer
    semantics in both engines (``>>`` is arithmetic shift in both;
    operands stay non-negative here so sign never diverges).
    """
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(4095)).alias("key_and"),
        k.bitwiseOR(F.lit(4096)).alias("key_or"),
        k.bitwiseXOR(F.col("o_custkey")).alias("key_xor"),
        F.shiftleft((k % 16).cast("int"), 4).cast("bigint").alias("key_shl"),
        F.shiftright(k, 8).alias("key_shr"),
        F.bit_count(k).alias("key_bits"),
    )


@query(
    "scalar_url_parse",
    oracle="""
    WITH urls AS (
      SELECT doc_id, lang, source,
             'https://' || source || '.example.com/' || lang || '/doc-'
               || doc_id || '?id=' || (doc_id % 7)
               || '&utm_source=feed#s-' || (doc_id % 3) AS url
      FROM documents
    )
    SELECT regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]id=([^&#]*)', 1) AS qid,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM urls
    GROUP BY 1, 2, 3
    """,
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition: host / path / query-param extraction, grouped
    by (host, path, param) — the first step of any web-corpus pipeline
    (domain-level stats, per-site quota, crawl dedup).

    Uses Spark's codegen'd ``parse_url`` (the Hive-compatible URL
    parser) — no Python in the row path. The URLs are constructed
    deterministically from fixture columns so the oracle sees byte-
    identical inputs; DuckDB lacks parse_url, so its twin decomposes
    with the equivalent anchored regexes.
    """
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc-"), F.col("doc_id").cast("string"),
        F.lit("?id="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_source=feed#s-"), (F.col("doc_id") % 3).cast("string"),
    )
    return (
        d.select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY"), F.lit("id")).alias("qid"),
        )
        .groupBy("host", "path", "qid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@query(
    "scalar_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN (o_orderkey - 7) % 50 = 0 THEN NULL
                ELSE o_totalprice / ((o_orderkey - 7) % 50) END AS safe_ratio,
           TRY_CAST(CASE WHEN o_orderkey % 11 = 0 THEN 'oops'
                         ELSE CAST(o_custkey AS VARCHAR) END AS BIGINT)
             AS parsed_key,
           CASE WHEN o_orderkey % 2 = 0
                THEN NULL
                ELSE o_orderkey * 2 END AS guarded_double
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant scalar surface: ``try_divide`` / ``try_cast`` /
    ``try_multiply`` — NULL instead of a job-killing exception under
    ANSI mode. The posture dirty-data pipelines need: Spark 4 ships
    ANSI on by default, where a single divide-by-zero or bad cast in
    100 TB aborts the stage unless the try_* family absorbs it.

    Division by a planted zero, a planted unparseable key, and a
    guarded multiply (NULL branch exercises try semantics without
    overflow non-determinism). All codegen'd; the oracle mirrors with
    CASE/TRY_CAST — NULLs land in identical rows.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") - 7) % 50
        ).alias("safe_ratio"),
        F.try_to_number(
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("oops")).otherwise(
                F.col("o_custkey").cast("string")
            ),
            F.lit("999999999999"),
        ).cast("bigint").alias("parsed_key"),
        F.when(
            F.col("o_orderkey") % 2 != 0,
            F.try_multiply(F.col("o_orderkey"), F.lit(2)),
        ).alias("guarded_double"),
    )


@query(
    "scalar_variant_json",
    oracle="""
    WITH built AS (
      SELECT doc_id,
             '{"meta": {"lang": "' || lang || '", "src": "' || source
               || '"}, "chars": ' || n_chars
               || ', "tags": [' || (doc_id % 3) || ', ' || (doc_id % 7) || ']}'
               AS js
      FROM documents
    )
    SELECT json_extract_string(js, '$.meta.lang') AS lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(json_extract(js, '$.chars') AS BIGINT)) AS BIGINT)
             AS total_chars,
           CAST(SUM(CAST(json_extract(js, '$.tags[1]') AS BIGINT)) AS BIGINT)
             AS tag_sum
    FROM built
    GROUP BY 1
    """,
)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data via the VARIANT type (Spark 4):
    ``parse_json`` once into a binary variant column, then typed
    ``variant_get`` path extraction — the engine's answer to JSON
    columns at scale (parse once, extract many, ~order-of-magnitude
    over re-parsing strings per access, and the parquet writer can
    shred variants into columns).

    JSON is constructed deterministically from fixture columns (nested
    object + array), so DuckDB's string-JSON twin sees identical
    documents; all extraction is codegen'd, zero Python.
    """
    d = table(spark, sf_dir, "documents")
    js = F.concat(
        F.lit('{"meta": {"lang": "'), F.col("lang"),
        F.lit('", "src": "'), F.col("source"),
        F.lit('"}, "chars": '), F.col("n_chars").cast("string"),
        F.lit(', "tags": ['), (F.col("doc_id") % 3).cast("string"),
        F.lit(", "), (F.col("doc_id") % 7).cast("string"), F.lit("]}"),
    )
    v = d.select(F.parse_json(js).alias("v"))
    return (
        v.select(
            F.expr("variant_get(v, '$.meta.lang', 'string')").alias("lang"),
            F.expr("variant_get(v, '$.chars', 'bigint')").alias("chars"),
            F.expr("variant_get(v, '$.tags[1]', 'bigint')").alias("tag1"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").alias("total_chars"),
            F.sum("tag1").alias("tag_sum"),
        )
    )


@query(
    "scalar_collation_group",
    oracle="""
    WITH cased AS (
      SELECT CASE doc_id % 3
               WHEN 0 THEN upper(source)
               WHEN 1 THEN upper(substr(source, 1, 1)) || substr(source, 2)
               ELSE source END AS s
      FROM documents
    )
    SELECT lower(s) AS source_ci,
           COUNT(*) AS n_docs,
           MIN(s) AS first_variant,
           COUNT(DISTINCT s) AS n_case_variants
    FROM cased
    GROUP BY lower(s)
    """,
)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): case variants of
    the same source name collapse into one group under UTF8_LCASE —
    engine-level case-insensitive semantics instead of scattering
    lower() through every predicate and join (and unlike lower(), a
    collation also drives comparisons, sorts, and join keys through
    the same rule set).

    Case noise is planted deterministically; the emitted group key is
    normalized (the collated group's representative is first-seen and
    partition-dependent, so it must never be output raw — min() over
    the variants is the deterministic witness). For ASCII data
    UTF8_LCASE folding coincides with lower(), which is what lets
    DuckDB mirror the grouping exactly.
    """
    d = table(spark, sf_dir, "documents")
    s = (
        F.when(F.col("doc_id") % 3 == 0, F.upper("source"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.upper(F.substring("source", 1, 1)), F.expr("substr(source, 2)")
            ),
        )
        .otherwise(F.col("source"))
    )
    cased = d.select(s.alias("s"))
    return (
        cased.groupBy(F.expr("collate(s, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("min(collate(s, 'UTF8_BINARY'))").alias("first_variant"),
            F.countDistinct(F.expr("collate(s, 'UTF8_BINARY')")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("k").cast("string")).alias("source_ci"),
            "n_docs",
            "first_variant",
            "n_case_variants",
        )
    )


@query(
    "scalar_interval_arith",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH,
                    '%Y-%m-%d') AS next_month,
           strftime(last_day(CAST(o_orderdate AS DATE)),
                    '%Y-%m-%d') AS month_end,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr,
           CAST(week(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
           CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_dow,
           CAST(date_diff('month', CAST(o_orderdate AS DATE),
                          DATE '1998-12-01') AS BIGINT) AS months_to_ref
    FROM orders
    """,
)
def scalar_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar/interval arithmetic — the month-granularity family that
    day-offset `date_add` can't express.

    The subtle pairings, chosen so both engines agree exactly:
    `add_months` clamps month-ends (Jan 31 + 1 month = Feb 28/29), the
    identical clamping DuckDB applies to `+ INTERVAL 1 MONTH`; ISO week
    and ISO day-of-week (Monday=1 — Spark's `dayofweek` is Sunday=1, so
    it is re-based rather than trusting locale); and month distance as
    BOUNDARY COUNT (exact integer algebra on year·12+month), not
    Spark's fractional `months_between`, whose day-fraction rule has no
    cross-engine twin. Dates are emitted as formatted strings so the
    value hash can't diverge on date rendering.
    """
    od = F.col("o_orderdate").cast("date")
    iso_dow = (F.dayofweek(od) + 5) % 7 + 1
    months_to_ref = F.lit(1998 * 12 + 12) - (
        F.year(od) * 12 + F.month(od)
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format(F.add_months(od, 1), "yyyy-MM-dd").alias("next_month"),
        F.date_format(F.last_day(od), "yyyy-MM-dd").alias("month_end"),
        F.quarter(od).cast("bigint").alias("qtr"),
        F.weekofyear(od).cast("bigint").alias("iso_week"),
        iso_dow.cast("bigint").alias("iso_dow"),
        months_to_ref.cast("bigint").alias("months_to_ref"),
    )


@query(
    "scalar_posexplode_ordinal",
    oracle="""
    SELECT p_partkey,
           UNNEST(list_transform(range(1, len(w) + 1),
                                 i -> {'ord': i, 'word': w[i]}),
                  recursive := true)
    FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part)
    """,
)
def scalar_posexplode_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware flatten (UNNEST WITH ORDINALITY): each part-name
    token with its 1-based ordinal.

    The ordinal is what plain explode loses — downstream consumers that
    rebuild sequences (token order, n-gram windows, positional
    encodings) need it, and re-deriving it after the fact would take a
    window sort. `posexplode` emits it row-locally at generation time
    (0-based, re-based to the SQL-standard 1-based ordinality). DuckDB
    lacks WITH ORDINALITY, so the oracle zips the ordinal in through a
    list_transform over range — same rows, same types.
    """
    words = F.split(F.col("p_name"), " ")
    return (
        table(spark, sf_dir, "part")
        .select("p_partkey", F.posexplode(words).alias("pos", "word"))
        .select(
            "p_partkey",
            (F.col("pos") + 1).cast("bigint").alias("ord"),
            "word",
        )
    )


@query(
    "scalar_variant_shred",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             CAST(props->>'$.k' AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN cents % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(COUNT(*) AS BIGINT) AS n_missing_null
    FROM base
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def scalar_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: semi-structured documents parsed ONCE into the
    binary variant encoding, then shredded into typed columns — the
    ingestion pattern that replaces per-path get_json_object string
    re-parsing.

    Each event is wrapped into a nested document (object + array +
    bool), parsed with ``parse_json``, and every downstream access is a
    typed ``variant_get`` path — object field, array index, boolean —
    plus a ``try_variant_get`` miss on a path that doesn't exist (null,
    not error: the schema-drift contract). The oracle computes the same
    aggregates DIRECTLY from the base columns, so the equality proves
    the whole encode→parse→shred pipeline is lossless and exactly
    typed, not merely self-consistent. Money rides as integer cents
    inside the document — JSON doubles would destroy exactness.

    Why this matters at 100 TB: ``get_json_object`` re-tokenizes the
    string for every path (P paths = P parses); a variant column parses
    once and every ``variant_get`` is a binary-offset walk, and with
    Parquet variant shredding the typed paths land as their own column
    chunks — predicate pushdown over semi-structured data. All
    row-local projection: zero shuffle before the final census.
    """
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    doc = F.to_json(
        F.struct(
            F.struct(F.col("event_type").alias("type")).alias("meta"),
            F.array(cents, k).alias("vals"),
            (cents % 2 == 0).alias("flag"),
        )
    )
    v = F.parse_json(doc)
    shredded = ev.select(
        F.variant_get(v, "$.meta.type", "string").alias("event_type"),
        F.variant_get(v, "$.vals[0]", "bigint").alias("cents"),
        F.variant_get(v, "$.vals[1]", "bigint").alias("k"),
        F.variant_get(v, "$.flag", "boolean").alias("flag"),
        F.try_variant_get(v, "$.not_there", "bigint").alias("missing"),
    )
    return (
        shredded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum(F.col("flag").cast("bigint")).cast("bigint").alias("n_flagged"),
            F.count_if(F.col("missing").isNull()).cast("bigint").alias(
                "n_missing_null"
            ),
        )
        .orderBy("event_type")
    )


_BIGMAX = 9223372036854775807


@query(
    "scalar_try_arith",
    oracle=f"""
    WITH base AS (
      SELECT o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             o_custkey % 5 AS div5,
             o_orderkey % 2 AS odd,
             o_orderpriority AS pri
      FROM orders
    ),
    tried AS (
      SELECT o_orderstatus,
             CASE WHEN div5 = 0 THEN NULL
                  ELSE CAST(cents AS DOUBLE) / div5 END AS d,
             CASE WHEN odd = 1 THEN NULL ELSE {_BIGMAX} END AS a,
             TRY_CAST(pri AS INTEGER) AS c,
             str_split(pri, '-')[3] AS e
      FROM base
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(d) AS BIGINT) AS n_div_null,
           CAST(SUM(CAST(floor(d) AS BIGINT)) AS BIGINT) AS div_floor_sum,
           CAST(COUNT(*) - COUNT(a) AS BIGINT) AS n_add_null,
           CAST(COUNT(*) - COUNT(c) AS BIGINT) AS n_cast_null,
           CAST(COUNT(*) - COUNT(e) AS BIGINT) AS n_elem_null
    FROM tried
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def scalar_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``try_*`` ANSI-safe arithmetic family: division by zero,
    bigint overflow, failed string→int cast, and out-of-bounds array
    access each yield NULL instead of a runtime error.

    Under ANSI mode (Spark 4's default, and the external driver's) a
    single bad row kills the whole job — ``try_divide`` / ``try_add``
    / ``try_cast`` / ``try_element_at`` are the row-local escape
    hatches that keep a 100 TB job alive through dirty data while
    staying auditable: this census counts exactly which rows nulled
    out, per status. The oracle emulates each failure condition
    explicitly (CASE for the division/overflow, DuckDB's native
    TRY_CAST and out-of-bounds list access for the rest), so NULL
    semantics match bit-for-bit. The overflow probe adds to
    LONG_MAX on odd keys — real overflow trials, not a mock.
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        (F.col("o_custkey") % 5).alias("div5"),
        (F.col("o_orderkey") % 2).alias("odd"),
        F.col("o_orderpriority").alias("pri"),
    )
    tried = base.select(
        "o_orderstatus",
        F.try_divide(F.col("cents"), F.col("div5")).alias("d"),
        F.try_add(F.lit(_BIGMAX), F.col("odd")).alias("a"),
        F.expr("try_cast(pri AS INT)").alias("c"),
        F.try_element_at(F.split("pri", "-"), F.lit(3)).alias("e"),
    )
    cnt = F.count(F.lit(1)).cast("bigint")
    return (
        tried.groupBy("o_orderstatus")
        .agg(
            cnt.alias("n_rows"),
            (cnt - F.count("d")).cast("bigint").alias("n_div_null"),
            # Per-row floor THEN integer sum: the raw double quotients
            # would sum order-dependently; floor(d) is exact (< 2^53)
            # and bigint addition is associative, so the aggregate is
            # partition-order-invariant on both engines.
            F.sum(F.floor("d").cast("bigint")).cast("bigint").alias(
                "div_floor_sum"
            ),
            (cnt - F.count("a")).cast("bigint").alias("n_add_null"),
            (cnt - F.count("c")).cast("bigint").alias("n_cast_null"),
            (cnt - F.count("e")).cast("bigint").alias("n_elem_null"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "scalar_regex",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '([a-z]+)', 1))) AS BIGINT)
             AS total_words,
           CAST(SUM(length(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT)
             AS devoweled_chars,
           CAST(SUM(CASE WHEN regexp_matches(text, 'merge|join') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_relational,
           MIN(regexp_extract(text, '^([a-z]+)', 1)) AS min_first_word
    FROM documents
    GROUP BY lang
    """,
)
def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression scalar census over the document corpus:
    token extraction (``regexp_extract_all``), global substitution
    (``regexp_replace``), boolean match (``rlike``), and anchored
    single-group extraction (``regexp_extract``), aggregated per
    language.

    All four run inside whole-stage codegen on the JVM — the regex is
    compiled once per task, not per row, so the scan stays
    CPU-streaming at 100 TB with no Python in the loop. Patterns are
    kept to the RE2-safe subset (character classes, alternation,
    anchors — no backreferences or lookaround) so Java and DuckDB
    regex dialects agree by construction; counts and lengths are
    integer-exact.
    """
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit("([a-z]+)"), 1)))
        .cast("bigint")
        .alias("total_words"),
        F.sum(F.length(F.regexp_replace("text", "[aeiou]", "")))
        .cast("bigint")
        .alias("devoweled_chars"),
        F.sum(F.col("text").rlike("merge|join").cast("int"))
        .cast("bigint")
        .alias("n_relational"),
        F.min(F.regexp_extract("text", "^([a-z]+)", 1)).alias(
            "min_first_word"
        ),
    )


@query(
    "scalar_sql_script",
    oracle="""
    WITH RECURSIVE steps AS (
      SELECT 0 AS k, CAST(100 AS BIGINT) AS thr
      UNION ALL
      SELECT k + 1, (thr * 3) // 2 FROM steps WHERE k < 60
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
    counted AS (
      SELECT s.k, s.thr,
             CAST(SUM(CASE WHEN o.o_totalprice > s.thr THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_above
      FROM steps s CROSS JOIN orders o
      GROUP BY s.k, s.thr
    )
    SELECT c.thr AS tail_threshold,
           c.n_above AS n_tail_orders,
           t.n AS n_orders
    FROM counted c, tot t
    WHERE c.n_above * 20 <= t.n
    ORDER BY c.k
    LIMIT 1
    """,
)
def scalar_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (SQL/PSM control flow, Spark 4): a BEGIN…END
    block with DECLAREd session variables, scalar-subquery SET, and a
    WHILE loop that keeps distributed jobs in the loop body — finds
    the smallest threshold in the ×1.5 escalation ladder whose strict
    tail holds ≤ 5% of orders.

    The procedural-driver pattern at scale: only SCALARS live in
    script variables (thr, two counts); every loop iteration is a full
    distributed aggregation, so the driver never holds data — the
    script replaces the PySpark-side ``while`` loop + ``collect()``
    with engine-managed control flow, portable to any SQL client. The
    iteration count is O(log max/start) ≈ 22, each a counted scan
    (at 100 TB you'd maintain a one-off price histogram instead and
    read the ladder off it — same answer, one scan).

    The oracle unrolls the loop declaratively: a recursive CTE builds
    the exact integer ladder (BIGINT floor-division each step, so both
    engines walk identical thresholds), one cross-join aggregation
    counts every rung at once, and the first rung meeting the exit
    condition is the script's fixed point (the tail count is
    monotone non-increasing in thr, so first-in-order = the WHILE
    exit). Everything integer-exact.
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_script_v")
    with session_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        # Script execution (parse + control flow) happens inside this
        # sql() call; only the final SELECT's result comes back lazy,
        # and it references nothing conf-dependent.
        return spark.sql(
            """
            BEGIN
              DECLARE thr BIGINT DEFAULT 100;
              DECLARE n_total BIGINT;
              DECLARE n_above BIGINT;
              SET n_total = (SELECT COUNT(*) FROM orders_script_v);
              SET n_above = (SELECT COUNT(*) FROM orders_script_v
                             WHERE o_totalprice > thr);
              WHILE n_above * 20 > n_total DO
                SET thr = (thr * 3) DIV 2;
                SET n_above = (SELECT COUNT(*) FROM orders_script_v
                               WHERE o_totalprice > thr);
              END WHILE;
              SELECT thr AS tail_threshold,
                     n_above AS n_tail_orders,
                     n_total AS n_orders;
            END
            """
        )


@query(
    "scalar_param_sql",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS band_cents
    FROM orders
    WHERE o_totalprice >= 50000 AND o_totalprice < 250000
    GROUP BY o_orderpriority
    """,
)
def scalar_param_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-SQL surface census: named parameter markers
    (``spark.sql(..., args=...)``), injection-safe dynamic identifiers
    (``IDENTIFIER(:tbl)``), a session variable (``DECLARE VARIABLE``),
    and ``EXECUTE IMMEDIATE ... USING`` — the four Spark 4 primitives
    a templated reporting layer builds on instead of f-string SQL.

    The band edges travel as real bound parameters (typed, never
    string-spliced — the plan cache can reuse across bindings and
    injection is impossible by construction); the table name goes
    through IDENTIFIER so it is validated as an identifier, not
    inlined. The inner statement is itself dispatched via EXECUTE
    IMMEDIATE with a positional marker bound from a session variable —
    dynamic SQL two levels deep, zero string concatenation of values.
    The oracle is the same query with the bindings inlined as
    constants; money is summed in integer cents.
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_param_v")
    spark.sql("DECLARE OR REPLACE VARIABLE band_lo_v DOUBLE DEFAULT 50000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE band_hi_v DOUBLE DEFAULT 250000.0")
    # A statement may use positional OR named markers, never both — so
    # the inner statement is all-positional (?s bound by the USING
    # list) and the outer is all-named (:stmt, :tbl). The table name
    # flows outer named arg → USING → inner IDENTIFIER(?).
    inner = (
        "SELECT o_orderpriority, "
        "COUNT(*) AS n_orders, "
        "SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) "
        "  AS band_cents "
        "FROM IDENTIFIER(?) "
        "WHERE o_totalprice >= ? AND o_totalprice < ? "
        "GROUP BY o_orderpriority"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :stmt USING :tbl, band_lo_v, band_hi_v",
        args={"stmt": inner, "tbl": "orders_param_v"},
    )


# ---------------------------------------------------------------------------
# scalar_ipaddr_cidr — IPv4 arithmetic + longest-prefix-match CIDR census

# (prefix_len, 2^(32-prefix_len)) — the lens that appear in _CIDR_RULES.
# Expanding each address into one candidate per rule length turns
# longest-prefix matching into a plain EQUI-join (len, net) — the
# standard trick for CIDR joins at scale (candidates per row = |lens|,
# a constant, never |rules|).
_CIDR_LENS = ((0, 1 << 32), (4, 1 << 28), (8, 1 << 24), (12, 1 << 20), (16, 1 << 16))
# (rule, len, net >> (32-len)) — overlapping on purpose: 10.64.0.0/12
# nests inside 10.0.0.0/8 so the longest-prefix tie-break is exercised.
_CIDR_RULES = (
    ("default", 0, 0),
    ("mcast4", 4, 224 >> 4),
    ("net10", 8, 10),
    ("net10-hi", 12, (10 << 4) | 4),  # 10.64.0.0/12
    ("rfc1918-172", 12, (172 << 4) | 1),  # 172.16.0.0/12
    ("rfc1918-192168", 16, (192 << 8) | 168),
)


def _ipaddr_oracle() -> str:
    lens = ", ".join(f"({ln}, {dvr})" for ln, dvr in _CIDR_LENS)
    rules = ", ".join(f"('{r}', {ln}, {net})" for r, ln, net in _CIDR_RULES)
    return f"""
    WITH ips AS (
      SELECT event_id,
             CAST(CAST(event_id AS HUGEINT) * 2654435761 % 4294967296
                  AS BIGINT) AS ip
      FROM events
    ),
    quads AS (
      SELECT event_id, ip,
             ip // 16777216 || '.' || ip // 65536 % 256 || '.'
               || ip // 256 % 256 || '.' || ip % 256 AS dotted
      FROM ips
    ),
    parsed AS (
      SELECT event_id, ip, dotted,
             CAST(string_split(dotted, '.')[1] AS BIGINT) * 16777216
               + CAST(string_split(dotted, '.')[2] AS BIGINT) * 65536
               + CAST(string_split(dotted, '.')[3] AS BIGINT) * 256
               + CAST(string_split(dotted, '.')[4] AS BIGINT) AS reparsed
      FROM quads
    ),
    lens(plen, dvr) AS (VALUES {lens}),
    rules(rule, plen, net) AS (VALUES {rules}),
    matched AS (
      SELECT p.event_id, p.ip, p.dotted, p.reparsed, r.rule, r.plen
      FROM parsed p
      JOIN lens l ON TRUE
      JOIN rules r ON r.plen = l.plen AND r.net = p.ip // l.dvr
    ),
    best AS (
      SELECT event_id, ip, dotted, reparsed,
             max_by(rule, plen) AS rule, MAX(plen) AS plen
      FROM matched
      GROUP BY event_id, ip, dotted, reparsed
    )
    SELECT rule, plen,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT ip) AS BIGINT) AS n_ips,
           MIN(dotted) AS min_ip_str,
           CAST(SUM(CASE WHEN reparsed <> ip THEN 1 ELSE 0 END) AS BIGINT)
             AS n_parse_err
    FROM best
    GROUP BY rule, plen
    ORDER BY rule
    """


@query("scalar_ipaddr_cidr", oracle=_ipaddr_oracle())
def scalar_ipaddr_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 address arithmetic and longest-prefix-match CIDR
    classification — the network-log analytics primitives (format,
    parse, prefix containment) as pure integer/string expressions.

    Addresses derive deterministically from ``event_id`` (no IP column
    in the fixtures) via a Knuth multiplicative hash in DECIMAL so the
    product never overflows BIGINT at any event_id. Each address is
    formatted to a dotted quad, re-parsed back to a 32-bit integer
    (the census proves the roundtrip: ``n_parse_err`` is 0), then
    matched against a CIDR rule table.

    Scale posture: longest-prefix match is NOT a theta join here — each
    address expands into one ``(len, ip >> (32-len))`` candidate per
    distinct rule length (a constant ≤ 5, via ``stack``), and the rule
    table equi-joins on ``(len, net)``. Candidates scale as rows·|lens|,
    the rule table broadcasts (constant-size literal), and the
    longest-match winner is one ``max_by`` per address — no per-rule
    scans, no range predicates, whole-stage codegen end to end.
    """
    ip = (
        (F.col("event_id").cast("decimal(38,0)") * 2654435761)
        % F.lit(4294967296).cast("decimal(38,0)")
    ).cast("bigint")
    ips = table(spark, sf_dir, "events").select("event_id", ip.alias("ip"))
    dotted = F.concat_ws(
        ".",
        F.expr("ip div 16777216"),
        F.expr("ip div 65536 % 256"),
        F.expr("ip div 256 % 256"),
        F.expr("ip % 256"),
    )
    quads = ips.select("event_id", "ip", dotted.alias("dotted"))
    part_ = lambda i: F.split(F.col("dotted"), "[.]").getItem(i).cast("bigint")
    parsed = quads.select(
        "event_id",
        "ip",
        "dotted",
        (
            part_(0) * 16777216 + part_(1) * 65536 + part_(2) * 256 + part_(3)
        ).alias("reparsed"),
    )
    stack_args = ", ".join(
        f"{ln}, CAST({dvr} AS BIGINT)" for ln, dvr in _CIDR_LENS
    )
    cand = parsed.select(
        "event_id",
        "ip",
        "dotted",
        "reparsed",
        F.expr(f"stack({len(_CIDR_LENS)}, {stack_args}) AS (plen, dvr)"),
    ).withColumn("net", F.expr("ip div dvr"))
    rules_values = ", ".join(
        f"('{r}', {ln}, CAST({net} AS BIGINT))" for r, ln, net in _CIDR_RULES
    )
    rules = spark.sql(
        f"SELECT * FROM VALUES {rules_values} AS t(rule, plen, net)"
    )
    best = (
        cand.join(rules, ["plen", "net"])
        .groupBy("event_id", "ip", "dotted", "reparsed")
        .agg(F.max_by("rule", "plen").alias("rule"), F.max("plen").alias("plen"))
    )
    return (
        best.groupBy("rule", "plen")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("ip").alias("n_ips"),
            F.min("dotted").alias("min_ip_str"),
            F.sum(
                F.when(F.col("reparsed") != F.col("ip"), 1).otherwise(0)
            ).alias("n_parse_err"),
        )
        .orderBy("rule")
    )
