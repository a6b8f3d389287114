"""Generator properties: partition invariance, FK integrity, consistency.

The partition-invariance test is the Spark re-expression of dbgen's
``-C <parts> -S <i>`` chunking contract (reference src/tpch.rs:69-72):
the dataset must not depend on the parallelism used to produce it.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tpctools_spark.generate import ROWS_PER_SF, build_table
from tpctools_spark.schemas import TPCH_REFERENCE

SCALE = 0.001
ALL_TABLES = list(TPCH_REFERENCE)


def _fingerprint(df):
    """Order-insensitive dataset digest: sum/xor of full-row hashes."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    row = df.select(
        F.sum(h).alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return (row["s"], row["n"])


@pytest.mark.parametrize("name", ALL_TABLES)
def test_partition_invariance(spark, name):
    a = _fingerprint(build_table(spark, name, SCALE, partitions=2))
    b = _fingerprint(build_table(spark, name, SCALE, partitions=7))
    assert a == b


@pytest.mark.parametrize("name", ALL_TABLES)
def test_schema_matches_registry(spark, name):
    df = build_table(spark, name, SCALE, 2)
    want = [f.name for f in TPCH_REFERENCE[name].fields if f.name != "ignore"]
    assert df.columns == want


def test_cardinalities(spark):
    assert build_table(spark, "region", SCALE, 2).count() == 5
    assert build_table(spark, "nation", SCALE, 2).count() == 25
    n_part = build_table(spark, "part", SCALE, 2).count()
    assert n_part == int(ROWS_PER_SF["part"] * SCALE)
    assert build_table(spark, "partsupp", SCALE, 2).count() == 4 * n_part
    n_ord = build_table(spark, "orders", SCALE, 2).count()
    lines = build_table(spark, "lineitem", SCALE, 2).count()
    assert n_ord * 1 <= lines <= n_ord * 7


def test_fk_integrity(spark):
    li = build_table(spark, "lineitem", SCALE, 2)
    n_part = int(ROWS_PER_SF["part"] * SCALE)
    n_supp = int(ROWS_PER_SF["supplier"] * SCALE)
    bad = li.filter(
        ~F.col("l_partkey").between(1, n_part)
        | ~F.col("l_suppkey").between(1, n_supp)
    ).count()
    assert bad == 0
    cust = build_table(spark, "customer", SCALE, 2)
    assert cust.filter(~F.col("c_nationkey").between(0, 24)).count() == 0


def test_lineitem_partsupp_referential_contract(spark):
    """dbgen guarantee: every (l_partkey, l_suppkey) pair is a partsupp
    row — lineitem picks one of the part's 4 supplier slots (Q9/Q20
    depend on the composite-key join being total)."""
    li = build_table(spark, "lineitem", SCALE, 2)
    ps = build_table(spark, "partsupp", SCALE, 2)
    orphans = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            ps.select(
                F.col("ps_partkey").alias("l_partkey"),
                F.col("ps_suppkey").alias("l_suppkey"),
            ),
            ["l_partkey", "l_suppkey"],
            "left_anti",
        )
        .count()
    )
    assert orphans == 0


def test_orders_totalprice_equals_lineitem_sum(spark):
    """o_totalprice is derived from the same per-line formula lineitem
    explodes — exact decimal equality, no tolerance."""
    orders = build_table(spark, "orders", SCALE, 2)
    li = build_table(spark, "lineitem", SCALE, 2)
    line_sum = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount"))
                * (F.lit(1).cast("decimal(4,2)") + F.col("l_tax"))
            ).cast("decimal(17,2)")
        ).alias("total")
    )
    joined = orders.join(line_sum, orders.o_orderkey == line_sum.l_orderkey, "left")
    mismatches = joined.filter(
        F.col("o_totalprice").cast("decimal(17,2)") != F.col("total")
    ).count()
    assert mismatches == 0


def test_generate_writes_parquet(spark, tmp_path):
    from tpctools_spark.benchmark import TpcH

    out = str(tmp_path / "gen")
    timings = TpcH().generate(spark, SCALE, 2, out, tables=["region", "nation", "supplier"])
    assert set(timings) == {"region", "nation", "supplier"}
    assert spark.read.parquet(f"{out}/supplier.parquet").count() == int(
        ROWS_PER_SF["supplier"] * SCALE
    )


def test_corpus_generator_partition_invariant(spark):
    """The corpus generators must honor the same chunking contract as
    the TPC generators: identical output for any partition count."""
    from tpctools_spark.generate_corpus import (
        gen_documents,
        gen_embeddings,
        gen_events,
    )

    from tpctools_spark.generate_corpus import gen_embeddings_scattered

    for fn, key in [
        (gen_documents, "doc_id"),
        (gen_embeddings, "vec_id"),
        (gen_embeddings_scattered, "vec_id"),
        (gen_events, "event_id"),
    ]:
        a = sorted(fn(spark, 200, parts=1).collect(), key=lambda r: r[0])
        b = sorted(fn(spark, 200, parts=7).collect(), key=lambda r: r[0])
        assert a == b, key


def test_scattered_embeddings_plant_neardup_pairs(spark):
    """Every id ≡ 0 (mod 70) must be a near-copy of id−70 (cosine
    ≥ 0.999, same label) while unrelated adjacent vectors stay far
    (cosine < 0.5) — the exactly-known ground truth the 500k dedup
    bench tier asserts recall against."""
    import math

    from tpctools_spark.generate_corpus import gen_embeddings_scattered

    rows = {
        r.vec_id: (list(r.embedding), r.label)
        for r in gen_embeddings_scattered(spark, 300).collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    for k in range(70, 300, 70):
        ea, la = rows[k - 10]  # base is id-10: never itself a copy
        eb, lb = rows[k]
        assert la == lb
        assert cos(ea, eb) >= 0.999, k
    for k in range(1, 60):  # unrelated neighbors are scattered
        assert cos(rows[k][0], rows[k - 1][0]) < 0.5, k


def test_corpus_generator_plants_near_dups(spark):
    from tpctools_spark.generate_corpus import gen_documents

    rows = {r.doc_id: r.text for r in gen_documents(spark, 50).collect()}
    for i in range(7, 50, 7):
        # every 7th doc is its predecessor plus exactly one marker word
        assert rows[i].startswith(rows[i - 1])
        assert len(rows[i].split()) == len(rows[i - 1].split()) + 1


def test_corpus_cli_generate(spark, tmp_path):
    from tpctools_spark.benchmark import create_benchmark

    out = str(tmp_path / "corpus")
    timings = create_benchmark("corpus").generate(spark, 0.0002, 3, out)
    assert set(timings) == {"documents", "embeddings", "events"}
    assert spark.read.parquet(f"{out}/documents.parquet").count() == 10
    assert spark.read.parquet(f"{out}/events.parquet").count() == 200


def test_corpus_dir_is_fixture_drop_in(spark, tmp_path):
    """A corpus-generated directory must be a drop-in replacement for a
    driver fixture directory: same column names/types through
    catalog.table, and fixture-schema consumers (n_chars, typed ts,
    value, props, float embeddings) must run over it unchanged."""
    from pyspark.sql import functions as F

    from tpctools_spark.benchmark import create_benchmark
    from tpctools_spark.catalog import table
    from tpctools_spark.registry import spark_queries

    out = str(tmp_path / "corpus")
    create_benchmark("corpus").generate(spark, 0.001, 3, out)

    fixture_sf = "/root/testdata/sf0.001"
    for name in ["documents", "embeddings", "events"]:
        got = {f.name: f.dataType.simpleString() for f in table(spark, out, name).schema.fields}
        want = {f.name: f.dataType.simpleString() for f in table(spark, fixture_sf, name).schema.fields}
        assert got == want, f"{name}: {got} != {want}"

    # fixture-schema consumers over the corpus dir
    qs = spark_queries()
    gopher = qs["pipeline_quality_filter_gopher"](spark, out)  # n_chars
    assert gopher.count() >= 0
    sessions = qs["window_session"](spark, out)  # typed ts + value
    assert sessions.count() > 0
    js = qs["scalar_json"](spark, out)  # props JSON
    assert js.count() > 0
    topk = qs["sim_cosine_topk"](spark, out)  # float embeddings
    assert topk.count() > 0
