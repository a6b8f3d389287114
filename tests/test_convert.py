"""Converter parity: typed pipe-CSV scan → parquet sink, `ignore` drop."""

from __future__ import annotations

import os

import pytest

from tpctools_spark.convert import convert_table, convert_to_parquet, scan_tbl
from tpctools_spark.schemas import TPCH_REFERENCE

REGION_TBL = (
    "0|AFRICA|lar deposits blithely|\n"
    "1|AMERICA|hs use ironic requests|\n"
    "2|ASIA|ges. thinly even pinto beans|\n"
)


@pytest.fixture()
def tbl_dir(tmp_path):
    """A dbgen-style layout: <dir>/region.tbl/part-0.tbl with trailing |."""
    d = tmp_path / "raw" / "region.tbl"
    d.mkdir(parents=True)
    (d / "part-0.tbl").write_text(REGION_TBL)
    return str(tmp_path / "raw")


def test_scan_reads_typed_rows(spark, tbl_dir):
    df = scan_tbl(spark, os.path.join(tbl_dir, "region.tbl"), TPCH_REFERENCE["region"])
    rows = {r.r_regionkey: r.r_name for r in df.collect()}
    assert rows == {0: "AFRICA", 1: "AMERICA", 2: "ASIA"}
    # trailing | lands in the nullable ignore column, as in the reference
    assert df.schema["ignore"].nullable


def test_convert_drops_ignore_and_roundtrips(spark, tbl_dir, tmp_path):
    out = str(tmp_path / "pq" / "region.parquet")
    convert_table(spark, os.path.join(tbl_dir, "region.tbl"),
                  TPCH_REFERENCE["region"], out)
    back = spark.read.parquet(out)
    assert "ignore" not in back.columns
    assert back.count() == 3
    assert dict((r.r_regionkey, r.r_comment) for r in back.collect())[2].startswith("ges.")


def test_convert_all_tables_loop(spark, tbl_dir, tmp_path):
    out = str(tmp_path / "pq2")
    timings = convert_to_parquet(spark, tbl_dir, out, tables=["region"])
    assert set(timings) == {"region"}
    assert spark.read.parquet(f"{out}/region.parquet").count() == 3


def test_missing_input_fails_fast(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        convert_to_parquet(spark, str(tmp_path), str(tmp_path / "o"), tables=["region"])


def test_bad_compression_rejected(spark, tbl_dir, tmp_path):
    with pytest.raises(ValueError, match="unsupported compression"):
        convert_table(spark, os.path.join(tbl_dir, "region.tbl"),
                      TPCH_REFERENCE["region"], str(tmp_path / "x"),
                      compression="lzo")


def test_existing_output_rejected(spark, tbl_dir, tmp_path):
    out = str(tmp_path / "pq3" / "region.parquet")
    convert_table(spark, os.path.join(tbl_dir, "region.tbl"),
                  TPCH_REFERENCE["region"], out)
    with pytest.raises(Exception):  # reference panics on existing output
        convert_table(spark, os.path.join(tbl_dir, "region.tbl"),
                      TPCH_REFERENCE["region"], out)


def test_cli_generate_then_convert_csv_roundtrip(spark, tmp_path):
    """End-to-end: generate csv → convert to parquet → typed equality."""
    from tpctools_spark.benchmark import create_benchmark
    from tpctools_spark.generate import build_table

    raw = str(tmp_path / "raw")
    create_benchmark("tpch").generate(spark, 0.001, 2, raw, tables=["nation"], fmt="csv")
    out = str(tmp_path / "pq4")
    # generated csv has no trailing '|': the ignore field reads as null
    convert_to_parquet(spark, raw, out, tables=["nation"], table_ext=".csv")
    back = spark.read.parquet(f"{out}/nation.parquet")
    want = {(r.n_nationkey, r.n_name) for r in build_table(spark, "nation", 0.001, 1).collect()}
    got = {(r.n_nationkey, r.n_name) for r in back.collect()}
    assert got == want


def _content(frames):
    """Per table: (rows, order-independent hash of every column), all
    tables in one Spark job."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    hashed = [df.select(F.lit(t).alias("t"), F.xxhash64(*df.columns).alias("h"))
              for t, df in frames.items()]
    rows = reduce(DataFrame.unionAll, hashed).groupBy("t").agg(F.count("*"), F.sum("h"))
    return {r[0]: (r[1], r[2]) for r in rows.collect()}


@pytest.mark.parametrize("bench", ["tpch", "tpcds"])
def test_cli_generate_csv_then_convert(spark, tmp_path, bench):
    """`cli generate --format csv` then `cli convert` on the same
    directory: every table converts back to exactly the generated rows."""
    from tpctools_spark.benchmark import create_benchmark
    from tpctools_spark.cli import main

    raw, out = str(tmp_path / "raw"), str(tmp_path / "pq")
    args = ["--benchmark", bench]
    assert main(["generate", *args, "-s", "0.001", "-n", "2", "--output", raw,
                 "--format", "csv"]) == 0
    assert main(["convert", *args, "--input", raw, "--output", out]) == 0
    tpc = create_benchmark(bench)
    got = {t: spark.read.parquet(f"{out}/{t}.parquet") for t in tpc.table_names()}
    want = {t: tpc.build_table(spark, t, 0.001, 1) for t in tpc.table_names()}
    assert _content(got) == _content(want)


def test_generate_csv_rejects_nested_column_before_writing(spark, tmp_path):
    """corpus.embeddings is array<float>: csv generation must fail on it
    before the first table is written, naming the table and column."""
    from tpctools_spark.cli import main

    out = tmp_path / "corpus_csv"
    with pytest.raises(ValueError, match=r"embeddings\.embedding \(array<float>\)"):
        main(["generate", "--benchmark", "corpus", "-s", "0.0002", "-n", "1",
              "--output", str(out), "--format", "csv"])
    assert not out.exists()


def test_cli_convert_rejects_corpus(tmp_path):
    """corpus has no text layout to convert: argparse refuses it."""
    from tpctools_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(["convert", "--benchmark", "corpus", "--input", str(tmp_path),
              "--output", str(tmp_path / "o")])
    assert exc.value.code == 2


def test_benchmark_facade(spark):
    """Tpc parity: names, schemas, build, dispatch (src/lib.rs:28-43)."""
    import pytest as _pytest

    from tpctools_spark.benchmark import TpcDs, TpcH, create_benchmark

    h = create_benchmark("tpc-h")
    assert h is TpcH() and h.name == "tpch" and len(h.table_names()) == 8
    assert h.schema("lineitem")["l_orderkey"].dataType.typeName() == "long"
    assert h.build_table(spark, "region", 0.001, 1).count() == 5

    ds = create_benchmark("tpcds")
    assert ds is TpcDs() and len(ds.table_names()) == 24
    assert ds.schema("store_sales").fieldNames()[0] == "ss_sold_date_sk"

    c = create_benchmark("corpus")
    assert c.table_names() == ["documents", "embeddings", "events"]
    assert c.table_ext is None
    assert c.build_table(spark, "documents", 0.0002, 1).count() == 10

    # every declared schema is what the builder produces (the generator
    # drops TPC-H's trailing `ignore` text column)
    for tpc in (h, ds, c):
        for t in tpc.table_names():
            built = tpc.build_table(spark, t, 0.001, 1).schema
            want = [(f.name, f.dataType) for f in tpc.schema(t).fields if f.name != "ignore"]
            assert [(f.name, f.dataType) for f in built.fields] == want, (tpc.name, t)

    with _pytest.raises(ValueError):
        create_benchmark("tpcx")


def test_benchmark_facade_convert(spark, tbl_dir, tmp_path):
    from tpctools_spark.benchmark import create_benchmark

    out = str(tmp_path / "facade_pq")
    bench = create_benchmark("tpch")
    # only region exists in the fixture dir; convert just that table
    from tpctools_spark.convert import convert_to_parquet

    timings = convert_to_parquet(
        spark, tbl_dir, out, tables=["region"],
        schemas={"region": bench.schema("region")}, parallel=2,
    )
    assert set(timings) == {"region"}
    assert spark.read.parquet(f"{out}/region.parquet").count() == 3


def _jobs_in(spark, group, fn):
    """Run ``fn`` under job group ``group``; return the ids of the Spark
    jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_materialize_rebuilds_after_interrupt_then_reuses(spark, tmp_path):
    """An interrupted write leaves no marker, so the next call rebuilds;
    once the marker exists, a call starts no Spark job."""
    from tpctools_spark.benchmark import Tpc, TpcH, materialize

    tpch = TpcH()
    interrupted = []

    def build(spark_, t, scale, parts):
        if t == "nation" and not interrupted:
            interrupted.append(t)
            raise RuntimeError("interrupted")
        return tpch.build_table(spark_, t, scale, parts)

    tiny = Tpc("tiny", None, {t: tpch.schema(t) for t in ("region", "nation")}, build)
    out = str(tmp_path / "mat")
    with pytest.raises(RuntimeError, match="interrupted"):
        materialize(spark, tiny, 0.001, out, 1)
    assert os.listdir(out) == ["region"]

    assert _jobs_in(spark, "mat-rebuild", lambda: materialize(spark, tiny, 0.001, out, 1))
    assert spark.read.parquet(f"{out}/region").count() == 5
    assert spark.read.parquet(f"{out}/nation").count() == 25
    assert _jobs_in(spark, "mat-reuse", lambda: materialize(spark, tiny, 0.001, out, 1)) == []


def test_cli_query_list_and_run(spark, tmp_path, capsys):
    """`query --list` enumerates the registry; `query --name` writes the
    result relation to the requested sink."""
    from tpctools_spark.cli import main
    from tpctools_spark.registry import spark_queries

    assert main(["query", "--list"]) == 0
    out = capsys.readouterr().out
    assert "agg_group_sum\toracle" in out
    assert len(out.strip().splitlines()) == len(spark_queries())

    dest = str(tmp_path / "q_out")
    assert (
        main(
            ["query", "--name", "filter_pred",
             "--sf-dir", "/root/testdata/sf0.001",
             "--output", dest, "--format", "parquet"]
        )
        == 0
    )
    assert spark.read.parquet(dest).count() > 0
