"""CLI: ``generate`` / ``convert`` subcommands (reference parity).

Mirrors the reference's StructOpt surface (``/root/reference/src/main.rs:22-119``):

    python -m tpctools_spark.cli generate --benchmark tpch -s 0.01 \\
        -n 8 --output /tmp/raw --format csv
    python -m tpctools_spark.cli convert --benchmark tpch \\
        --input /tmp/raw --output /tmp/pq \\
        --format parquet --compression snappy

Differences by design: no ``--generator-path`` (no external dbgen/dsdgen
binary — generation is native Spark, SURVEY.md §2.A A8/A9),
``generate`` can emit parquet directly (the reference needs a separate
convert pass), and ``convert`` reads the text layout ``generate --format
csv`` writes (``<table>.csv/part-*.csv``). ``corpus`` generates the
LLM-pipeline tables; it has no text layout, so ``convert`` refuses it.
"""

from __future__ import annotations

import argparse
import sys
import time

from tpctools_spark.benchmark import BENCHMARKS, create_benchmark
from tpctools_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tpctools_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="Generate benchmark data (src/main.rs:24-43)")
    g.add_argument("--benchmark", default="tpch", type=str.lower, choices=list(BENCHMARKS))
    g.add_argument("-s", "--scale", type=float, required=True)
    g.add_argument("-n", "--partitions", type=int, required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    g.add_argument("--compression", default="snappy")

    c = sub.add_parser(
        "convert", help="Convert generated csv dirs to parquet/csv (src/main.rs:45-58)"
    )
    c.add_argument(
        "--benchmark", default="tpch", type=str.lower,
        choices=[name for name, b in BENCHMARKS.items() if b.table_ext],
    )
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    c.add_argument("--compression", default="snappy")

    q = sub.add_parser(
        "query",
        help="Run a registered query from the SURVEY §2.B inventory "
        "(engine extension beyond the reference CLI)",
    )
    q.add_argument("--name", help="query name (see --list)")
    q.add_argument("--list", action="store_true", help="list registered queries")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--output", help="write result here (else print to stdout)")
    q.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    q.add_argument("--limit", type=int, default=20, help="stdout row cap")

    args = p.parse_args(argv)

    if args.cmd == "query":
        from tpctools_spark.registry import oracle_queries, spark_queries

        queries = spark_queries()
        if args.list or not args.name:
            oracles = oracle_queries()
            for name in sorted(queries):
                kind = "oracle" if name in oracles else "rows-only"
                print(f"{name}\t{kind}")
            return 0
        if args.name not in queries:
            raise SystemExit(f"unknown query: {args.name} (try --list)")
        spark = get_spark(f"tpctools-query-{args.name}")
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        df = queries[args.name](spark, args.sf_dir)
        if args.output:
            df.write.mode("overwrite").format(args.format).save(args.output)
            print(f"query {args.name}: wrote {args.output} "
                  f"({time.perf_counter() - t0:.3f}s)")
        else:
            df.show(args.limit, truncate=False)
            print(f"query {args.name}: {time.perf_counter() - t0:.3f}s")
        return 0

    tpc = create_benchmark(args.benchmark)
    spark = get_spark(f"tpctools-{args.cmd}")
    if args.cmd == "generate":
        timings = tpc.generate(
            spark, args.scale, args.partitions, args.output,
            fmt=args.format, compression=args.compression,
        )
    else:
        timings = tpc.convert(
            spark, args.input, args.output, fmt=args.format,
            compression=args.compression, table_ext=".csv",
        )
    for name, dt in timings.items():
        # Wall-time print parity: src/lib.rs:214, src/tpch.rs:87-90.
        print(f"{args.cmd} {name}: {dt:.3f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
