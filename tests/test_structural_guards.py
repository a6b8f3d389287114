"""Structural semantic guards, beyond oracle equality.

Oracle checks prove Spark ≡ DuckDB; these pin the properties the ops
CLAIM (the banded interval join reproduces the naive range join, the
join-size profile predicts the real join, bloom filters are physically
written, batch assembly respects its size cap and waste accounting,
the diff classes partition the key space, the script's fixed point
satisfies its own exit condition) so a refactor that broke the claim
symmetrically in both engines would still fail here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.registry import spark_queries

SF = "/root/testdata/sf0.001"


def test_interval_grid_equals_naive_range_join(spark):
    """The grid-bucketed plan must reproduce the naive (quadratic)
    range-join answer exactly — each true pair found exactly once,
    none invented by the cell replication."""
    got = {
        r["iv_user"]: (r["n_pairs"], r["n_windows_hit"])
        for r in spark_queries()["join_interval_grid"](spark, SF).collect()
    }
    ev = table(spark, SF, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("iv_id"),
        F.col("user_id").alias("iv_user"),
        F.unix_micros("ts").alias("s"),
    )
    pts = ev.filter(F.col("event_type") == "purchase").select(
        F.unix_micros("ts").alias("p_ts")
    )
    naive = (
        iv.crossJoin(pts)
        .filter(
            (F.col("p_ts") >= F.col("s"))
            & (F.col("p_ts") < F.col("s") + F.lit(900 * 1_000_000))
        )
        .groupBy("iv_user")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("iv_id").alias("n_windows_hit"),
        )
        .collect()
    )
    want = {r["iv_user"]: (r["n_pairs"], r["n_windows_hit"]) for r in naive}
    assert got == want and got


def test_join_size_profile_predicts_the_real_join(spark):
    """The pre-flight numbers must equal ground truth measured on the
    actually-executed join."""
    row = spark_queries()["quality_join_size_profile"](spark, SF).collect()[0]
    o = table(spark, SF, "orders")
    li = table(spark, SF, "lineitem")
    real = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert row["join_rows"] == real
    heaviest = (
        li.groupBy("l_orderkey")
        .count()
        .orderBy(F.desc("count"), "l_orderkey")
        .first()
    )
    assert row["max_key_rows"] == heaviest["count"]
    assert row["heaviest_key"] == heaviest["l_orderkey"]


def test_parquet_bloom_filters_are_physically_written(spark, tmp_path):
    """Same projection, same rows: the bloom-enabled file must carry
    strictly more bytes (the serialized filters). Guards against the
    writer option silently not reaching parquet-mr — which is exactly
    what happens with the per-column `#col` variant in this build."""
    import os

    ev = table(spark, SF, "events").select("event_id", "user_id")

    def size_of(path, with_bloom):
        w = ev.coalesce(1).write.mode("overwrite")
        if with_bloom:
            w = w.option("parquet.bloom.filter.enabled", "true")
        w.parquet(path)
        (f,) = [x for x in os.listdir(path) if x.endswith(".parquet")]
        return os.path.getsize(os.path.join(path, f))

    plain = size_of(str(tmp_path / "plain"), False)
    bloom = size_of(str(tmp_path / "bloom"), True)
    assert bloom > plain


def test_length_batches_cap_and_waste_accounting(spark):
    out = {
        r["bucket"]: r
        for r in spark_queries()["pipeline_length_batches"](
            spark, SF
        ).collect()
    }
    d = table(spark, SF, "documents")
    assert sum(r["n_docs"] for r in out.values()) == d.count()
    for b, r in out.items():
        # Batch cap: n_batches is exactly ceil(n_docs / 32).
        assert r["n_batches"] == -(-r["n_docs"] // 32)
        assert 0 <= r["wasted_chars"] < r["padded_chars"]
        # Waste is bounded by the bucket's own width: every batch max
        # and min live in [200*b, 200*(b+1)), so per-doc padding < 200.
        assert r["wasted_chars"] < 200 * r["n_docs"]


def test_snapshot_diff_partitions_the_key_space(spark):
    rows = spark_queries()["reshape_snapshot_diff"](spark, SF).collect()
    by_class = {r["change"]: r["n_keys"] for r in rows}
    assert set(by_class) <= {"insert", "update", "delete", "unchanged"}
    ev = table(spark, SF, "events")
    # Keys counted = users whose latest state (either version) is live.
    n_keys_live = (
        spark_queries()["reshape_snapshot_diff"](spark, SF)
        .agg(F.sum("n_keys"))
        .collect()[0][0]
    )
    assert n_keys_live <= ev.select("user_id").distinct().count()
    assert sum(by_class.values()) == n_keys_live


def test_sql_script_fixed_point_satisfies_exit_condition(spark):
    row = spark_queries()["scalar_sql_script"](spark, SF).collect()[0]
    thr, n_tail, n = (
        row["tail_threshold"],
        row["n_tail_orders"],
        row["n_orders"],
    )
    o = table(spark, SF, "orders")
    assert n == o.count()
    assert n_tail == o.filter(F.col("o_totalprice") > thr).count()
    assert n_tail * 20 <= n  # the WHILE exit condition holds at thr
    # ... and did NOT hold one rung earlier (thr is minimal): walk the
    # ladder back one step.
    prev = None
    t = 100
    while t < thr:
        prev = t
        t = (t * 3) // 2
    if prev is not None:
        n_prev = o.filter(F.col("o_totalprice") > prev).count()
        assert n_prev * 20 > n


def test_tar_shards_bytes_are_reproducible(spark):
    """Two runs must produce byte-identical shard files (mtime pinned,
    members sorted) — the property that makes shard artifacts
    content-addressable and cache-friendly."""
    import glob
    import hashlib
    import os

    from tpctools_spark.queries import scans

    def digest_run():
        before = set(glob.glob(os.path.join(scans._SCRATCH, "tar-shards*")))
        spark_queries()["multimodal_tar_shards"](spark, SF).collect()
        (new,) = (
            set(glob.glob(os.path.join(scans._SCRATCH, "tar-shards*")))
            - before
        )
        out = {}
        for f in sorted(glob.glob(os.path.join(new, "*.tar"))):
            out[os.path.basename(f)] = hashlib.sha256(
                open(f, "rb").read()
            ).hexdigest()
        return out

    a = digest_run()
    b = digest_run()
    assert a == b and a


def test_structural_ops_are_partitioning_invariant(spark):
    """Results must not depend on the shuffle-partition count —
    the property that makes max_by tie-breaking (snapshot diff),
    two-pass global ranks (length batches), and the banded join's
    cell replication safe to run on any cluster layout."""
    names = [
        "reshape_snapshot_diff",
        "pipeline_length_batches",
        "join_interval_grid",
        "feature_mutual_info",
    ]
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n_part in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            for name in names:
                rows = sorted(
                    tuple(r)
                    for r in spark_queries()[name](spark, SF).collect()
                )
                results.setdefault(name, []).append(rows)
            spark.catalog.clearCache()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    for name, (a, b) in results.items():
        assert a == b, name


def test_fdr_bh_planted_shift_rejects(spark):
    """BH step-up must REJECT a planted mean-shifted segment and
    ACCEPT the null segments. Drives the rejection branch that the
    uniform fixtures never hit (Chebyshev only rejects real shifts).

    Construction: 9 null segments × 500 rows alternating {0, 100}
    (mean exactly 50) and one TINY shifted segment (10 rows at the
    documented cents cap 100_000). The shifted rows barely move the
    pooled mean (Δ ≈ 222 cents), so each null's Chebyshev bound
    v/(n·d²) ≈ 0.90 — accepted — while the shifted segment's
    d ≈ 10⁸ milli-cents collapses its bound to ~2·10⁻⁴ — rejected
    at rank 1. The pooled variance is shared, exactly as the
    registered query computes it.
    """
    from tpctools_spark.queries.quality import _fdr_bh_from

    rows = []
    for g in range(9):
        for i in range(500):
            rows.append((f"null_{g}", 100 * (i % 2)))
    for i in range(10):
        rows.append(("shifted", 100_000))
    base = spark.createDataFrame(rows, "segment string, cents bigint")
    out = {r["segment"]: r for r in _fdr_bh_from(base).collect()}
    assert out["shifted"]["rejected"] is True
    assert out["shifted"]["rnk"] == 1  # smallest p sorts first
    for g in range(9):
        assert out[f"null_{g}"]["rejected"] is False, f"null_{g}"
    # milli-cent means are integer-exact
    assert out["shifted"]["mean_millicents"] == 100_000 * 1000
    assert out["null_0"]["mean_millicents"] == 50 * 1000


def _chain_edges(spark, n: int = 1000):
    """The symmetric edge table of an n-link chain 0 - 1 - ... - n."""
    chain = [(i, i + 1) for i in range(n)]
    sym = chain + [(b, a) for a, b in chain]
    return spark.createDataFrame(sym, "src bigint, dst bigint")


def test_components_chain_converges_logarithmically(spark):
    """A planted 1000-link chain must converge within the loud cap —
    and in O(log n) rounds, proving the pointer-halving step works.
    Plain min-label propagation would need ~1000 rounds here and the
    cap would (correctly) fire."""
    from tpctools_spark.queries.dedup import (
        _COMPONENTS_MAX_ROUNDS,
        _min_label_components,
    )

    n = 1000
    labels, rounds = _min_label_components(_chain_edges(spark, n))
    try:
        rows = labels.collect()
    finally:
        labels.unpersist()
    assert rounds <= 25, f"chain took {rounds} rounds — halving broken?"
    assert rounds <= _COMPONENTS_MAX_ROUNDS
    assert len(rows) == n + 1
    assert all(r["cluster_id"] == 0 for r in rows)


def test_components_loop_fails_loudly_past_its_round_cap(spark, monkeypatch):
    """The same 1000-link chain under a 2-round cap: the loop must raise
    its named error instead of returning unconverged labels."""
    from tpctools_spark.queries import dedup as D

    monkeypatch.setattr(D, "_COMPONENTS_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="not converged after 2 rounds"):
        D._min_label_components(_chain_edges(spark))


def test_queries_have_no_import_fallbacks():
    """numpy and pyarrow are declared dependencies (pyproject.toml), so
    an ``except ImportError`` under ``queries/`` can only guard a second
    implementation that never runs outside a parity test."""
    from pathlib import Path

    import tpctools_spark.queries as Q

    offenders = [
        p.name
        for p in sorted(Path(Q.__file__).parent.rglob("*.py"))
        if "except ImportError" in p.read_text()
    ]
    assert not offenders, f"dead import fallbacks in {offenders}"


def test_word_trigrams_are_built_only_in_dedup():
    """Near-dup Jaccard has one home, ``queries/dedup.py``: its 3-gram
    tokenizer is the codegen regex ``_shingles_rx``. A ``transform``
    lambda that ``concat_ws``-joins three ``element_at`` words anywhere
    else is a second, interpreted copy of that tokenizer."""
    import ast
    from pathlib import Path

    import tpctools_spark

    def name(call):
        f = call.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")

    def calls(node, fn):
        return [
            n for n in ast.walk(node)
            if isinstance(n, ast.Call) and name(n) == fn
        ]

    root = Path(tpctools_spark.__file__).parent
    offenders = sorted(
        f"{p.relative_to(root)}:{lam.lineno}"
        for p in root.rglob("*.py")
        if p.relative_to(root).as_posix() != "queries/dedup.py"
        for tr in calls(ast.parse(p.read_text()), "transform")
        for lam in tr.args
        if isinstance(lam, ast.Lambda)
        and any(
            len(calls(cw, "element_at")) >= 3
            for cw in calls(lam.body, "concat_ws")
        )
    )
    assert not offenders, f"word 3-grams built outside dedup.py: {offenders}"


def test_env_reads_are_the_documented_ones():
    """Every environment variable the library reads is a documented
    deployment or scale hook; a knob that nothing sets is dead code."""
    import re
    from pathlib import Path

    import tpctools_spark

    allowed = {
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
        "TPCTOOLS_TPCH_DIR", "TPCTOOLS_TPCDS_DIR", "TPCTOOLS_NO_CHECKPOINT",
    }
    read = re.compile(r"""(?:environ(?:\.get|\.pop|\.setdefault)?|getenv)\s*[(\[]\s*(["']?)(\w*)""")
    stray = sorted(
        f"{p.name}: {name if quote else '<computed name>'}"
        for p in Path(tpctools_spark.__file__).parent.rglob("*.py")
        for quote, name in read.findall(p.read_text())
        if not quote or name not in allowed
    )
    assert not stray, f"undocumented environment reads: {stray}"


def test_library_modules_define_each_top_level_name_once():
    """A second top-level ``def``/``class`` of the same name silently
    rebinds the first; anything registered through the first (a query's
    oracle, a decorator's target) then disagrees with what the module
    exports."""
    import ast
    from collections import Counter
    from pathlib import Path

    import tpctools_spark

    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    twice = []
    for p in sorted(Path(tpctools_spark.__file__).parent.rglob("*.py")):
        defs = Counter(
            n.name
            for n in ast.parse(p.read_text()).body
            if isinstance(n, kinds)
        )
        twice += [f"{p.name}: {name}" for name, k in defs.items() if k > 1]
    assert not twice, f"top-level names defined twice: {twice}"


def test_query_module_imports_are_acyclic():
    """Each decision lives in one query module: the graph of
    ``from tpctools_spark.queries.X import`` edges between
    ``queries/*.py``, module-level and function-level alike, has no
    cycle."""
    import ast
    from pathlib import Path

    import tpctools_spark.queries as Q

    prefix = "tpctools_spark.queries."
    deps = {
        p.stem: {
            n.module[len(prefix):].split(".")[0]
            for n in ast.walk(ast.parse(p.read_text()))
            if isinstance(n, ast.ImportFrom)
            and (n.module or "").startswith(prefix)
        }
        - {p.stem}
        for p in Path(Q.__file__).parent.glob("*.py")
    }
    done: set[str] = set()

    def visit(mod: str, path: list[str]) -> None:
        if mod in path:
            raise AssertionError(
                "import cycle: " + " -> ".join(path[path.index(mod):] + [mod])
            )
        if mod in done:
            return
        for dep in sorted(deps.get(mod, ())):
            visit(dep, path + [mod])
        done.add(mod)

    for mod in sorted(deps):
        visit(mod, [])


def test_library_modules_share_no_private_helper_name():
    """A private helper is defined in one library module. Two modules
    each defining ``_x`` are either copies of one body (import it) or
    different functions under one name (rename one)."""
    import ast
    from collections import defaultdict
    from pathlib import Path

    import tpctools_spark

    root = Path(tpctools_spark.__file__).parent
    where: dict[str, list[str]] = defaultdict(list)
    for p in sorted(root.rglob("*.py")):
        for n in ast.parse(p.read_text()).body:
            if (
                isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                and n.name.startswith("_")
                and not n.name.startswith("__")
            ):
                where[n.name].append(str(p.relative_to(root)))
    shared = {name: mods for name, mods in where.items() if len(mods) > 1}
    assert not shared, f"private helpers defined in two modules: {shared}"


# Functions whose schema-less parquet read is the point: each reads back
# a path the same query just wrote, or tests what inference returns.
_INFERRED_READS = {
    "scan_schema_evolution",
    "join_dpp_partitioned",
    "sink_parquet_snappy",
    "sink_compact_small_files",
    "sink_partitioned_prune",
    "sink_sorted_stats_prune",
    "sink_parquet_bloom",
}


def test_parquet_reads_are_typed():
    """Every table is read with a schema (``catalog.read_table``): a
    ``read.parquet`` without ``.schema(...)`` in its call chain starts a
    Spark job to infer one, and takes whatever the session's inference
    confs say. Only the allowlisted read-backs may infer."""
    import ast
    from pathlib import Path

    import tpctools_spark

    def chain(node):
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                yield node.attr
                node = node.value
            else:
                node = node.func

    def visit(node, func, out):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
            ):
                names = set(chain(child.func.value))
                if names & {"read", "readStream"} and "schema" not in names:
                    out.append((inner, child.lineno))
            visit(child, inner, out)

    root = Path(tpctools_spark.__file__).parent
    untyped = []
    for p in sorted(root.rglob("*.py")):
        reads: list = []
        visit(ast.parse(p.read_text()), "<module>", reads)
        untyped += [
            f"{p.relative_to(root)}:{line} in {func}"
            for func, line in reads
            if func not in _INFERRED_READS
        ]
    assert not untyped, f"schema-less parquet reads: {untyped}"
