"""Physical-plan assertions for the retrieval/span ops.

Locks the scale shapes: BM25 must broadcast its constant-size sides
and keep top-k as TakeOrderedAndProject; PQ must broadcast the
codebook and LUT (never pairing corpus rows with corpus rows); the
repeated-span dedup must contain NO join at all — its whole point is
replacing the postings self-join with two linear window passes.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("+- == Initial Plan ==")[0]


def test_bm25_broadcasts_and_topk(spark):
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["text_bm25_search"](spark, SF)
    plan = _plan(df)
    # df (|terms| rows) rides a broadcast hash join; the one-row
    # (N, avgdl) stats relation is the only nested-loop site.
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    # global top-k never materializes a full sort.
    assert "TakeOrderedAndProject" in plan


def test_pq_codebook_and_lut_broadcast(spark):
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["sim_pq_topk"](spark, SF)
    plan = _plan(df)
    # encode join (corpus x codebook) and score join (codes x LUT)
    # must both be broadcast-keyed — no shuffle sized by M*K, and
    # never a corpus-with-corpus pair join. The single permitted BNLJ
    # is the ONE-ROW probe vector crossed onto the C-row rescore
    # shortlist (constant build side, bounded probe side).
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_repeated_spans_has_no_join(spark):
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["dedup_repeated_spans"](spark, SF)
    plan = _plan(df)
    # The defining property vs Jaccard pair generation: duplicate-gram
    # detection is a WINDOW COUNT (linear), not a postings self-join
    # (quadratic in document frequency). Any join here is a regression.
    assert "Join" not in plan
    assert plan.count("Window") >= 2  # gram-count pass + per-doc lag pass


def test_bfs_is_keyed_joins_only(spark):
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["graph_bfs_distance"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_bitmap_overlap_merges_sketch_state_only(spark):
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["agg_bitmap_overlap"](spark, SF)
    plan = _plan(df)
    # Raw (user) rows collapse to bitmaps exactly once; every later
    # stage (pair expansion, union merge, size joins) must operate on
    # bitmap/aggregate state — i.e. exactly one scan of the events
    # parquet in the whole plan.
    assert plan.count("Scan parquet") + plan.count("FileScan parquet") >= 1
    import re
    assert len(re.findall(r"events\.parquet", plan)) <= 2  # shared via exchange reuse
    # pair spine and size tables ride broadcasts; no cartesian.
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_repeated_spans_invariants(spark):
    """Span accounting must be internally consistent on real data."""
    from tpctools_spark.registry import spark_queries

    rows = spark_queries()["dedup_repeated_spans"](spark, SF).collect()
    assert rows, "fixture corpus has duplicate 5-gram spans by construction"
    for r in rows:
        # every duplicate gram covers at most W new tokens; every span
        # needs at least one gram; coverage can't exceed the document.
        assert 1 <= r.n_spans <= r.n_dup_grams
        assert r.n_spans * 5 <= r.dup_tokens or r.n_spans == r.n_dup_grams
        assert r.dup_tokens <= r.n_dup_grams * 5
        assert 0.0 <= r.dup_ratio <= 1.0


def test_pq_recall_bounds(spark):
    from tpctools_spark.registry import spark_queries

    row = spark_queries()["sim_pq_recall"](spark, SF).collect()[0]
    assert row.k == 10
    assert 0 <= row.n_hits <= 10
    # The round-13 shortlist-rescore pipeline (M=8×K=64 Lloyd-refined
    # codebooks, ADC top-100 rescored exactly) measures 10/10 at
    # sf0.001 and at the 50k bench point (0.9 at sf0.01, 0.7 at
    # sf0.1). Pin a floor that the oracle-checked pipeline must hold.
    assert row.n_hits >= 8


def test_hilbert_matches_reference_and_is_shuffle_free(spark):
    """The generated SQL must BE the canonical xy2d — checked against
    the driver-side Python reference on real rows — and the address
    projection must plan with zero exchanges."""
    from tpctools_spark.queries.mining import hilbert_xy2d_py
    from tpctools_spark.registry import spark_queries

    df = spark_queries()["layout_hilbert_address"](spark, SF)
    rows = df.collect()
    assert rows
    for r in rows[:200]:
        assert r.haddr == hilbert_xy2d_py(r.x, r.y), (r.x, r.y)
    # curve property: consecutive addresses are grid neighbors, so the
    # full 256x256 address range is a bijection — spot-check bounds.
    assert all(0 <= r.haddr < 65536 for r in rows)
    plan = _plan(df)
    assert "Exchange" not in plan


def test_pq_build_arrow_and_join_forms_are_value_identical(spark, duck):
    """The Arrow argmin build (`_pq_build`) must emit exactly the
    codebook and code table of the oracle's broadcast-join form
    (`_pq_cte`'s ``cb`` and ``enc``) — all quantities are int64
    (fixed-point vectors, squared L2, partial sums), numpy argmin's
    first-minimal-index equals the (d, c) tie-break over code-id-ordered
    rows, and the toward-zero `div` stays in the JVM, so equality must
    be EXACT."""
    from tpctools_spark.queries.retrieval import _pq_build, _pq_cte

    cb, enc = _pq_build(spark, SF)

    def canon(rows):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in rows
        )

    def oracle(sql):
        return canon(duck.sql(f"WITH {_pq_cte()} {sql}").fetchall())

    got_cb = canon(cb.select("cs", "c", "csv").collect())
    assert got_cb and got_cb == oracle("SELECT s, c, csv FROM cb")
    got_enc = canon(enc.select("vec_id", "label", "s", "code").collect())
    assert got_enc and got_enc == oracle(
        "SELECT vec_id, label, s, code FROM enc"
    )
