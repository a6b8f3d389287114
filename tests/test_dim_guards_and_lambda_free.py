"""Dimension-drift guards and lambda-free plan pins.

Oracle checks prove Spark ≡ DuckDB; these pin properties the round's
changes CLAIM: embedding-dimension drift fails loudly instead of
silently dropping pairs (r11 ADVICE), and the harness-level cache
hygiene convention holds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _collect_err(df):
    with pytest.raises(Exception) as ei:
        df.collect()
    return str(ei.value)


def test_lsh_cosine_rejects_dim_drift(spark, tmp_path):
    """The LSH signature build guards the dim: a corpus with dim != 64
    errors instead of producing NULL-gated empty output."""
    from tpctools_spark.registry import spark_queries

    bad_dir = str(tmp_path / "sfbad")
    spark.createDataFrame(
        [(i, [0.1 * i, 0.2, 0.3, 0.4]) for i in range(1, 40)],
        "vec_id bigint, embedding array<float>",
    ).write.parquet(f"{bad_dir}/embeddings.parquet")
    msg = _collect_err(
        spark_queries()["dedup_lsh_cosine"](spark, bad_dir)
    )
    assert "dedup_lsh_cosine" in msg and "got 4" in msg
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name",
    [
        "dedup_embedding",
        "dedup_embedding_incremental",
        "dedup_semantic_prune",
        "sim_pq_topk",
    ],
)
def test_cell_scans_reject_dim_drift(spark, tmp_path, name):
    """The Arrow scans read embeddings as n×64 matrices
    (``_runscan.fixed_width``); a 4-dim corpus must raise, naming the
    observed dim, instead of mis-reshaping into wrong cosines or codes.
    The corpus holds vec_ids 0..79 so that PQ's seed vectors 0..63
    exist; PQ fails while building its codebook, inside the query
    call."""
    from tpctools_spark.registry import spark_queries

    bad_dir = str(tmp_path / "sfbad")
    spark.createDataFrame(
        [(i, i % 3, [0.1 * i, 0.2, 0.3, 0.4]) for i in range(80)],
        "vec_id bigint, label int, embedding array<float>",
    ).write.parquet(f"{bad_dir}/embeddings.parquet")
    with pytest.raises(Exception) as ei:
        spark_queries()[name](spark, bad_dir).collect()
    assert "embedding dim != 64 (got 4)" in str(ei.value)
    spark.catalog.clearCache()


def test_dsir_bigram_plan_is_lambda_free(spark):
    """The r12 8.2× win came from evicting the interpreted HOF
    transform() lambda from the bigram build; pin the shape so a
    refactor cannot quietly reintroduce it. arrays_zip must feed the
    explode and no ArrayTransform may appear anywhere in the analyzed
    plan of the hashed stream."""
    from tpctools_spark.catalog import table
    from tpctools_spark.queries.pipeline import _dsir_hashed

    plan = (
        _dsir_hashed(table(spark, SF, "documents"))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "arrays_zip" in plan, "native adjacent-pair zip missing"
    assert "transform(" not in plan, (
        "interpreted HOF transform() lambda reintroduced in the DSIR "
        "bigram build (r12: ~12s of a 14.4s query at 500k)"
    )


def test_bigram_lm_plan_is_lambda_free(spark):
    """Same pin for text_bigram_lm's gram stream (ported r12)."""
    from tpctools_spark.registry import spark_queries

    plan = (
        spark_queries()["text_bigram_lm"](spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "arrays_zip" in plan
    assert "transform(sequence" not in plan
