"""Exact value parity vs DuckDB for a representative query subset.

Full-inventory parity runs via ``scripts/check_oracle.py`` (and the
driver's own gate); here a cross-category subset keeps the pytest suite
fast while still catching regressions in determinism hygiene (decimal
sums, truncation, timezone pinning).
"""

from __future__ import annotations

import pytest

SUBSET = [
    "agg_group_sum",
    "filter_pred",
    "join_inner_equi",
    "join_asof_event",
    "window_rank_topn",
    "window_session",
    "window_tumbling",
    "scalar_math_decimal",
    "scalar_json",
    "sort_multi_key",
    "dedup_exact",
    "sim_cosine_topk",
    "text_tokens",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q13_customer_distribution",
    "tpch_q17_small_quantity_revenue",
    "tpch_q22_global_sales_opportunity",
    "tpcds_q5_channel_rollup",
]


@pytest.mark.parametrize("name", SUBSET)
def test_matches_duckdb(duck, sf_dir, oracle_parity, name):
    oracle_parity(duck, sf_dir, name)
