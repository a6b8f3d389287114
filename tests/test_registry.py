"""Driver-contract tests: registry shape and __spark_entry__ surface."""

from __future__ import annotations


def test_every_oracle_has_a_query():
    from tpctools_spark.registry import oracle_queries, spark_queries

    missing = set(oracle_queries()) - set(spark_queries())
    assert not missing, f"oracles without spark queries: {missing}"


def test_inventory_size():
    from tpctools_spark.registry import oracle_queries, spark_queries

    assert len(spark_queries()) >= 60
    assert len(oracle_queries()) >= 48


def test_entry_module_surface():
    import __spark_entry__ as m

    qs = m.queries()
    os_ = m.oracle_sql()
    assert callable(m.entry)
    assert set(os_) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_entry_flagship_runs(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "l_returnflag" in df.columns


def test_rotation_demotes_only_passing_keys():
    """A key that failed the driver hard-check must stay in the front
    of the rotation (re-verified next round); only passing keys are
    demoted to the tail. Shape drift degrades to 'no sample'."""
    from tpctools_spark.registry import _passed_keys

    art = {
        "ok_hash": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "err": None},
        "ok_rows_only": {"rows_match": True, "schema_match": True,
                         "hash_match": None, "err": None},
        "bad_hash": {"rows_match": True, "schema_match": True,
                     "hash_match": False, "err": None},
        "bad_rows": {"rows_match": False, "schema_match": True,
                     "hash_match": None, "err": None},
        "errored": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "err": "boom"},
        "legacy_opaque": 1981,
    }
    assert _passed_keys(art) == {"ok_hash", "ok_rows_only", "legacy_opaque"}
    assert _passed_keys(["a", "b"]) == set()
    assert _passed_keys("junk") == set()


def test_readme_inventory_table_matches_registry():
    """The README verification map must list EVERY registered query with
    the right check kind — regenerated wholesale when queries are added,
    so drift (a missing row, a stale count) fails here, not in review."""
    import re

    from tpctools_spark.registry import oracle_queries, spark_queries

    qs = spark_queries()
    os_ = oracle_queries()
    text = open("/root/repo/README.md").read()
    found = re.findall(
        r"^\| `([a-z0-9_]+)` \| (oracle|rows-only) \|", text, re.M
    )
    rows = dict(found)
    missing = sorted(set(qs) - set(rows))
    assert not missing, f"README table missing: {missing[:10]}"
    # Each query appears exactly once: a stale second copy of the table
    # (left behind when a regeneration stopped at a hand-edited row)
    # must fail here.
    seen = [k for k, _ in found if k in qs]
    dupes = sorted({k for k in seen if seen.count(k) > 1})
    assert not dupes and len(seen) == len(qs), f"README rows repeated: {dupes[:10]}"
    for k in qs:
        want = "oracle" if k in os_ else "rows-only"
        assert rows[k] == want, (k, rows[k], want)
    assert f"**{len(qs)} registered queries**" in text
    # Pin EVERY numeric "N-query"/"N queries"/"N registered" prose count
    # to the live registry size, so any future count sentence the
    # generator forgets to rewrite fails here instead of going stale.
    for m in re.finditer(
        r"(\d+)(?=-query operator inventory| queries| registered queries)",
        text,
    ):
        assert int(m.group(1)) == len(qs), (
            f"stale count {m.group(0)!r} at README offset {m.start()}"
        )
