"""Behavioral invariants for the dedup family on a planted corpus.

The rows-only dedup queries (minhash, simhash) can't be oracle-checked,
so these tests plant known exact/near/unrelated duplicates and assert
recall/specificity properties.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles watch from a mossy riverbank under pale morning "
    "light and a distant train whistles through the valley below"
)
NEAR = BASE.replace("seventeen", "nineteen").replace("morning", "evening")
UNRELATED = [
    "completely different subject matter about quarterly financial "
    "reports and accounting ledgers for the fiscal year ending soon",
    "a recipe for sourdough bread requires flour water salt patience "
    "and a healthy starter culture fed twice daily for a week",
    "spacecraft navigation relies on star trackers gyroscopes and "
    "ground based radio telemetry for orbit determination and control",
]


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planted"))
    rows = [(1, BASE), (2, BASE), (3, NEAR)]
    rows += [(10 + i, t) for i, t in enumerate(UNRELATED)]
    df = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_exact_finds_planted_copy(spark, planted_dir):
    from tpctools_spark.registry import spark_queries

    out = spark_queries()["dedup_exact"](spark, planted_dir).collect()
    groups = {r.keep_id: r.n_copies for r in out}
    assert groups[1] == 2  # docs 1 and 2 collapse, keep lowest id
    assert sum(groups.values()) == 6
    assert len(groups) == 5


def test_minhash_recall_and_specificity(spark, planted_dir):
    from tpctools_spark.registry import spark_queries

    out = spark_queries()["dedup_minhash"](spark, planted_dir).collect()
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in out}
    assert pairs[(1, 2)] == 1.0  # identical text → identical signature
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup recalled
    for (a, b), _ in pairs.items():
        assert b <= 12 and {a, b} & {1, 2, 3}, f"false positive pair {(a, b)}"


def test_simhash_identical_for_exact_copy(spark, planted_dir):
    from tpctools_spark.registry import spark_queries

    out = spark_queries()["dedup_simhash"](spark, planted_dir).collect()
    sig = {r.doc_id: r.simhash for r in out}
    assert sig[1] == sig[2]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # Near-dups on ~30-word docs land around hamming 7-11 (each word
    # votes on all 64 bits), far below unrelated text (~32): assert the
    # ordering, which is the property bucketing depends on at scale.
    near = hamming(sig[1], sig[3])
    unrelated = min(hamming(sig[1], sig[d]) for d in (10, 11, 12))
    assert near < unrelated / 2


def test_ngram_jaccard_exact_ratio(spark, planted_dir):
    from tpctools_spark.registry import spark_queries

    out = spark_queries()["dedup_ngram_jaccard"](spark, planted_dir).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] > 0.5  # 4 changed grams out of ~31
    assert not any({a, b} <= {10, 11, 12} for a, b in pairs)


def test_cluster_components_transitivity(spark, planted_dir):
    """1≈2 (exact) and 2≈3 (near) must land in ONE cluster with 1 as
    canonical even if the 1-3 edge is weak; unrelated docs stay
    singletons with keep=True."""
    from tpctools_spark.registry import spark_queries

    rows = spark_queries()["dedup_cluster_components"](
        spark, planted_dir
    ).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert len(rows) == 6  # every doc appears exactly once
    assert by_doc[1].cluster_id == by_doc[2].cluster_id == by_doc[3].cluster_id == 1
    assert by_doc[1].cluster_size == 3
    assert by_doc[1].keep and not by_doc[2].keep and not by_doc[3].keep
    for d in (10, 11, 12):
        assert by_doc[d].cluster_id == d and by_doc[d].cluster_size == 1
        assert by_doc[d].keep


def _hot_gram_dir(spark, out: str) -> str:
    """A boilerplate sentence shared by 120 docs (df > JACCARD_DF_CAP)
    plus one control pair of identical selective text (df = 2)."""
    from tpctools_spark.queries.dedup import JACCARD_DF_CAP

    boiler = "this document is provided as is without warranty of any kind"
    rows = [
        (i, f"{boiler} unique filler number {i} alpha beta")
        for i in range(120)
    ]
    control = "seventeen green turtles watch from a mossy riverbank tonight"
    rows += [(9001, control), (9002, control)]
    assert 120 > JACCARD_DF_CAP  # the plant actually exceeds the cap
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_jaccard_hot_gram_cap(spark, tmp_path):
    """A boilerplate sentence shared by 120 docs (df > JACCARD_DF_CAP)
    must NOT explode into ~120²/2 candidate pairs — the df-cap drops the
    hot grams from candidate generation entirely, while selective grams
    (df=2 control pair) still dedup exactly."""
    from tpctools_spark.registry import spark_queries

    out = _hot_gram_dir(spark, str(tmp_path / "hotgram"))
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in spark_queries()["dedup_ngram_jaccard"](spark, out).collect()
    }
    # Without the cap every boilerplate pair scores 10/(29-10) ≈ 0.53 →
    # 7140 pairs; with it the hot grams vanish and only the control
    # pair (whose grams have df=2) survives.
    assert pairs == {(9001, 9002): 1.0}


def _components(sets, ids=None):
    """``_components_numpy`` over documents given as gram-hash lists."""
    import numpy as np

    from tpctools_spark.queries.dedup import _components_numpy

    ids = np.arange(len(sets)) if ids is None else np.asarray(ids)
    lens = np.array([len(s) for s in sets], dtype=np.int64)
    grams = np.array([g for s in sets for g in s], dtype=np.int64)
    cluster, size = _components_numpy(ids.astype(np.int64), lens, grams)
    return cluster.tolist(), size.tolist()


def test_components_kernel_chain_is_one_component():
    """A 1000-link chain (doc i shares one of its two grams with doc
    i+1, Jaccard 1/3) is one component labelled 0 — pointer jumping
    converges where plain propagation would take 1000 rounds."""
    cluster, size = _components([[i, i + 1] for i in range(1001)])
    assert set(cluster) == {0}
    assert set(size) == {1001}


def test_components_kernel_disjoint_components_and_gramless_doc():
    """Two disjoint components get their minimum doc ids (not row
    positions), and a document without grams is a singleton."""
    cluster, size = _components(
        [[1, 2], [2, 3], [], [10, 11], [11, 12]], ids=[50, 40, 30, 20, 10]
    )
    assert cluster == [40, 40, 30, 10, 10]
    assert size == [2, 2, 1, 2, 2]


def test_components_kernel_empty_input():
    assert _components([]) == ([], [])


def test_components_kernel_df_cap_boundary():
    """A gram at df = JACCARD_DF_CAP still links its documents; one at
    CAP + 1 is dropped, leaving its documents singletons."""
    from tpctools_spark.queries.dedup import JACCARD_DF_CAP as CAP

    cluster, size = _components([[7]] * CAP + [[8]] * (CAP + 1))
    assert cluster[:CAP] == [0] * CAP and size[:CAP] == [CAP] * CAP
    assert cluster[CAP:] == list(range(CAP, 2 * CAP + 1))
    assert size[CAP:] == [1] * (CAP + 1)


def test_components_kernel_pair_chunks_agree(monkeypatch):
    """Counting pairs over many small ``run_pairs`` chunks — a node's
    partial counts carried from chunk to chunk — gives the one-chunk
    answer."""
    import numpy as np

    from tpctools_spark.queries import _runscan

    rng = np.random.default_rng(0)
    sets = [sorted(set(rng.integers(0, 400, 6).tolist())) for _ in range(2000)]
    one_chunk = _components(sets)
    assert max(one_chunk[1]) > 1
    monkeypatch.setattr(_runscan, "_PAIR_CHUNK", 997)
    assert _components(sets) == one_chunk


def _component_rows(spark, sf, monkeypatch, caplog, path):
    """``dedup_cluster_components`` rows on ``path`` ("arrow"/"loop"),
    forced through the scan gate, with the path the gate logged."""
    import logging

    from tpctools_spark.queries import dedup as D

    with monkeypatch.context() as m:
        if path == "loop":
            m.setattr(D, "_CC_ARROW_MAX_SCAN_BYTES", 0)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="tpctools_spark"):
            rows = D.dedup_cluster_components(spark, sf).collect()
    assert f"dedup_cluster_components: {path} " in caplog.text
    if path == "loop":
        assert re.search(
            r"dedup_cluster_components: loop converged in \d+ rounds",
            caplog.text,
        )
    spark.catalog.clearCache()
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("corpus", ["planted", "hot_gram", "sf0.001"])
def test_components_paths_agree(
    spark, sf_dir, planted_dir, tmp_path, monkeypatch, caplog, corpus
):
    """The single-task Arrow path and the distributed loop give the
    same rows, singletons included."""
    sf = {
        "planted": lambda: planted_dir,
        "hot_gram": lambda: _hot_gram_dir(spark, str(tmp_path)),
        "sf0.001": lambda: sf_dir,
    }[corpus]()
    arrow = _component_rows(spark, sf, monkeypatch, caplog, "arrow")
    assert arrow == _component_rows(spark, sf, monkeypatch, caplog, "loop")
    assert any(r[2] > 1 for r in arrow)


def test_components_gate_counts_text_not_file_bytes(spark, tmp_path, caplog):
    """One document repeated 60 times is tiny on disk (one dictionary
    entry) but over the text-byte cap: the exact check sends it to the
    loop. Every gram is in 60 > JACCARD_DF_CAP documents, so all are
    dropped and every copy is its own cluster."""
    import logging

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tpctools_spark.catalog import table
    from tpctools_spark.queries import dedup as D
    from tpctools_spark.queries._util import scan_size_bytes

    words = np.random.default_rng(0).integers(0, 5000, 80_000)
    text = " ".join(f"w{w}" for w in words)
    copies = 60
    assert copies > D.JACCARD_DF_CAP
    assert copies * len(text) > D._CC_ARROW_MAX_TEXT_BYTES  # ASCII: bytes
    (tmp_path / "documents.parquet").mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(copies), pa.int64()),
                "text": pa.array([text] * copies),
                "lang": pa.array(["en"] * copies),
                "source": pa.array(["test"] * copies),
                "n_chars": pa.array([len(text)] * copies, pa.int64()),
            }
        ),
        tmp_path / "documents.parquet" / "part-0.parquet",
    )
    docs = table(spark, str(tmp_path), "documents")
    assert 0 <= scan_size_bytes(docs) < D._CC_ARROW_MAX_SCAN_BYTES
    with caplog.at_level(logging.INFO, logger="tpctools_spark"):
        rows = D.dedup_cluster_components(spark, str(tmp_path)).collect()
    spark.catalog.clearCache()
    assert "dedup_cluster_components: loop (scan_size_bytes=" in caplog.text
    assert f"rows={copies}, text_bytes={copies * len(text)})" in caplog.text
    assert sorted(tuple(r) for r in rows) == [
        (i, i, 1, True) for i in range(copies)
    ]


def test_components_job_budget_on_small_corpus(spark, tmp_path):
    """On a 4k-document corpus the whole query — gate, build and
    collect — starts at most 3 Spark jobs (the loop starts ~29)."""
    from tpctools_spark.generate_corpus import gen_documents
    from tpctools_spark.registry import spark_queries

    gen_documents(spark, 4000, parts=4).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sc = spark.sparkContext
    group = "components_job_budget"
    sc.setJobGroup(group, group)
    try:
        rows = spark_queries()["dedup_cluster_components"](
            spark, str(tmp_path)
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(rows) == 4000
    assert len(jobs) <= 3, f"{len(jobs)} jobs"


def test_lsh_cosine_matches_brute_force(spark, tmp_path):
    """After exact rescoring, LSH output ⊆ brute-force pairs by
    construction (precision 1). Recall is asserted where banded LSH
    actually promises it — NEAR-DUP pairs: on planted ≈0.9996-cosine
    copies the 4-band geometry's miss probability is ~2e-5 per pair
    (and the fixture+signs are deterministic, so the outcome is
    fixed). The sf0.01 fixture's only true pairs sit at 0.51–0.60
    cosine, where per-pair recall is ~0.3 BY DESIGN (P = 1-(1-p^b)^4,
    p = 1-θ/π ≈ 0.66) — the old total-recall assertion on them held
    only by luck of the (skewed, since-fixed) sign hash."""
    import duckdb

    from tpctools_spark.registry import spark_queries

    sf = "/root/testdata/sf0.01"
    got = {
        (r.vec_a, r.vec_b)
        for r in spark_queries()["dedup_lsh_cosine"](spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    truth = {
        tuple(r)
        for r in con.execute(
            """
            WITH prep AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings)
            SELECT a.vec_id, b.vec_id FROM prep a JOIN prep b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.e, b.e) >= 0.5
            """
        ).fetchall()
    }
    con.close()
    assert got <= truth  # rescoring guarantees precision

    # Recall on planted near-dups: vec_b = vec_a + 10, vec_b % 70 == 0.
    from tpctools_spark.generate_corpus import gen_embeddings_scattered

    planted_dir = str(tmp_path / "planted")
    gen_embeddings_scattered(spark, 2000, dim=64, parts=4).write.mode(
        "overwrite"
    ).parquet(f"{planted_dir}/embeddings.parquet")
    found = {
        (r.vec_a, r.vec_b)
        for r in spark_queries()["dedup_lsh_cosine"](spark, planted_dir)
        .filter((F.col("vec_b") == F.col("vec_a") + 10) & (F.col("vec_b") % 70 == 0))
        .collect()
    }
    planted = {(b - 10, b) for b in range(70, 2000, 70)}
    assert found == planted  # total recall on true near-dups


def test_dedup_funnel_accounting(spark):
    """The funnel must balance: total = exact_removed + near_removed +
    final, and the fixtures' planted near-dups must actually be caught
    (n_near_removed > 0)."""
    from tpctools_spark.registry import spark_queries

    r = spark_queries()["pipeline_dedup_funnel"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.n_total == r.n_exact_removed + r.n_near_removed + r.n_final
    assert r.n_near_removed > 0
    assert r.n_final > 0


@pytest.mark.parametrize("cap_over", ["corpus", "corpus_and_batch"])
def test_admission_probe_labels_each_case(spark, cap_over):
    """Every label of the admission probe, for both callers' df-cap
    scopes: an exact copy of a corpus document, a near copy, a new
    document, and a second copy of that new document in the same batch,
    which must not count as its match."""
    from tpctools_spark.queries.dedup import _admission_probe

    base = " ".join(f"w{i}" for i in range(10))
    other = " ".join(f"v{i}" for i in range(10))
    fresh = " ".join(f"u{i}" for i in range(10))
    schema = "doc_id bigint, text string"
    corpus = spark.createDataFrame([(1, base), (2, other)], schema)
    batch = spark.createDataFrame(
        [(10, base), (11, base + " x"), (12, fresh), (13, fresh)], schema
    )
    cap_docs = corpus if cap_over == "corpus" else corpus.unionByName(batch)
    _, admit = _admission_probe(cap_docs)
    assert dict(admit(batch).collect()) == {
        10: "exact_dup", 11: "near_dup", 12: "accept", 13: "accept",
    }


def test_boilerplate_windows_flag_planted_copies(spark, planted_dir):
    """Exact copies must have EVERY aligned window flagged as
    boilerplate (kept_words 0); unrelated docs must have none."""
    from tpctools_spark.registry import spark_queries

    rows = {
        r.doc_id: r
        for r in spark_queries()["dedup_boilerplate_windows"](
            spark, planted_dir
        ).collect()
    }
    for dup in (1, 2):  # docs 1 and 2 are verbatim copies of BASE
        assert rows[dup].n_boilerplate == rows[dup].n_windows > 0
        assert rows[dup].kept_words == 0
    # NEAR (doc 3) differs from BASE inside two windows but shares the
    # rest verbatim — partially boilerplate, never fully
    assert 0 < rows[3].n_boilerplate < rows[3].n_windows
    # unrelated docs share no 8-word window with anything
    for uid in range(10, 13):
        assert rows[uid].n_boilerplate == 0
        assert rows[uid].kept_words > 0


def test_lsh_bits_scale_rule():
    """Corpus-adaptive LSH geometry: the smallest b with 8·2^b ≥ n,
    floored at 4 (the fixture geometry), so expected bucket occupancy
    never exceeds the target at any corpus size."""
    from tpctools_spark.queries.dedup import _LSH_BUCKET_TARGET, _lsh_bits

    assert _LSH_BUCKET_TARGET == 8  # the constants below encode it
    assert _lsh_bits(0) == 4
    assert _lsh_bits(128) == 4  # 8·2^4 = 128: the floor geometry's edge
    assert _lsh_bits(129) == 5
    assert _lsh_bits(500_000) == 16
    for n in (1, 512, 513, 50_000, 500_000, 10_000_000):
        b = _lsh_bits(n)
        assert n <= _LSH_BUCKET_TARGET * (1 << b)  # occupancy bound
        # and b is minimal (above the floor)
        assert b == 4 or n > _LSH_BUCKET_TARGET * (1 << (b - 1))


def test_lsh_arrow_signatures_match_oracle(
    planted_embeddings, oracle_parity
):
    """The Arrow signature build claims BIT-identical plane sums to the
    oracle's left-to-right ``list_reduce`` (same IEEE ops in the same
    order), so a numpy/pyarrow upgrade that broke the accumulation order
    would be a silent oracle break. Pin exact output equality (ids AND
    truncated cosines) on a planted corpus."""
    d, con = planted_embeddings
    assert oracle_parity(con, d, "dedup_lsh_cosine"), (
        "parity corpus produced no pairs"
    )


def test_minhash_arrow_and_join_tails_are_value_identical(
    spark, tmp_path, monkeypatch
):
    """The r13 Arrow within-bucket agreement scan claims the same pair
    set as the band-join + signature-rejoin fallback (the agreement
    count is all-integer, so only candidate generation could drift).
    Pin full output equality on a generated corpus with planted
    near-dups exercising both paths.

    The Arrow tail is SIZE-GATED (``_minhash_arrow_enabled``), so each
    leg is forced by moving ``_MINHASH_ARROW_MIN_BYTES``; the scan
    STREAMS sorted batches (carry/flush at bucket-run boundaries), so
    the Arrow leg also shrinks ``arrow.maxRecordsPerBatch`` to force
    many batches per partition and exercise run-straddling carries."""
    import sys

    from tpctools_spark.generate_corpus import gen_documents
    from tpctools_spark.queries import dedup as D
    from tpctools_spark.registry import spark_queries

    d = str(tmp_path / "parity")
    gen_documents(spark, 3000, parts=4, vocab_size=5000).write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")

    def rows():
        out = sorted(
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in spark_queries()["dedup_minhash"](spark, d).collect()
        )
        spark.catalog.clearCache()
        return out

    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(batch_key, None)
    monkeypatch.setattr(D, "_MINHASH_ARROW_MIN_BYTES", 0)
    spark.conf.set(batch_key, "256")  # many batches → straddled runs
    try:
        arrow_rows = rows()
    finally:
        if old_batch is None:
            spark.conf.unset(batch_key)
        else:
            spark.conf.set(batch_key, old_batch)
    monkeypatch.setattr(D, "_MINHASH_ARROW_MIN_BYTES", sys.maxsize)
    join_rows = rows()
    assert arrow_rows, "parity corpus produced no pairs"
    assert arrow_rows == join_rows


def test_minhash_arrow_gate_reads_scan_size(spark):
    """The r14 size gate: small corpora route to the JVM join tail
    (the measured −21%/−11% small-tier fix), and an unknown size
    estimate gates OPEN (scale-safe: at 100 TB the gate must never fail
    closed)."""
    from tpctools_spark.catalog import table
    from tpctools_spark.queries import dedup as D

    raw = table(spark, "/root/testdata/sf0.001", "documents")
    assert not D._minhash_arrow_enabled(raw)  # ~65 KB << 16 MiB gate

    class _NoStats:
        @property
        def _jdf(self):
            raise RuntimeError("no plan")

    assert D._minhash_arrow_enabled(_NoStats())  # unknown → open


def test_minhash_gate_logs_its_choice(spark, sf_dir, caplog):
    """The minhash tail choice is logged once at INFO with its input."""
    import logging

    from tpctools_spark.catalog import table
    from tpctools_spark.queries import dedup as D
    from tpctools_spark.queries._util import scan_size_bytes

    raw = table(spark, sf_dir, "documents")
    with caplog.at_level(logging.INFO, logger="tpctools_spark"):
        D._minhash_arrow_enabled(raw)
    msgs = [r.getMessage() for r in caplog.records if r.name.startswith("tpctools_spark")]
    assert msgs == [
        f"dedup_minhash: jvm tail (scan_size_bytes={scan_size_bytes(raw)})"
    ]


def test_components_gate_logs_its_choice(spark, sf_dir, caplog):
    """The components path is logged once at INFO with the scan size
    and, once read, the exact row and text-byte counts."""
    import logging

    from tpctools_spark.catalog import table
    from tpctools_spark.queries import dedup as D

    docs = table(spark, sf_dir, "documents")
    with caplog.at_level(logging.INFO, logger="tpctools_spark"):
        assert D._components_arrow_enabled(docs)
    msgs = [r.getMessage() for r in caplog.records if r.name.startswith("tpctools_spark")]
    assert len(msgs) == 1
    assert msgs[0].startswith("dedup_cluster_components: arrow (scan_size_bytes=")
    assert msgs[0].endswith("rows=500, text_bytes=153156)")
