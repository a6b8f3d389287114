"""Retrieval / training-corpus ops: BM25 search, product-quantization
ANN, and exact repeated-substring span dedup — §2.B.10 extensions.

Three operators a 100 TB training-data pipeline runs constantly:

- ``text_bm25_search`` — lexical top-k retrieval with BM25 scoring
  (the classic probabilistic ranking function; Robertson & Zaragoza
  2009). The inverted structure is implicit: term postings are a
  filtered explode, document frequencies a map-side-combinable agg,
  and the corpus-level constants (N, avgdl) a one-row broadcast.
- ``sim_pq_topk`` — product-quantization ANN (Jégou et al. 2011):
  vectors are split into M subspaces, each encoded as the id of its
  nearest codebook centroid, and queries score candidates through a
  per-query lookup table of subspace distances (asymmetric distance
  computation). The corpus is scanned once over 1-byte-per-subspace
  codes — at 100 TB the difference between an in-memory scan and a
  spill.
- ``dedup_repeated_spans`` — exact substring-level dedup in the style
  of Lee et al. 2022 ("Deduplicating Training Data Makes Language
  Models Better"): find W-token windows occurring more than once in
  the corpus, then merge per-document overlapping duplicate windows
  into maximal spans. Unlike pair-generation dedup (Jaccard/MinHash),
  this NEVER self-joins postings — the hot path is one count per gram
  plus one per-document window pass, both linear in corpus tokens, so
  a boilerplate sentence shared by 10⁶ docs costs 10⁶ rows, not 10¹².

Determinism: every score that crosses the engine boundary is either
exact integer arithmetic (PQ distances, span token counts) or a
truncated-then-decimal-summed double (BM25 — per-term scores are
truncated to 6 digits and summed as DECIMAL so the ordering of the
per-term addition can't flip the hash; see `_util.trunc_digits`).

Reference scope: the reference engine (``/root/reference/src/lib.rs``)
only generates/converts this corpus; retrieval over it is [ext] scope
per SURVEY.md §2.B.10 (BASELINE.json LLM-pipeline extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.queries._runscan import fixed_width
from tpctools_spark.queries._util import sql_trunc_digits, trunc_digits
from tpctools_spark.queries.similarity import (
    EMB_DIM,
    PROBE_VEC_ID,
    TOP_K,
    _SQL_DOT,
    sim_cosine_topk,
)
from tpctools_spark.registry import query

# ---------------------------------------------------------------------------
# text_bm25_search

_BM25_TERMS = ("merge", "stream", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
BM25_TOPK = 20


def _bm25_cte() -> str:
    """BM25 CTE chain (tokenize → stats → tf/df → decimal-summed
    scores) shared by the top-k oracle and the hybrid-RRF fusion."""
    return f"""docs0 AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM docs0
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST(w) AS term FROM docs0)
      WHERE term IN ('merge', 'stream', 'window')
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), per_term AS (
      SELECT tf.doc_id,
             CAST({sql_trunc_digits(
                 "ln((CAST(stats.n_docs AS DOUBLE) - df.df + 0.5)"
                 " / (df.df + 0.5) + 1.0)"
                 f" * (tf.tf * ({_BM25_K1} + 1.0))"
                 f" / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}"
                 f"    + {_BM25_B} * dl.dl / stats.avgdl))", 6)}
               AS DECIMAL(18,6)) AS s
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ), scored AS (
      SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score_raw
      FROM per_term GROUP BY doc_id
    )"""


@query(
    "text_bm25_search",
    oracle=f"""
    WITH {_bm25_cte()}
    SELECT doc_id, {sql_trunc_digits("score_raw", 4)} AS bm25,
           ROW_NUMBER() OVER (ORDER BY score_raw DESC, doc_id) AS rank
    FROM scored
    ORDER BY score_raw DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k lexical search for a fixed conjunctive term set.

    Plan shape (the scalable inverted-index dataflow, no index build):
    one corpus scan explodes tokens and keeps only query terms — the
    filter runs BEFORE the explode output shuffles, so shuffle bytes
    are O(matching postings), not O(corpus tokens). Document
    frequencies and corpus stats (N, avgdl) are tiny aggregates of
    that same postings table; both reach the scoring join as
    broadcasts (df: |terms| rows; stats: one row — BNLJ-allowlisted).
    Per-doc length joins in on doc_id, the one real shuffle key.

    Cross-engine FP note: ln() is the only non-IEEE-exact operation in
    the formula (both engines use correctly-rounded libm; a 1-ulp
    divergence would need the result to sit within 1e-16 of a 1e-6
    truncation boundary — negligible, and the per-term DECIMAL sum
    removes all addition-order sensitivity, the actual hash killer).
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    dl = docs.select("doc_id", F.size("w").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    per_term = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            trunc_digits(idf * tf_part, 6).cast("decimal(18,6)").alias("s"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.sum("s").cast("double").alias("score_raw")
    )
    w = Window.orderBy(F.col("score_raw").desc(), "doc_id")
    return (
        scored.orderBy(F.col("score_raw").desc(), "doc_id")
        .limit(BM25_TOPK)
        .select(
            "doc_id",
            trunc_digits(F.col("score_raw"), 4).alias("bm25"),
            F.row_number().over(w).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# sim_pq_topk

_PQ_M = 8  # subspaces (64-dim vectors → 8 dims each)
_PQ_SUBDIM = EMB_DIM // _PQ_M
_PQ_K = 64  # centroids per subspace codebook
_PQ_PROBE = 42
_PQ_TOPK = 10
_PQ_SHORTLIST = 100  # ADC candidates kept for the exact rescore
_PQ_FX = 1000  # fixed-point scale: round(x·1000) → exact integer L2


def _pq_cte() -> str:
    """The shared PQ CTE chain — fixed-point corpus → seeded codebook
    → ONE integer Lloyd refinement → codes → LUT → ADC shortlist →
    exact rescore. Used by both the top-k oracle and the recall eval.

    The round-13 geometry (M=8×K=64, Lloyd-refined, shortlist C=100
    rescored exactly) replaced the original M=4×K=16 pure-ADC scan
    after the 50k bench measured its recall@10 at 0.0: 16-bit codes
    order neighbors too coarsely to return directly. The shipped
    shape is the production one (FAISS IVFPQ + refine): ADC prunes to
    C candidates, exact distance ranks them. Measured at the same
    50k point: 10/10 of the exact top-10 inside the rescored top-10.

    Integer determinism end to end: floor-division centroid averages
    (Spark `div` and DuckDB `//` both truncate toward zero), exact
    squared-L2 in fixed point, (distance, id) tie-breaks.
    """
    sub_slices = ", ".join(str(s) for s in range(_PQ_M))
    return f"""fx AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_PQ_FX}) AS BIGINT)) AS q
      FROM embeddings
    ), subs AS (
      SELECT vec_id, label, s,
             q[s * {_PQ_SUBDIM} + 1 : (s + 1) * {_PQ_SUBDIM}] AS sv
      FROM fx, (SELECT UNNEST([{sub_slices}]) AS s)
    ), cb0 AS (
      SELECT s, vec_id AS c, sv AS csv FROM subs WHERE vec_id < {_PQ_K}
    ), d0 AS (
      SELECT subs.vec_id, subs.s, subs.sv, cb0.c,
             list_sum(list_transform(list_zip(subs.sv, cb0.csv),
                      t -> (t[1] - t[2]) * (t[1] - t[2]))) AS d
      FROM subs JOIN cb0 ON subs.s = cb0.s
    ), assign0 AS (
      SELECT s, c, sv FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY vec_id, s ORDER BY d, c) AS rn
        FROM d0
      ) WHERE rn = 1
    ), cbavg AS (
      SELECT s, c, i, CAST(SUM(sv[i]) // COUNT(*) AS BIGINT) AS cv
      FROM assign0, (SELECT UNNEST(range(1, {_PQ_SUBDIM} + 1)) AS i)
      GROUP BY s, c, i
    ), cb1arr AS (
      SELECT s, c, list(cv ORDER BY i) AS csv1 FROM cbavg GROUP BY s, c
    ), cb AS (
      SELECT cb0.s, cb0.c, COALESCE(a.csv1, cb0.csv) AS csv
      FROM cb0 LEFT JOIN cb1arr a ON cb0.s = a.s AND cb0.c = a.c
    ), dists AS (
      SELECT subs.vec_id, subs.label, subs.s, cb.c,
             list_sum(list_transform(list_zip(subs.sv, cb.csv),
                      t -> (t[1] - t[2]) * (t[1] - t[2]))) AS d
      FROM subs JOIN cb ON subs.s = cb.s
    ), enc AS (
      SELECT vec_id, label, s, c AS code FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY vec_id, s ORDER BY d, c) AS rn
        FROM dists
      ) WHERE rn = 1
    ), lut AS (
      SELECT cb.s, cb.c,
             list_sum(list_transform(list_zip(p.sv, cb.csv),
                      t -> (t[1] - t[2]) * (t[1] - t[2]))) AS ld
      FROM (SELECT s, sv FROM subs WHERE vec_id = {_PQ_PROBE}) p
      JOIN cb ON p.s = cb.s
    ), scored AS (
      SELECT enc.vec_id, enc.label,
             CAST(SUM(lut.ld) AS BIGINT) AS adc_dist
      FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.c
      WHERE enc.vec_id <> {_PQ_PROBE}
      GROUP BY enc.vec_id, enc.label
    ), shortlist AS (
      SELECT vec_id, label, adc_dist FROM scored
      ORDER BY adc_dist, vec_id LIMIT {_PQ_SHORTLIST}
    ), rescored AS (
      SELECT sl.vec_id, sl.label, sl.adc_dist,
             CAST(list_sum(list_transform(list_zip(f.q, p.pq2),
                  t -> (t[1] - t[2]) * (t[1] - t[2]))) AS BIGINT)
               AS exact_dist
      FROM shortlist sl
      JOIN fx f ON sl.vec_id = f.vec_id,
           (SELECT q AS pq2 FROM fx WHERE vec_id = {_PQ_PROBE}) p
    )"""


def _pq_sql() -> str:
    return f"""
    WITH {_pq_cte()}
    SELECT vec_id, label, adc_dist, exact_dist,
           ROW_NUMBER() OVER (ORDER BY exact_dist, vec_id) AS rank
    FROM rescored
    ORDER BY exact_dist, vec_id
    LIMIT {_PQ_TOPK}
    """


def _pq_sq_l2(a, b):
    # r13 fold sweep: stays a fold — every call site is constant-size
    # (codebook LUT rows and the ~100-row exact-rescore shortlist), so
    # the interpreted per-element cost never multiplies with the data.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _pq_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point vector table (vec_id, label, q: array<bigint>)."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _PQ_FX).cast("bigint"),
        ).alias("q"),
    )


def _pq_subs(fx: DataFrame) -> DataFrame:
    """Per-vector M subvector rows (vec_id, label, s, sv)."""
    return fx.select(
        "vec_id",
        "label",
        F.explode(F.array(*[F.lit(s) for s in range(_PQ_M)])).alias("s"),
        "q",
    ).select(
        "vec_id",
        "label",
        "s",
        F.expr(f"slice(q, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("sv"),
    )


def _pq_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """PQ INDEX BUILD — the data-proportional half of the pipeline:
    seeded codebook → one integer Lloyd refinement → encode every
    vector as M codes. Returns ``(cb, enc)``: the M×K codebook
    (cs, c, csv) and the code table (vec_id, label, s, code). Both are
    plain DataFrames, so a bench/production caller can materialize
    them once per corpus (they are pure functions of the fixture) and
    amortize the build across probes — ``bench.py`` times build and
    probe separately on exactly this seam.

    The two N·M×K assignment steps (Lloyd assign + encode) run as Arrow
    within-partition argmin scans instead of 25.6M-row broadcast joins
    and struct-mins (OPTIMIZATION_r13.md §11).

    Bit-exactness is trivial: every quantity is int64 (fixed-point
    vectors, squared-L2 distances, partial sums/counts) and numpy
    int64 arithmetic is exact like the JVM's; `np.argmin` returns the
    FIRST minimal index, which over code-id-ordered rows is the lowest
    code id among minima — the oracle's (d, c) tie-break; and the
    toward-zero floor division stays in the JVM (`sum(psum) div
    sum(pcnt)` over the summed partials — integer sums are
    partition-invariant, so retries/repartitions cannot change the
    refined centroids). Driver state is constant-size: the K seed
    vectors and the M×K refined codebook (the kmeans-centroid
    pattern); the corpus never collects.
    """
    import numpy as np
    from pyspark.sql import types as spark_types

    fx = _pq_fx(spark, sf_dir)
    seed_rows = (
        fx.filter(F.col("vec_id") < _PQ_K)
        .select("vec_id", "q")
        .orderBy("vec_id")
        .collect()
    )
    # Seed-contiguity guard (r13 ADVICE): seed_mat's ROW INDEX is used
    # as the code id below, while cb0 and the oracle key on the
    # actual vec_id — a fixture with a gap or duplicate in the first K
    # ids would silently misalign argmin codes against the codebook.
    # Fail loudly instead, like the dim-drift guards elsewhere.
    if len(seed_rows) != _PQ_K or any(
        r["vec_id"] != i for i, r in enumerate(seed_rows)
    ):
        raise ValueError(
            f"_pq_build: seed vec_ids must be exactly "
            f"0..{_PQ_K - 1} (got {len(seed_rows)} rows: "
            f"{[r['vec_id'] for r in seed_rows[:8]]}…)"
        )
    seed_mat = np.array([r["q"] for r in seed_rows], dtype=np.int64)
    seeds = [
        seed_mat[:, s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
        for s in range(_PQ_M)
    ]

    def _assign(Qs, cents):
        # (n, K) int64 squared-L2 matrix; first minimal index == lowest
        # code id among minima (rows are code-id ordered).
        d = ((Qs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return np.argmin(d, axis=1)

    def _q_matrix(tab):
        return fixed_width(
            tab.column("q"), EMB_DIM, "_pq_build: embedding dim"
        )

    part_schema = spark_types.StructType(
        [
            spark_types.StructField("s", spark_types.IntegerType()),
            spark_types.StructField("c", spark_types.IntegerType()),
            spark_types.StructField("i", spark_types.IntegerType()),
            spark_types.StructField("psum", spark_types.LongType()),
            spark_types.StructField("pcnt", spark_types.LongType()),
        ]
    )

    def partials(batches):
        import numpy as np
        import pyarrow as pa

        sums = np.zeros((_PQ_M, _PQ_K, _PQ_SUBDIM), dtype=np.int64)
        cnts = np.zeros((_PQ_M, _PQ_K), dtype=np.int64)
        seen = False
        for b in batches:
            tab = pa.Table.from_batches([b])
            if tab.num_rows == 0:
                continue
            seen = True
            Q = _q_matrix(tab)
            for s in range(_PQ_M):
                Qs = Q[:, s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
                codes = _assign(Qs, seeds[s])
                np.add.at(sums[s], codes, Qs)
                np.add.at(cnts[s], codes, 1)
        if not seen:
            return
        s_idx, c_idx = np.nonzero(cnts)
        out = {"s": [], "c": [], "i": [], "psum": [], "pcnt": []}
        for s, c in zip(s_idx, c_idx):
            for i in range(_PQ_SUBDIM):
                out["s"].append(int(s))
                out["c"].append(int(c))
                out["i"].append(i)
                out["psum"].append(int(sums[s, c, i]))
                out["pcnt"].append(int(cnts[s, c]))
        yield pa.RecordBatch.from_pydict(
            {
                "s": pa.array(out["s"], type=pa.int32()),
                "c": pa.array(out["c"], type=pa.int32()),
                "i": pa.array(out["i"], type=pa.int32()),
                "psum": pa.array(out["psum"], type=pa.int64()),
                "pcnt": pa.array(out["pcnt"], type=pa.int64()),
            }
        )

    part = fx.select("q").mapInArrow(partials, part_schema)
    # pcnt repeats across a cell's i rows, so the (s, c, i) group sums
    # it to the full cell count exactly once per component; the
    # toward-zero `div` matches DuckDB `//` on the same integers.
    avg = (
        part.groupBy("s", "c", "i")
        .agg(F.expr("sum(psum) div sum(pcnt)").alias("cv"))
        .groupBy(F.col("s").alias("a_s"), F.col("c").alias("a_c"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cv"))),
                lambda t: t["cv"],
            ).alias("csv1")
        )
    )
    subs = _pq_subs(fx)
    cb0 = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("s").alias("cs"), F.col("vec_id").alias("c"), F.col("sv").alias("csv")
    )
    # Empty cells (a seed shadowed by an identical lower-id seed) keep
    # their seed centroid — same LEFT-join COALESCE as the oracle.
    cb = (
        cb0.join(
            F.broadcast(avg),
            (cb0.cs == F.col("a_s")) & (cb0.c == F.col("a_c")),
            "left",
        )
        .select("cs", "c", F.coalesce("csv1", "csv").alias("csv"))
    )
    # Encode pass against the REFINED codebook — a constant-size (M·K)
    # collect, then one Arrow scan of the corpus.
    refined = [
        np.zeros((_PQ_K, _PQ_SUBDIM), dtype=np.int64) for _ in range(_PQ_M)
    ]
    for r in cb.orderBy("cs", "c").collect():
        refined[r["cs"]][r["c"]] = np.array(r["csv"], dtype=np.int64)

    enc_schema = spark_types.StructType(
        [
            spark_types.StructField("vec_id", spark_types.LongType()),
            spark_types.StructField("label", spark_types.LongType()),
            spark_types.StructField("s", spark_types.IntegerType()),
            spark_types.StructField("code", spark_types.LongType()),
        ]
    )

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            tab = pa.Table.from_batches([b])
            n = tab.num_rows
            if n == 0:
                continue
            ids = tab.column("vec_id").to_numpy()
            labels = tab.column("label").to_numpy()
            Q = _q_matrix(tab)
            for s in range(_PQ_M):
                codes = _assign(
                    Q[:, s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM], refined[s]
                )
                yield pa.RecordBatch.from_pydict(
                    {
                        "vec_id": pa.array(ids, type=pa.int64()),
                        "label": pa.array(labels, type=pa.int64()),
                        "s": pa.array(np.full(n, s), type=pa.int32()),
                        "code": pa.array(codes, type=pa.int64()),
                    }
                )

    enc = fx.select("vec_id", "label", "q").mapInArrow(encode, enc_schema)
    return cb, enc


def _pq_probe_from(
    spark: SparkSession, sf_dir: str, cb: DataFrame, enc: DataFrame
) -> DataFrame:
    """PQ PROBE — the per-query half: LUT from the probe's subvectors
    against the codebook, ADC-score the code table, shortlist C
    candidates, exact-rescore them. Touches the full-vector table only
    for the probe row and the C shortlisted ids (pushed-down id
    filters/joins), so with a materialized (cb, enc) the probe cost is
    independent of the build."""
    fx = _pq_fx(spark, sf_dir)
    probe = _pq_subs(fx.filter(F.col("vec_id") == _PQ_PROBE)).select(
        F.col("s").alias("ps"), F.col("sv").alias("psv")
    )
    lut = (
        cb.join(F.broadcast(probe), cb.cs == probe.ps)
        .select(
            F.col("cs").alias("ls"),
            F.col("c").alias("lc"),
            _pq_sq_l2(F.col("psv"), F.col("csv")).alias("ld"),
        )
    )
    scored = (
        enc.filter(F.col("vec_id") != _PQ_PROBE)
        .join(
            F.broadcast(lut),
            (enc.s == lut.ls) & (enc.code == lut.lc),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("ld").cast("bigint").alias("adc_dist"))
    )
    shortlist = scored.orderBy("adc_dist", "vec_id").limit(_PQ_SHORTLIST)
    # Exact rescore of the C candidates: candidates rejoin their full
    # vectors on vec_id (hash join); the ONE-ROW probe vector attaches
    # as a broadcast cross join — a constant-size BNLJ anchor
    # (allowlisted in tests/test_plan_sweep.py), the same shape as the
    # recall eval's exact leg.
    probe_full = fx.filter(F.col("vec_id") == _PQ_PROBE).select(
        F.col("q").alias("pq2")
    )
    return (
        shortlist.join(fx.select(F.col("vec_id").alias("f_id"), "q"),
                       shortlist.vec_id == F.col("f_id"))
        .crossJoin(F.broadcast(probe_full))
        .select(
            "vec_id",
            "label",
            "adc_dist",
            _pq_sq_l2(F.col("q"), F.col("pq2")).alias("exact_dist"),
        )
    )


def _pq_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared PQ pipeline, build + probe fused (registry form):
    returns the rescored candidate relation
    (vec_id, label, adc_dist, exact_dist).

    Bench attribution (r11): the fused 50k headline (`sim_pq_50k`,
    8.5 s in BENCH_r10) re-trained the codebook inside every timed
    rep, so its movement tracked Lloyd/encode cost, not the serving
    path a deployment actually repeats. The bench now headlines the
    seam split instead — `sim_pq_build_50k` (3.3 s at r10: Lloyd +
    full-corpus encode, amortized once per corpus) and
    `sim_pq_probe_50k` (0.68 s at r10: LUT → ADC scan → exact rescore
    of C candidates, the per-query cost) — build ≈ 80% of the fused
    number, probe ≈ 8%, the remainder being the recall-metric join
    the fused form also carried. The fused form stays as the
    oracle-checked registry query; only the bench headline changed.
    """
    cb, enc = _pq_build(spark, sf_dir)
    return _pq_probe_from(spark, sf_dir, cb, enc)


@query("sim_pq_topk", oracle=_pq_sql())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k, the production (FAISS
    IVFPQ+refine) shape: encode each vector as M=8 subspace codes
    against a Lloyd-refined K=64 codebook, ADC-score the probe through
    a lookup table, keep the best C=100 candidates, rank them by EXACT
    fixed-point distance.

    Codebooks are data-derived and deterministic — subvectors of the
    first K vec_ids seed the cells, then ONE integer Lloyd round
    (floor-averaged assignments) refines them; the fixed iteration
    count unrolls into the SQL oracle (the `kmeans_embeddings` trick),
    so codebook *training* is value-checked too, not just the scan.
    The rescore stage exists because pure ADC ordering is a shortlist
    generator, not a ranker: the original M=4×K=16 ADC-only form
    measured recall@10 = 0.0 at the 50k bench point; this shape
    measures 1.0 there (pinned as a bench floor).

    Scale shape: the codebook (M·K = 512 rows) and LUT are
    constant-size broadcasts; the corpus is scanned to encode (explode
    to M rows/vec, broadcast-join, min-struct) and scored as codes
    only. The rescore touches exactly C=100 full vectors via a keyed
    join. Nothing ever pairs corpus rows with corpus rows. At 100 TB
    the scored relation carries 1 byte of code per subspace instead
    of 64 floats — the whole point of PQ.
    """
    rescored = _pq_rescored(spark, sf_dir)
    w = Window.orderBy("exact_dist", "vec_id")
    return (
        rescored.orderBy("exact_dist", "vec_id")
        .limit(_PQ_TOPK)
        .select(
            "vec_id",
            "label",
            "adc_dist",
            "exact_dist",
            F.row_number().over(w).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_repeated_spans

_SPAN_W = 5  # window length in tokens (Lee et al. use 50 BPE tokens)


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH docs0 AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), posting AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, pos,
             array_to_string(w[pos:pos + {_SPAN_W} - 1], ' ') AS gram
      FROM (
        SELECT doc_id, w,
               UNNEST(range(1, greatest(len(w) - {_SPAN_W} + 1, 0) + 1)) AS pos
        FROM docs0
      )
    ), dup AS (
      SELECT * FROM (
        SELECT doc_id, n_tokens, pos,
               COUNT(*) OVER (PARTITION BY gram) AS occurrences
        FROM posting
      ) WHERE occurrences >= 2
    ), deltas AS (
      SELECT doc_id, n_tokens,
             pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS delta
      FROM dup
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
           CAST(SUM(CASE WHEN delta IS NULL OR delta > {_SPAN_W}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           CAST(SUM(LEAST(COALESCE(delta, {_SPAN_W}), {_SPAN_W})) AS BIGINT)
             AS dup_tokens,
           {sql_trunc_digits(
               f"CAST(SUM(LEAST(COALESCE(delta, {_SPAN_W}), {_SPAN_W}))"
               " AS DOUBLE) / MAX(n_tokens)", 4)} AS dup_ratio
    FROM deltas
    GROUP BY doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans per document (Lee et al. 2022
    style): every {_SPAN_W}-token window that occurs ≥2 times anywhere
    in the corpus is a duplicate gram; per document, overlapping /
    adjacent duplicate windows merge into maximal spans. Emits, per
    affected doc, the duplicate-gram count, merged-span count, total
    duplicated tokens and the duplicated-token ratio — the numbers a
    span-removal pass needs.

    Two-shuffle linear dataflow, no pair generation: (1) a count per
    gram (window over the gram key — each posting row is touched once,
    so a gram in 10⁶ docs costs 10⁶ rows, never 10¹²; contrast with
    the df-capped postings SELF-join that Jaccard pair generation
    needs, `dedup.py:_shared_gram_counts`); (2) a per-document
    position sort for interval merging. Both keys (gram, doc_id) are
    natural shuffle keys at any scale.

    The interval merge is one LAG: with fixed window length W and
    positions sorted, span starts are exactly the grams whose gap to
    the previous duplicate gram exceeds W, and each gram adds
    min(gap, W) newly-covered tokens — integer arithmetic, so the
    per-doc totals are bit-identical across engines.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    posting = docs.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.explode(
            F.when(
                F.size("w") >= _SPAN_W,
                F.sequence(F.lit(1), F.size("w") - (_SPAN_W - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
        "w",
    ).select(
        "doc_id",
        "n_tokens",
        "pos",
        F.concat_ws(" ", F.expr(f"slice(w, pos, {_SPAN_W})")).alias("gram"),
    )
    wg = Window.partitionBy("gram")
    dup = posting.select(
        "doc_id", "n_tokens", "pos", F.count(F.lit(1)).over(wg).alias("occ")
    ).filter(F.col("occ") >= 2)
    wd = Window.partitionBy("doc_id").orderBy("pos")
    deltas = dup.select(
        "doc_id",
        "n_tokens",
        (F.col("pos") - F.lag("pos").over(wd)).alias("delta"),
    )
    covered = F.least(F.coalesce(F.col("delta"), F.lit(_SPAN_W)), F.lit(_SPAN_W))
    return deltas.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        F.sum(
            F.when(
                F.col("delta").isNull() | (F.col("delta") > _SPAN_W), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_spans"),
        F.sum(covered).cast("bigint").alias("dup_tokens"),
        trunc_digits(
            F.sum(covered).cast("double") / F.max("n_tokens"), 4
        ).alias("dup_ratio"),
    )


def _pq_recall_sql() -> str:
    return f"""
    WITH {_pq_cte()}, pq AS (
      SELECT vec_id FROM rescored ORDER BY exact_dist, vec_id LIMIT {_PQ_TOPK}
    ), exact AS (
      SELECT f.vec_id,
             list_sum(list_transform(list_zip(f.q, p.pq2),
                      t -> (t[1] - t[2]) * (t[1] - t[2]))) AS d
      FROM fx f, (SELECT q AS pq2 FROM fx WHERE vec_id = {_PQ_PROBE}) p
      WHERE f.vec_id <> {_PQ_PROBE}
      ORDER BY d, vec_id LIMIT {_PQ_TOPK}
    )
    SELECT {_PQ_TOPK} AS k,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM pq JOIN exact ON pq.vec_id = exact.vec_id) AS n_hits,
           (CAST((SELECT COUNT(*) FROM pq JOIN exact
                   ON pq.vec_id = exact.vec_id) AS DOUBLE) / {_PQ_TOPK})
             AS recall_at_k
    """


def _pq_exact_topk_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point L2 top-k ids for the standard probe — the
    ground-truth leg shared by ``sim_pq_recall`` and the bench's
    split build/probe recall gate. One corpus scan + global top-k."""
    fx = _pq_fx(spark, sf_dir).select("vec_id", "q")
    probe = fx.filter(F.col("vec_id") == _PQ_PROBE).select(
        F.col("q").alias("pq2")
    )

    def sq_l2_full(a, b):
        # r13 fold sweep: stays a fold — one 64-term integer fold per
        # corpus row against the single broadcast probe (ground-truth
        # leg only, no pair term).
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    return (
        fx.filter(F.col("vec_id") != _PQ_PROBE)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", sq_l2_full(F.col("q"), F.col("pq2")).alias("d"))
        .orderBy("d", "vec_id")
        .limit(_PQ_TOPK)
        .select(F.col("vec_id").alias("e_id"))
    )


@query("sim_pq_recall", oracle=_pq_recall_sql())
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index quality: recall@k of the shortlist-rescored PQ top-k
    against the exact fixed-point L2 ground truth for the standard
    probe — the eval that gates any codebook/M/K/C change before it
    ships (same contract as `sim_ivf_recall` for the IVF index). This
    gate is what caught the original ADC-only form's recall collapse
    (0.0 at the 50k bench point) and motivated the round-13 rescore
    pipeline; the 50k bench pins the new floor in-line.

    Both sides are integer arithmetic over one corpus scan each; the
    output is a single (k, hits, recall) row, so the whole comparison
    is two top-k pipelines plus a 10-row id intersection. At 100 TB
    the exact side runs over a sampled probe set only — structure
    unchanged.
    """
    pq_ids = sim_pq_topk(spark, sf_dir).select(F.col("vec_id").alias("p_id"))
    exact = _pq_exact_topk_ids(spark, sf_dir)
    hits = pq_ids.join(exact, pq_ids.p_id == exact.e_id).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return hits.select(
        F.lit(_PQ_TOPK).alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / _PQ_TOPK).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# text_hybrid_rrf

_RRF_K = 60
_RRF_TOPK = 10


def _rrf_sql() -> str:
    dot_ep = _SQL_DOT.format(a="e", b="pe")
    dot_ee = _SQL_DOT.format(a="e", b="e")
    return f"""
    WITH {_bm25_cte()}, bm_ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_raw DESC, doc_id) AS rb
      FROM scored ORDER BY score_raw DESC, doc_id LIMIT {BM25_TOPK}
    ), prep AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), probe AS (
      SELECT e AS pe, {dot_ee} AS p_sq FROM prep
      WHERE vec_id = {PROBE_VEC_ID}
    ), cscored AS (
      SELECT vec_id, {dot_ep} / (sqrt({dot_ee}) * sqrt(p_sq)) AS cos_raw
      FROM prep, probe WHERE vec_id <> {PROBE_VEC_ID}
    ), cos_ranked AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cos_raw DESC, vec_id) AS rc
      FROM cscored ORDER BY cos_raw DESC, vec_id LIMIT {TOP_K}
    ), fused AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.rb, c.rc,
             COALESCE(1.0 / ({_RRF_K} + b.rb), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + c.rc), 0.0) AS rrf_raw
      FROM bm_ranked b FULL OUTER JOIN cos_ranked c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, CAST(rb AS BIGINT) AS bm25_rank,
           CAST(rc AS BIGINT) AS cos_rank,
           {sql_trunc_digits("rrf_raw", 6)} AS rrf_score,
           ROW_NUMBER() OVER (ORDER BY rrf_raw DESC, doc_id) AS rank
    FROM fused
    ORDER BY rrf_raw DESC, doc_id
    LIMIT {_RRF_TOPK}
    """


@query("text_hybrid_rrf", oracle=_rrf_sql())
def text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion: the BM25 lexical
    top-k and the embedding-cosine top-k merge on document id with
    score Σ 1/(k + rank) (k=60, Cormack et al. 2009) — the standard
    way production search fuses sparse and dense rankers without score
    calibration, since RRF consumes only RANKS.

    Both legs are the existing oracle-checked retrievals composed
    as-is; fusion is a full outer join of two ≤k-row ranked lists —
    driver-free, broadcast-sized — and the RRF sum is two divisions in
    a fixed expression order, so the hash is engine-stable. At 100 TB
    each leg scales independently (inverted postings vs ANN index);
    the fusion cost never grows past k+k rows.
    """
    bm = text_bm25_search(spark, sf_dir).select(
        F.col("doc_id"), F.col("rank").alias("rb")
    )
    cos = sim_cosine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("rc")
    )
    fused = bm.join(cos, "doc_id", "full_outer").select(
        "doc_id",
        "rb",
        "rc",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rc")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    w = Window.orderBy(F.col("rrf_raw").desc(), "doc_id")
    return (
        fused.orderBy(F.col("rrf_raw").desc(), "doc_id")
        .limit(_RRF_TOPK)
        .select(
            "doc_id",
            F.col("rb").cast("bigint").alias("bm25_rank"),
            F.col("rc").cast("bigint").alias("cos_rank"),
            trunc_digits(F.col("rrf_raw"), 6).alias("rrf_score"),
            F.row_number().over(w).alias("rank"),
        )
    )
