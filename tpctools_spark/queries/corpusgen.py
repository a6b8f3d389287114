"""Corpus-domain generator contract demos (§2.A A8/A9 extended).

Each key materializes a fixed-size slice of the pure-function-of-id
corpus generator (tpctools_spark.generate_corpus) and is value-checked
against a DuckDB re-derivation of the same arithmetic — the exact
contract the TPC-H/TPC-DS generators already honor, extended to the
documents/embeddings/events domain so the dedup/ANN/event operators
can be scale-tested without driver fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.generate_corpus import (
    EVENT_TYPES,
    VOCAB,
    _A,
    _B,
    _BASE_US,
    _C,
    _P,
    _SPAN_US,
    _sql_h,
    gen_documents,
    gen_embeddings,
    gen_events,
)
from tpctools_spark.queries.dedup import _admission_probe, _jaccard_pairs
from tpctools_spark.registry import query

_N_DOCS = 500
_N_VECS = 500
_N_EVENTS = 1000

_SQL_VOCAB = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
_SQL_TYPES = "[" + ", ".join(f"'{t}'" for t in EVENT_TYPES) + "]"


@query(
    "generate_documents",
    oracle=f"""
    WITH ids AS (SELECT unnest(range(0, {_N_DOCS})) AS i),
    base AS (
      SELECT i, CASE WHEN i % 7 = 0 AND i > 0 THEN i - 1 ELSE i END AS b
      FROM ids
    ), prep AS (
      SELECT i, b, ({_sql_h('b', '0')}) % 60 + 20 AS n FROM base
    ), texted AS (
      SELECT i, b, n,
             array_to_string(list_transform(range(1, CAST(n AS INTEGER) + 1),
               p -> ({_SQL_VOCAB})[({_sql_h('b', 'p')}) % {len(VOCAB)} + 1]),
               ' ') AS body
      FROM prep
    )
    SELECT i AS doc_id,
           CASE WHEN i % 7 = 0 AND i > 0
                THEN body || ' ' || ({_SQL_VOCAB})[i % {len(VOCAB)} + 1]
                ELSE body END AS text,
           (['en', 'de', 'fr', 'es'])[({_sql_h('i', '7')}) % 4 + 1] AS lang,
           'src' || CAST(i % 20 AS VARCHAR) AS source,
           CAST(len(
             CASE WHEN i % 7 = 0 AND i > 0
                  THEN body || ' ' || ({_SQL_VOCAB})[i % {len(VOCAB)} + 1]
                  ELSE body END) AS BIGINT) AS n_chars
    FROM texted
    """,
)
def generate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus generator contract: {_N_DOCS} documents with planted
    near-dups (every 7th doc = predecessor + one marker word), every
    byte a pure function of doc_id — partition-invariant, SQL-twinned.
    """
    return gen_documents(spark, _N_DOCS)


@query(
    "generate_embeddings",
    oracle=f"""
    WITH ids AS (SELECT unnest(range(0, {_N_VECS})) AS i)
    SELECT i % 10 AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(16 AS BIGINT) AS dim,
           CAST(SUM((i % 10) * 1000 + 37
                    - ((i % 10) * 1000 + 37) // 997 * 997 - 498
                    + ({_sql_h('i', '1')}) % 401 - 200) AS BIGINT)
             AS comp1_fx_sum
    FROM ids GROUP BY i % 10
    """,
)
def generate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding generator contract: label-clustered vectors
    (centroid + bounded hash noise). Checked per label: vector count,
    dimension, and the EXACT fixed-point sum of the first component —
    recovered from the emitted doubles by round(x·1000), which is
    lossless because every component is (a+b)/1000 with |a+b| < 1000.
    """
    emb = gen_embeddings(spark, _N_VECS, dim=16)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.max(F.size("embedding")).cast("bigint").alias("dim"),
        F.sum(F.round(F.element_at("embedding", 1) * 1000))
        .cast("bigint")
        .alias("comp1_fx_sum"),
    )


@query(
    "generate_events",
    oracle=f"""
    WITH ids AS (SELECT unnest(range(0, {_N_EVENTS})) AS i)
    SELECT i AS event_id,
           {_BASE_US} + ({_sql_h('i', '2')}) % {_SPAN_US} AS ts_us,
           ({_sql_h('i', '1')}) % 500 AS user_id,
           ({_SQL_TYPES})[({_sql_h('i', '3')}) % {len(EVENT_TYPES)} + 1]
             AS event_type,
           CAST(({_sql_h('i', '4')}) % 30000 AS DOUBLE) / 100.0 AS value,
           '{{"k": ' || CAST(({_sql_h('i', '5')}) % 100 AS VARCHAR) || '}}'
             AS props
    FROM ids
    """,
)
def generate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-log generator contract: hash-assigned users, one-week
    timestamp spread, exact 2-decimal values, JSON props — full-row
    value check against the SQL re-derivation. The typed ``ts`` is
    checked as ``unix_micros`` (instant-based, timezone-proof — string
    rendering would depend on the session timezone).
    """
    return gen_events(spark, _N_EVENTS).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@query(
    "pipeline_dedup_eval",
    oracle=f"""
    WITH ids AS (SELECT unnest(range(0, {_N_DOCS})) AS i),
    base AS (
      SELECT i, CASE WHEN i % 7 = 0 AND i > 0 THEN i - 1 ELSE i END AS b
      FROM ids
    ), prep AS (
      SELECT i, b, ({_sql_h('b', '0')}) % 60 + 20 AS n FROM base
    ), texted AS (
      SELECT i,
             CASE WHEN i % 7 = 0 AND i > 0
                  THEN body || ' ' || ({_SQL_VOCAB})[i % {len(VOCAB)} + 1]
                  ELSE body END AS text
      FROM (SELECT i, b, n,
                   array_to_string(list_transform(
                     range(1, CAST(n AS INTEGER) + 1),
                     p -> ({_SQL_VOCAB})[({_sql_h('b', 'p')}) % {len(VOCAB)} + 1]),
                     ' ') AS body
            FROM prep)
    ), words AS (
      SELECT i, string_split(text, ' ') AS w FROM texted
    ), grams AS (
      SELECT DISTINCT i AS doc_id,
             g AS gram
      FROM words,
           unnest([concat_ws(' ', w[k], w[k+1], w[k+2])
                   for k in range(1, len(w) - 1)]) AS t(g)
    ), capped AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= 50
    ), pruned AS (
      SELECT g.doc_id, g.gram FROM grams g JOIN capped USING (gram)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
      FROM pruned a JOIN pruned b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), detected AS (
      SELECT da, db
      FROM cand JOIN sizes sa ON cand.da = sa.doc_id
                JOIN sizes sb ON cand.db = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.ng + sb.ng - inter) >= 0.5
    ), truth AS (
      SELECT i - 1 AS da, i AS db FROM ids
      WHERE i % 7 = 0 AND i > 0
    ), hits AS (
      SELECT COUNT(*) AS n_hit
      FROM detected d JOIN truth t ON d.da = t.da AND d.db = t.db
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM detected) AS n_detected,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(floor(CAST(n_hit AS DOUBLE)
             / (SELECT COUNT(*) FROM detected) * 10000) AS DOUBLE) / 10000
             AS precision_,
           CAST(floor(CAST(n_hit AS DOUBLE)
             / (SELECT COUNT(*) FROM truth) * 10000) AS DOUBLE) / 10000
             AS recall_
    FROM hits
    """,
)
def pipeline_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-detector evaluation against PLANTED ground truth.

    The generated corpus plants a near-dup at every 7th doc, so
    detector quality is measurable, not guessable: run the capped
    3-gram Jaccard detector (``dedup._jaccard_pairs``, the production
    near-dup shape: inverted index → df-cap → shared-gram counts →
    threshold) over the generated documents at Jaccard ≥ 0.5 and
    score precision/recall against the
    known duplicate pairs. This is the eval harness every 100 TB dedup
    deployment needs — thresholds get tuned against planted truth at
    small scale, then shipped, because at full scale there IS no truth
    set. The whole loop (generator, detector, scoring) is re-derived in
    the DuckDB twin, so the reported precision/recall are value-checked.

    Scale: detector work is the capped posting lists (hot grams
    dropped, df ≤ JACCARD_DF_CAP ⇒ bounded pairs per gram); truth and
    metrics are |dups|-sized. Generator scales by adding partitions.
    """
    detected = (
        _jaccard_pairs(gen_documents(spark, _N_DOCS))
        .filter(F.col("jacc") >= 0.5)
        .select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db"))
    )
    truth = (
        spark.range(0, _N_DOCS)
        .filter((F.col("id") % 7 == 0) & (F.col("id") > 0))
        .select(
            (F.col("id") - 1).alias("da"), F.col("id").alias("db")
        )
    )
    # One relational DAG scores the detector: one aggregate emits
    # n_detected and n_hit together (OPTIMIZATION_r13.md §9).
    det_stats = (
        detected.join(
            F.broadcast(truth.withColumn("hit", F.lit(1))),
            ["da", "db"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_detected"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )
    t_stats = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))

    def _floor_ratio(num: str, den: str) -> F.Column:
        return (
            F.when(
                F.col(den) > 0,
                F.floor(
                    F.col(num).cast("double")
                    / F.col(den).cast("double")
                    * 10000
                ).cast("double")
                / 10000,
            )
            .otherwise(F.lit(0.0))
        )

    return (
        F.broadcast(t_stats)
        .crossJoin(det_stats)
        .select(
            "n_truth",
            "n_detected",
            "n_hit",
            _floor_ratio("n_hit", "n_detected").alias("precision_"),
            _floor_ratio("n_hit", "n_truth").alias("recall_"),
        )
    )


@query(
    "pipeline_incremental_dedup",
    oracle=f"""
    WITH ids AS (SELECT unnest(range(0, {_N_DOCS})) AS i),
    base AS (
      SELECT i, CASE WHEN i % 7 = 0 AND i > 0 THEN i - 1 ELSE i END AS b
      FROM ids
    ), prep AS (
      SELECT i, b, ({_sql_h('b', '0')}) % 60 + 20 AS n FROM base
    ), texted AS (
      SELECT i,
             CASE WHEN i % 7 = 0 AND i > 0
                  THEN body || ' ' || ({_SQL_VOCAB})[i % {len(VOCAB)} + 1]
                  ELSE body END AS text
      FROM (SELECT i, b, n,
                   array_to_string(list_transform(
                     range(1, CAST(n AS INTEGER) + 1),
                     p -> ({_SQL_VOCAB})[({_sql_h('b', 'p')}) % {len(VOCAB)} + 1]),
                     ' ') AS body
            FROM prep)
    ), words AS (
      SELECT i, string_split(text, ' ') AS w, md5(text) AS fp FROM texted
    ), grams AS (
      SELECT DISTINCT i AS doc_id, g AS gram
      FROM words,
           unnest([concat_ws(' ', w[k], w[k+1], w[k+2])
                   for k in range(1, len(w) - 1)]) AS t(g)
    ), capped AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= 50
    ), pruned AS (
      SELECT g.doc_id, g.gram FROM grams g JOIN capped USING (gram)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id
    ), exact_hit AS (
      SELECT DISTINCT b.i AS doc_id
      FROM words b JOIN words c ON b.fp = c.fp
      WHERE b.i % 7 = 0 AND b.i > 0 AND NOT (c.i % 7 = 0 AND c.i > 0)
    ), near_hit AS (
      SELECT DISTINCT a.doc_id
      FROM pruned a JOIN pruned c ON a.gram = c.gram
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sc ON sc.doc_id = c.doc_id
      WHERE a.doc_id % 7 = 0 AND a.doc_id > 0
        AND NOT (c.doc_id % 7 = 0 AND c.doc_id > 0)
      GROUP BY a.doc_id, c.doc_id, sa.ng, sc.ng
      HAVING CAST(COUNT(*) AS DOUBLE)
             / (sa.ng + sc.ng - COUNT(*)) >= 0.5
    )
    SELECT i AS doc_id,
           CASE WHEN i IN (SELECT doc_id FROM exact_hit) THEN 'exact_dup'
                WHEN i IN (SELECT doc_id FROM near_hit) THEN 'near_dup'
                ELSE 'accept' END AS decision
    FROM ids WHERE i % 7 = 0 AND i > 0
    """,
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit an INCOMING batch against an existing
    corpus — the production form of dedup (full-corpus re-dedup on
    every ingest is a non-starter at 100 TB; you check the new million
    docs against the standing index, not everything against
    everything).

    Two-stage admission over the generated corpus (incoming = the
    planted every-7th near-dups; corpus = the rest): exact content
    fingerprint anti-probe first (cheap, catches bit-identical
    resubmissions), then the capped 3-gram Jaccard probe of the
    corpus's inverted index (``dedup._admission_probe``, the df cap
    counted over corpus and batch together). Only batch×corpus pairs
    are ever generated — batch-internal and corpus-internal pairs are
    excluded, which is what bounds the incremental cost. Ground truth
    makes the outcome auditable: every planted doc must come back
    'near_dup'.

    Scale: the corpus side of the postings join is the standing index
    (built once, reused per ingest — ``stream_incremental_dedup``); the
    batch side is ingest-sized.
    """
    docs = gen_documents(spark, _N_DOCS)
    is_batch = (F.col("doc_id") % 7 == 0) & (F.col("doc_id") > 0)
    _, admit = _admission_probe(docs)
    return admit(docs.filter(is_batch))


def sql_docs_words(n_docs: int = _N_DOCS) -> str:
    """DuckDB re-derivation of ``gen_documents(n_docs)`` ending in
    ``words(i, w, fp)`` — the shared scaffold of the incremental-dedup
    twins (batch `pipeline_incremental_dedup` above and the streaming
    `stream_incremental_dedup` in streaming_demo). Returns CTE bodies
    (no leading WITH) so callers can chain their own CTEs after it."""
    return f"""
    ids AS (SELECT unnest(range(0, {n_docs})) AS i),
    base AS (
      SELECT i, CASE WHEN i % 7 = 0 AND i > 0 THEN i - 1 ELSE i END AS b
      FROM ids
    ), prep AS (
      SELECT i, b, ({_sql_h('b', '0')}) % 60 + 20 AS n FROM base
    ), texted AS (
      SELECT i,
             CASE WHEN i % 7 = 0 AND i > 0
                  THEN body || ' ' || ({_SQL_VOCAB})[i % {len(VOCAB)} + 1]
                  ELSE body END AS text
      FROM (SELECT i, b, n,
                   array_to_string(list_transform(
                     range(1, CAST(n AS INTEGER) + 1),
                     p -> ({_SQL_VOCAB})[({_sql_h('b', 'p')}) % {len(VOCAB)} + 1]),
                     ' ') AS body
            FROM prep)
    ), words AS (
      SELECT i, string_split(text, ' ') AS w, md5(text) AS fp FROM texted
    )"""
