"""Corpus-domain synthetic generator: documents / embeddings / events.

The reference engine is, at its core, a partition-parallel deterministic
data generator for the TPC schemas (``/root/reference/src/tpch.rs:50-77``,
``src/tpcds.rs``). This module extends the same contract to the
LLM-pipeline domain the new engine serves: every column is a pure
function of the row id through one arithmetic hash family, so output is
bit-identical for ANY partition count (the dbgen ``-C/-S`` chunking
contract, property-tested like the TPC generators) and every value is
re-derivable in ANSI SQL for the oracle gate.

Built-in structure the downstream operators need to exercise:
- documents: every 7th doc (id>0) is a NEAR-DUP of its predecessor
  (same word sequence + one appended marker word) — planted positives
  for the dedup family at any scale;
- embeddings: label-clustered vectors (centroid(label) + bounded hash
  noise) — planted geometry for ANN/kmeans;
- events: hash-assigned users and session-like timestamp spread.

Hash family: h(id, salt) = (id·A + salt·B + C) mod P with the repo's
standard 2-universal constants — exact BIGINT arithmetic in both Spark
and DuckDB (products stay far under 2⁶³).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_P = 1_000_000_007
_A = 654_435_761
_B = 2_654_435_789 % _P
_C = 97

# 31-word vocabulary (mirrors the driver fixture's density so word
# n-gram operators see realistic collision rates).
VOCAB = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge",
    "part", "window", "small", "hash", "join", "batch", "stream",
    "spark", "group", "query", "row", "data", "slow", "filter",
    "customer", "line", "value", "agg", "big", "a", "of", "and", "to",
]

EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
_BASE_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in epoch micros
_SPAN_US = 7 * 24 * 3600 * 1_000_000  # one week


def _row_hash(i: Column, salt) -> Column:
    """Arithmetic row hash — exact integers, SQL-replicable.

    Two rounds: a 2-universal linear pass, then a square-and-mix. The
    second round matters: a purely linear h(i, p) is an arithmetic
    progression in p, so derived n-grams would collapse to a handful of
    values (consecutive outputs differ by a constant) — squaring
    decorrelates adjacent positions while keeping every product inside
    BIGINT (h₁ < P ≈ 10⁹ ⇒ h₁² < 10¹⁸ < 2⁶³).

    Both operands are forced to BIGINT before the products: sequence()
    indices arrive as INT32 and silently wrap at p·B otherwise (the
    same trap the DuckDB twin hits under strict overflow checking).
    """
    h1 = (i.cast("bigint") * _A + F.lit(salt).cast("bigint") * _B + _C) % _P
    return (h1 * h1 % _P * 31 + h1) % _P


def _sql_h(i: str, salt: str) -> str:
    h1 = (
        f"(CAST({i} AS BIGINT) * {_A}"
        f" + CAST({salt} AS BIGINT) * {_B} + {_C}) % {_P}"
    )
    return f"((({h1}) * ({h1})) % {_P} * 31 + ({h1})) % {_P}"


def gen_documents(
    spark: SparkSession,
    n_docs: int,
    parts: int = 8,
    vocab_size: int = len(VOCAB),
) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) — the fixture
    schema — with near-dup pairs planted at every id ≡ 0 (mod 7).

    ``vocab_size`` scales lexical diversity with the corpus: the first
    31 word ids map to the fixture vocabulary, ids beyond synthesize
    ``w<k>`` tokens. A fixed 31-word vocabulary saturates the 3-gram
    space around 10⁴ docs (every gram's document frequency blows past
    any reasonable cap, so inverted-index dedup finds nothing) — real
    corpora grow vocabulary with size, and scale tests must too.
    """
    i = F.col("id")
    # near-dup: content derives from base_id; copies append one marker
    base = F.when((i % 7 == 0) & (i > 0), i - 1).otherwise(i)
    n_words = (_row_hash(base, 0) % 60 + 20).cast("int")
    vocab = F.array(*[F.lit(w) for w in VOCAB])

    def word(k: Column) -> Column:
        return F.when(
            k < len(VOCAB), F.element_at(vocab, (k + 1).cast("int"))
        ).otherwise(F.concat(F.lit("w"), k.cast("string")))

    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda p: word(_row_hash(base, p) % vocab_size),
    )
    text = F.when(
        (i % 7 == 0) & (i > 0),
        F.concat(
            F.array_join(words, " "),
            F.lit(" "),
            word(i % vocab_size),
        ),
    ).otherwise(F.array_join(words, " "))
    # Fixture-schema contract (TESTDATA documents): same column names,
    # types, and order as /root/testdata/sf*/documents.parquet, so a
    # corpus directory drops in anywhere a fixture directory does
    # (catalog.table included).
    return spark.range(0, n_docs, 1, parts).select(
        i.alias("doc_id"),
        text.alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es")),
            (_row_hash(i, 7) % 4 + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), (i % 20).cast("string")).alias("source"),
        F.length(text).cast("bigint").alias("n_chars"),
    )


def gen_embeddings(
    spark: SparkSession, n_vecs: int, dim: int = 16, parts: int = 8
) -> DataFrame:
    """embeddings(vec_id, label, embedding) — label-clustered: component
    j = centroid(label, j) + noise, all values exact k/1000 doubles."""
    i = F.col("id")
    label = (i % 10).cast("int")
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: (
            ((label * 1000 + j * 37) % 997 - 498).cast("double") / 1000.0
            + ((_row_hash(i, j) % 401 - 200)).cast("double") / 1000.0
        ).cast("float"),
    )
    # Fixture-schema contract (TESTDATA embeddings): float elements and
    # the fixture's (vec_id, embedding, label) order. Components are
    # k/1000 with |k| < 1000, so round(x·1000) recovers k losslessly
    # from the float too.
    return spark.range(0, n_vecs, 1, parts).select(
        i.alias("vec_id"), emb.alias("embedding"), label.alias("label")
    )


def gen_embeddings_scattered(
    spark: SparkSession,
    n_vecs: int,
    dim: int = 64,
    parts: int = 8,
    stride: int = 70,
) -> DataFrame:
    """embeddings in the fixture schema with SCATTERED geometry and
    planted near-dup pairs — the dedup-family scale fixture.

    Components are uniform-ish in [-0.5, 0.5] (hash-derived k/1000), so
    pairwise cosines of unrelated vectors concentrate near 0 with
    std ≈ 1/√dim, EXCEPT every id ≡ 0 (mod ``stride``, id > 0), which
    copies id−10's vector plus a ±0.01 per-component perturbation
    (cosine ≈ 0.9996 to its base) — planted positives with label
    preserved (the base offset 10 keeps label = id % 10; ``stride``
    must be a multiple of 10 and > 10 so a base id is never itself a
    copy — a copy-of-a-copy would derive from the base's RAW hash
    content, not its actual vector, silently unplanting the pair).

    Why a second embedding generator: ``gen_embeddings`` is
    label-CLUSTERED (the ANN/k-means fixture), and at 500k vectors that
    geometry makes the TRUE ≥0.3-cosine pair set itself quadratic
    (every same-label pair qualifies) — no detector could be linear in
    the corpus because the ANSWER isn't. Scattered geometry keeps
    ground truth = the planted pairs, so the 500k bench tier can assert
    recall floors against an exactly known answer.
    """
    if stride % 10 != 0 or stride <= 10:
        raise ValueError(
            "stride must be a multiple of 10 and > 10 "
            "(label preservation + acyclic copy bases)"
        )
    i = F.col("id")
    is_copy = (i % stride == 0) & (i > 0)
    base = F.when(is_copy, i - 10).otherwise(i)
    # Double-mixed component hash: one _row_hash round leaves the per-id
    # salt sequence an arithmetic progression (h1 is linear in the salt),
    # and the residual cross-dimension correlation concentrated sign-bit
    # cells ~15x past their expected occupancy at 500k vectors
    # (measured: max cell 460 vs E≈24). Feeding the first round's output
    # back through _row_hash as the row key breaks the progression;
    # still plain integer arithmetic, still SQL-replicable.
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: (
            (_row_hash(_row_hash(base, j), j) % 1001 - 500).cast("double") / 1000.0
            + F.when(
                is_copy,
                (_row_hash(i, j + dim) % 21 - 10).cast("double") / 1000.0,
            ).otherwise(F.lit(0.0))
        ).cast("float"),
    )
    return spark.range(0, n_vecs, 1, parts).select(
        i.alias("vec_id"),
        emb.alias("embedding"),
        (i % 10).cast("int").alias("label"),
    )


def gen_events(spark: SparkSession, n_events: int, parts: int = 8) -> DataFrame:
    """events in the fixture schema (TESTDATA events): event_id, typed
    ``ts`` TIMESTAMP, user_id, event_type, ``value`` DOUBLE (exact
    2-decimal: integer cents / 100), ``props`` JSON string — so a
    corpus directory drops in anywhere a fixture directory does.
    Internally every value is still derived from exact epoch-micros /
    integer-cents hash arithmetic (timezone-proof, SQL-replicable)."""
    i = F.col("id")
    n_users = 500
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    return spark.range(0, n_events, 1, parts).select(
        i.alias("event_id"),
        F.timestamp_micros(F.lit(_BASE_US) + _row_hash(i, 2) % _SPAN_US).alias("ts"),
        (_row_hash(i, 1) % n_users).alias("user_id"),
        F.element_at(
            types, (_row_hash(i, 3) % len(EVENT_TYPES) + 1).cast("int")
        ).alias("event_type"),
        ((_row_hash(i, 4) % 30_000).cast("double") / 100.0).alias("value"),
        F.concat(
            F.lit('{"k": '), (_row_hash(i, 5) % 100).cast("string"), F.lit("}")
        ).alias("props"),
    )


# Fixture-density row budgets per unit scale factor (the driver's
# sf0.01 fixtures hold 500 docs / 500 vectors / 10,000 events).
CORPUS_ROWS_PER_SF = {
    "documents": 50_000,
    "embeddings": 50_000,
    "events": 1_000_000,
}


def build_corpus_table(
    spark: SparkSession, name: str, scale: float, partitions: int
) -> DataFrame:
    """One corpus table at ``scale``, sized by ``CORPUS_ROWS_PER_SF``."""
    build = {"documents": gen_documents, "embeddings": gen_embeddings, "events": gen_events}
    return build[name](spark, max(1, int(CORPUS_ROWS_PER_SF[name] * scale)), parts=partitions)
