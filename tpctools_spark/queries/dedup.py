"""§2.B.9 — deduplication family for training-data pipelines.

Five dedup strategies over the ``documents`` corpus, each with the scale
path spelled out:

- exact:       hash-groupBy on normalized text — one shuffle on the hash.
- minhash+LSH: shingle → minhash signature → band buckets → bucket join.
  Candidate generation never compares all pairs; cost is driven by
  bucket occupancy, which the band/row parameters control.
- simhash:     64-bit signature via per-bit majority vote; near-dups
  collide on 16-bit bands (hamming ≤ 3 guarantee with 4 bands).
- n-gram jaccard: inverted index on word 3-grams (selective keys) —
  the prefix-filter family; exact similarity, no all-pairs scan.
- embedding cosine: exact cosine blocked on (label, sign-bit sub-cell)
  with per-label bit depth scaling as log2(n/target), so cell occupancy
  — and the within-cell quadratic — stays bounded as the corpus grows.

Everything is built-in expressions (xxhash64, HOFs) — no Python UDFs in
any hot path.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.queries._runscan import fixed_width, run_pairs, run_scan
from tpctools_spark.queries._util import (
    release_local_checkpoint as _release_local_checkpoint,
    scan_size_bytes,
    spread_input,
    trunc_digits,
)
# The embedding blocking lives in similarity; _embedding_cells is
# re-exported for callers that read it from dedup (bench.py).
from tpctools_spark.queries.similarity import (  # noqa: F401
    CELL_KEYS,
    EMB_DIM,
    _EMB_CELL_TARGET,
    _emb_incr_kernel,
    _emb_pairs_kernel,
    _embedding_cells,
    _tagged_cells,
)
from tpctools_spark.registry import query

log = logging.getLogger(__name__)

N_MINHASH = 32  # signature length
MINHASH_BANDS = 8  # 8 bands × 4 rows

# Cross-engine string hashing for the minhash/simhash oracles: md5 is
# the one string hash Spark and DuckDB both evaluate bit-identically,
# so the two 60-bit hex halves of the digest (reduced mod a prime) are
# the base hashes, and every derived hash function is plain integer
# arithmetic on them — the same construction that makes dedup_lsh_cosine
# oracle-able. P keeps all products inside int64.
_HP = 1_000_000_007

# Minhash derived-function coefficients: mh_i = (a_i*h1 + b_i*h2) mod P.
# The mod is load-bearing — a linear-in-i family without it leaves
# adjacent hash functions minimized by the same shingle, which
# correlates all rows of a band and destroys LSH recall.
_MINHASH_A = [654435747, 963307234, 272178714, 581050201, 889921688, 198793168, 507664655, 816536142, 125407622, 434279109, 743150596, 52022076, 360893563, 669765050, 978636537, 287508017, 596379504, 905250991, 214122471, 522993958, 831865445, 140736925, 449608412, 758479899, 67351379, 376222866, 685094353, 993965840, 302837320, 611708807, 920580294, 229451774]
_MINHASH_B = [246822505, 493645010, 740467515, 987290020, 234112518, 480935023, 727757528, 974580033, 221402531, 468225036, 715047541, 961870046, 208692544, 455515049, 702337554, 949160059, 195982557, 442805062, 689627567, 936450072, 183272570, 430095075, 676917580, 923740085, 170562583, 417385088, 664207593, 911030098, 157852596, 404675101, 651497606, 898320111]


def _words(col: str = "text") -> F.Column:
    """Single-space tokenization of normalized text (mirrors the oracle's
    ``string_split(lower(trim(text)), ' ')`` exactly)."""
    return F.split(F.lower(F.trim(F.col(col))), " ")


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256 of normalized text, keep the lowest doc_id.

    One hash-shuffle on the digest; at 100 TB the digest (32 bytes)
    shuffles instead of the document bodies.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
            "doc_id",
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingles_rx() -> F.Column:
    """Overlapping word 3-grams of lower(trim(text)) — on
    single-space-separated text, the grams the oracle builds from
    ``string_split(lower(trim(text)), ' ')`` — in one codegen regex (word-start lookbehind + capture lookahead): faster
    than an interpreted HOF lambda and than an ``arrays_zip`` + slice
    pairing (OPTIMIZATION_r14.md §9)."""
    return F.expr(
        r"regexp_extract_all(lower(trim(text)),"
        r" '(?<=^|\\s)(?=(\\S+ \\S+ \\S+))', 1)"
    )


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → array<long> of N_MINHASH minhashes over 3-gram shingles.

    Shape: explode shingles → 2 md5-derived base hashes per shingle →
    groupBy doc_id with 32 ``min((a_i·h1 + b_i·h2) mod P)`` aggregates (the classic
    2-universal minhash family — 2 base hashes, 32 derived functions,
    all reproducible in ANSI SQL for the oracle).

    Why this shape: the whole pipeline stays inside whole-stage codegen
    (split/explode/xxhash64/hash-agg are all JVM-generated code).
    The tempting shuffle-free alternative — nested higher-order
    functions computing all 32 mins row-local — runs ~5× slower because
    HOF lambdas are interpreted per element. An Arrow-batched signature
    build is 4.5× slower: md5 + hash-agg codegen is already compiled,
    while Python pays per shingle (OPTIMIZATION_r13.md "Negative A/Bs").
    The one shuffle here is benign at any scale: partial (map-side)
    aggregation collapses each doc to 32 longs before the exchange, so
    shuffle bytes are O(n_docs·32·8), independent of document length.
    No array_distinct: MIN over a multiset equals MIN over its set.
    Shingles (not unigrams)
    keep inter-document Jaccard — and therefore LSH bucket occupancy —
    low, so candidate generation stays near-linear.
    """
    shingles = _shingles_rx()
    hashed = (
        docs.select("doc_id", F.explode(shingles).alias("s"))
        .select("doc_id", F.md5("s").alias("m"))
        .select(
            "doc_id",
            (F.conv(F.substring("m", 1, 15), 16, 10).cast("bigint") % _HP).alias("h1"),
            (F.conv(F.substring("m", 17, 15), 16, 10).cast("bigint") % _HP).alias("h2"),
        )
    )
    # One row-side projection builds all 32 derived hashes (md5/conv
    # evaluated once per shingle — inlining them into 32 aggregate
    # expressions re-evaluates the hash per aggregate); the aggregates
    # then reduce plain array slots.
    derived = hashed.select(
        "doc_id",
        F.array(
            *[
                (F.col("h1") * _MINHASH_A[i] + F.col("h2") * _MINHASH_B[i]) % _HP
                for i in range(N_MINHASH)
            ]
        ).alias("hs"),
    )
    mins = [
        F.min(F.element_at("hs", i + 1)).alias(f"mh_{i}") for i in range(N_MINHASH)
    ]
    sig = derived.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"mh_{i}" for i in range(N_MINHASH)]).alias("signature")
    )


_MINHASH_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [] END) AS s
      FROM toks
    ), hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % 1000000007 AS h1,
             CAST(('0x' || substring(md5(s), 17, 15)) AS BIGINT) % 1000000007 AS h2
      FROM sh
    ), sig AS (
      SELECT doc_id,
             MIN((h1 * 654435747 + h2 * 246822505) % 1000000007) AS mh_0,
             MIN((h1 * 963307234 + h2 * 493645010) % 1000000007) AS mh_1,
             MIN((h1 * 272178714 + h2 * 740467515) % 1000000007) AS mh_2,
             MIN((h1 * 581050201 + h2 * 987290020) % 1000000007) AS mh_3,
             MIN((h1 * 889921688 + h2 * 234112518) % 1000000007) AS mh_4,
             MIN((h1 * 198793168 + h2 * 480935023) % 1000000007) AS mh_5,
             MIN((h1 * 507664655 + h2 * 727757528) % 1000000007) AS mh_6,
             MIN((h1 * 816536142 + h2 * 974580033) % 1000000007) AS mh_7,
             MIN((h1 * 125407622 + h2 * 221402531) % 1000000007) AS mh_8,
             MIN((h1 * 434279109 + h2 * 468225036) % 1000000007) AS mh_9,
             MIN((h1 * 743150596 + h2 * 715047541) % 1000000007) AS mh_10,
             MIN((h1 * 52022076 + h2 * 961870046) % 1000000007) AS mh_11,
             MIN((h1 * 360893563 + h2 * 208692544) % 1000000007) AS mh_12,
             MIN((h1 * 669765050 + h2 * 455515049) % 1000000007) AS mh_13,
             MIN((h1 * 978636537 + h2 * 702337554) % 1000000007) AS mh_14,
             MIN((h1 * 287508017 + h2 * 949160059) % 1000000007) AS mh_15,
             MIN((h1 * 596379504 + h2 * 195982557) % 1000000007) AS mh_16,
             MIN((h1 * 905250991 + h2 * 442805062) % 1000000007) AS mh_17,
             MIN((h1 * 214122471 + h2 * 689627567) % 1000000007) AS mh_18,
             MIN((h1 * 522993958 + h2 * 936450072) % 1000000007) AS mh_19,
             MIN((h1 * 831865445 + h2 * 183272570) % 1000000007) AS mh_20,
             MIN((h1 * 140736925 + h2 * 430095075) % 1000000007) AS mh_21,
             MIN((h1 * 449608412 + h2 * 676917580) % 1000000007) AS mh_22,
             MIN((h1 * 758479899 + h2 * 923740085) % 1000000007) AS mh_23,
             MIN((h1 * 67351379 + h2 * 170562583) % 1000000007) AS mh_24,
             MIN((h1 * 376222866 + h2 * 417385088) % 1000000007) AS mh_25,
             MIN((h1 * 685094353 + h2 * 664207593) % 1000000007) AS mh_26,
             MIN((h1 * 993965840 + h2 * 911030098) % 1000000007) AS mh_27,
             MIN((h1 * 302837320 + h2 * 157852596) % 1000000007) AS mh_28,
             MIN((h1 * 611708807 + h2 * 404675101) % 1000000007) AS mh_29,
             MIN((h1 * 920580294 + h2 * 651497606) % 1000000007) AS mh_30,
             MIN((h1 * 229451774 + h2 * 898320111) % 1000000007) AS mh_31
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, ((((((mh_0) % 1000000007) * 131 + mh_1) % 1000000007) * 131 + mh_2) % 1000000007) * 131 + mh_3 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, ((((((mh_4) % 1000000007) * 131 + mh_5) % 1000000007) * 131 + mh_6) % 1000000007) * 131 + mh_7 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 2 AS band, ((((((mh_8) % 1000000007) * 131 + mh_9) % 1000000007) * 131 + mh_10) % 1000000007) * 131 + mh_11 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 3 AS band, ((((((mh_12) % 1000000007) * 131 + mh_13) % 1000000007) * 131 + mh_14) % 1000000007) * 131 + mh_15 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 4 AS band, ((((((mh_16) % 1000000007) * 131 + mh_17) % 1000000007) * 131 + mh_18) % 1000000007) * 131 + mh_19 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 5 AS band, ((((((mh_20) % 1000000007) * 131 + mh_21) % 1000000007) * 131 + mh_22) % 1000000007) * 131 + mh_23 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 6 AS band, ((((((mh_24) % 1000000007) * 131 + mh_25) % 1000000007) * 131 + mh_26) % 1000000007) * 131 + mh_27 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 7 AS band, ((((((mh_28) % 1000000007) * 131 + mh_29) % 1000000007) * 131 + mh_30) % 1000000007) * 131 + mh_31 AS bucket FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sigl AS (
      SELECT doc_id, [mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7, mh_8, mh_9, mh_10, mh_11, mh_12, mh_13, mh_14, mh_15, mh_16, mh_17, mh_18, mh_19, mh_20, mh_21, mh_22, mh_23, mh_24, mh_25, mh_26, mh_27, mh_28, mh_29, mh_30, mh_31] AS sig FROM sig
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                 AS DOUBLE) / 32, 4) AS est_jaccard
    FROM cand
    JOIN sigl sa ON sa.doc_id = doc_a
    JOIN sigl sb ON sb.doc_id = doc_b
    WHERE list_sum(list_transform(range(1, 33),
            i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 16
"""


def _fold_bucket(cols: list[F.Column]) -> F.Column:
    """Arithmetic band-bucket key: fold the band's minhashes through
    ``acc = (acc % P)*131 + v`` — the identical formula the oracle
    writes inline, so bucket membership matches across engines (stays
    under 2e11, no overflow)."""
    acc = cols[0]
    for c in cols[1:]:
        acc = (acc % _HP) * 131 + c
    return acc


def _minhash_band_structs(rows_per_band: int) -> F.Column:
    """The 8 (band, bucket) structs of one signature, as an array —
    shared by both tail shapes so bucket membership is one definition."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _fold_bucket(
                    [
                        F.element_at("signature", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )


# Size gate for the Arrow minhash tail: below ~10⁵ docs its fixed costs
# (Python worker handoff, sig32 transfer, the extra sort) exceed the
# band-join + distinct + rejoins it removes, so smaller corpora take the
# value-identical JVM join tail (parity-pinned by
# tests/test_dedup_invariants.py). The gate reads the documents scan's
# Catalyst size estimate (metadata only, no job); 16 MiB ≈ 8·10⁴ docs
# sits between the measured 50k loss and 500k win (OPTIMIZATION_r14.md
# §1). Unknown stats gate OPEN (at 100 TB the gate must never fail
# closed).
_MINHASH_ARROW_MIN_BYTES = 16 * 1024 * 1024


def _minhash_arrow_enabled(raw_docs: DataFrame) -> bool:
    """True when the Arrow within-bucket tail should serve
    ``dedup_minhash`` — see ``_MINHASH_ARROW_MIN_BYTES``."""
    nbytes = scan_size_bytes(raw_docs)
    arrow = nbytes < 0 or nbytes >= _MINHASH_ARROW_MIN_BYTES
    log.info(
        "dedup_minhash: %s tail (scan_size_bytes=%d)",
        "arrow" if arrow else "jvm", nbytes,
    )
    return arrow


def _minhash_pairs_arrow(bands: DataFrame) -> DataFrame:
    """``dedup_minhash``'s candidate tail — (doc_a, doc_b, agree) with
    agree ≥ 16 of 32 — as ONE shuffle + an Arrow within-bucket
    agreement scan. Value-identical to the band self-join + distinct +
    two signature rejoins that serve below the size gate.

    Why: the JVM tail pays a two-sided band self-join, a pre-gate
    distinct over every band collision, and two signature rejoins (sig
    cached for 3 consumers). Here the int32-narrowed signature rides
    the single band shuffle (32×4 B instead of 32×8 B), the
    within-bucket pair agreements are one vectorized numpy comparison,
    and the distinct collapses the (tiny, post-gate) cross-band dupes —
    faster at 500k, while the signature through the JVM join lost
    (OPTIMIZATION_r13.md §7).

    Bit-exactness is trivial: the agreement count is 32 integer
    equalities summed (no floating point until the caller's unchanged
    `round(cast(agree)/32.0, 4)` projection), and a doc contributes
    exactly one row per band, so within-bucket ids are distinct and
    `agree` is a pure function of the pair — distinct over
    (doc_a, doc_b, agree) equals the old pre-gate candidate distinct.

    Input must carry (doc_id, band, bucket, sig32).

    Memory: the (band, bucket) sort runs in the JVM and the worker
    streams complete bucket runs (``_runscan.split_runs``); pair indices
    are derived per 4M-pair chunk, so peak worker memory is O(region +
    chunk), independent of any single bucket's O(m²) pair count.
    """
    return run_scan(
        bands,
        ("band", "bucket"),
        _minhash_agreements,
        "doc_a bigint, doc_b bigint, agree int",
    ).distinct()


def _minhash_agreements(tab, starts):
    """Kernel of ``_minhash_pairs_arrow``: (doc_a, doc_b, agree) for
    every same-bucket pair of one table of complete (band, bucket)
    runs with ≥ 16 of 32 signature slots equal."""
    import numpy as np

    S = fixed_width(
        tab.column("sig32"), N_MINHASH, "_minhash_pairs_arrow: signature arity"
    )
    ids = tab.column("doc_id").to_numpy()
    for ii, jj in run_pairs(starts, tab.num_rows):
        agree = (S[ii] == S[jj]).sum(axis=1, dtype=np.int32)
        keep = agree >= N_MINHASH // 2
        if keep.any():
            a, b = ids[ii[keep]], ids[jj[keep]]
            yield np.minimum(a, b), np.maximum(a, b), agree[keep]


@query("dedup_minhash", oracle=_MINHASH_ORACLE)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs.

    Pipeline: shingle → 32-hash signature → 8 bands of 4 → band-hash
    buckets → self-join within buckets → signature agreement estimates
    Jaccard. Only documents sharing a band bucket are ever compared.
    ``spread_input`` widens the single-file fixture scan; on a
    many-split production corpus it is a metadata-checked no-op.

    The bench times one aggregate over the FULL pair output, not a
    count of the planted pairs, which Catalyst would push into the
    candidate joins (OPTIMIZATION_r14.md §10).
    """
    raw_docs = table(spark, sf_dir, "documents")
    docs = spread_input(raw_docs)
    rows_per_band = N_MINHASH // MINHASH_BANDS

    # Past _MINHASH_ARROW_MIN_BYTES of corpus the candidate tail is the
    # Arrow within-bucket agreement scan (one consumer → no signature
    # cache); below it the value-identical JVM join tail serves.
    if _minhash_arrow_enabled(raw_docs):
        bands_sig = _minhash_signatures(docs).select(
            "doc_id",
            F.col("signature").cast("array<int>").alias("sig32"),
            F.explode(_minhash_band_structs(rows_per_band)).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket", "sig32")
        arrow_pairs = _minhash_pairs_arrow(bands_sig)
        est = F.round(
            F.col("agree").cast("double") / F.lit(float(N_MINHASH)), 4
        )
        return arrow_pairs.select(
            "doc_a", "doc_b", est.alias("est_jaccard")
        ).filter(F.col("est_jaccard") >= 0.5)

    # Cache the signatures: three consumers (band projection + both
    # rejoin legs) would otherwise recompute the shingle/agg pipeline.
    sig = _minhash_signatures(docs).cache()

    # Only (doc_id, band, bucket) flows through the self-join — the wide
    # signature arrays rejoin afterwards on the (small) candidate set.
    bands = sig.select(
        "doc_id",
        F.explode(_minhash_band_structs(rows_per_band)).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = cand.join(
        sig.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")),
        "doc_a",
    ).join(
        sig.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")),
        "doc_b",
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                lambda x: x,
            )
        ).cast("double")
        / F.lit(float(N_MINHASH)),
        4,
    )
    return (
        pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )


_SIMHASH_ORACLE = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(word), 1, 15)) AS BIGINT)
               % 1000000007 AS h1,
             CAST(('0x' || substring(md5(word), 17, 15)) AS BIGINT)
               % 1000000007 AS h2
      FROM toks
    ), voted AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM(CASE WHEN ((h1 * 654435747 + h2 * 283521) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_0,
             SUM(CASE WHEN ((h1 * 308871487 + h2 * 324024) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_1,
             SUM(CASE WHEN ((h1 * 963307234 + h2 * 364527) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_2,
             SUM(CASE WHEN ((h1 * 617742974 + h2 * 405030) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_3,
             SUM(CASE WHEN ((h1 * 272178714 + h2 * 445533) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_4,
             SUM(CASE WHEN ((h1 * 926614461 + h2 * 486036) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_5,
             SUM(CASE WHEN ((h1 * 581050201 + h2 * 526539) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_6,
             SUM(CASE WHEN ((h1 * 235485941 + h2 * 567042) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_7,
             SUM(CASE WHEN ((h1 * 889921688 + h2 * 607545) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_8,
             SUM(CASE WHEN ((h1 * 544357428 + h2 * 648048) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_9,
             SUM(CASE WHEN ((h1 * 198793168 + h2 * 688551) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_10,
             SUM(CASE WHEN ((h1 * 853228915 + h2 * 729054) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_11,
             SUM(CASE WHEN ((h1 * 507664655 + h2 * 769557) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_12,
             SUM(CASE WHEN ((h1 * 162100395 + h2 * 810060) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_13,
             SUM(CASE WHEN ((h1 * 816536142 + h2 * 850563) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_14,
             SUM(CASE WHEN ((h1 * 470971882 + h2 * 891066) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_15,
             SUM(CASE WHEN ((h1 * 125407622 + h2 * 931569) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_16,
             SUM(CASE WHEN ((h1 * 779843369 + h2 * 972072) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_17,
             SUM(CASE WHEN ((h1 * 434279109 + h2 * 1012575) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_18,
             SUM(CASE WHEN ((h1 * 88714849 + h2 * 1053078) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_19,
             SUM(CASE WHEN ((h1 * 743150596 + h2 * 1093581) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_20,
             SUM(CASE WHEN ((h1 * 397586336 + h2 * 1134084) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_21,
             SUM(CASE WHEN ((h1 * 52022076 + h2 * 1174587) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_22,
             SUM(CASE WHEN ((h1 * 706457823 + h2 * 1215090) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_23,
             SUM(CASE WHEN ((h1 * 360893563 + h2 * 1255593) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_24,
             SUM(CASE WHEN ((h1 * 15329303 + h2 * 1296096) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_25,
             SUM(CASE WHEN ((h1 * 669765050 + h2 * 1336599) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_26,
             SUM(CASE WHEN ((h1 * 324200790 + h2 * 1377102) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_27,
             SUM(CASE WHEN ((h1 * 978636537 + h2 * 1417605) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_28,
             SUM(CASE WHEN ((h1 * 633072277 + h2 * 1458108) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_29,
             SUM(CASE WHEN ((h1 * 287508017 + h2 * 1498611) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_30,
             SUM(CASE WHEN ((h1 * 941943764 + h2 * 1539114) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_31,
             SUM(CASE WHEN ((h1 * 596379504 + h2 * 1579617) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_32,
             SUM(CASE WHEN ((h1 * 250815244 + h2 * 1620120) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_33,
             SUM(CASE WHEN ((h1 * 905250991 + h2 * 1660623) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_34,
             SUM(CASE WHEN ((h1 * 559686731 + h2 * 1701126) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_35,
             SUM(CASE WHEN ((h1 * 214122471 + h2 * 1741629) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_36,
             SUM(CASE WHEN ((h1 * 868558218 + h2 * 1782132) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_37,
             SUM(CASE WHEN ((h1 * 522993958 + h2 * 1822635) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_38,
             SUM(CASE WHEN ((h1 * 177429698 + h2 * 1863138) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_39,
             SUM(CASE WHEN ((h1 * 831865445 + h2 * 1903641) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_40,
             SUM(CASE WHEN ((h1 * 486301185 + h2 * 1944144) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_41,
             SUM(CASE WHEN ((h1 * 140736925 + h2 * 1984647) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_42,
             SUM(CASE WHEN ((h1 * 795172672 + h2 * 2025150) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_43,
             SUM(CASE WHEN ((h1 * 449608412 + h2 * 2065653) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_44,
             SUM(CASE WHEN ((h1 * 104044152 + h2 * 2106156) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_45,
             SUM(CASE WHEN ((h1 * 758479899 + h2 * 2146659) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_46,
             SUM(CASE WHEN ((h1 * 412915639 + h2 * 2187162) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_47,
             SUM(CASE WHEN ((h1 * 67351379 + h2 * 2227665) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_48,
             SUM(CASE WHEN ((h1 * 721787126 + h2 * 2268168) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_49,
             SUM(CASE WHEN ((h1 * 376222866 + h2 * 2308671) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_50,
             SUM(CASE WHEN ((h1 * 30658606 + h2 * 2349174) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_51,
             SUM(CASE WHEN ((h1 * 685094353 + h2 * 2389677) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_52,
             SUM(CASE WHEN ((h1 * 339530093 + h2 * 2430180) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_53,
             SUM(CASE WHEN ((h1 * 993965840 + h2 * 2470683) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_54,
             SUM(CASE WHEN ((h1 * 648401580 + h2 * 2511186) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_55,
             SUM(CASE WHEN ((h1 * 302837320 + h2 * 2551689) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_56,
             SUM(CASE WHEN ((h1 * 957273067 + h2 * 2592192) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_57,
             SUM(CASE WHEN ((h1 * 611708807 + h2 * 2632695) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_58,
             SUM(CASE WHEN ((h1 * 266144547 + h2 * 2673198) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_59,
             SUM(CASE WHEN ((h1 * 920580294 + h2 * 2713701) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_60,
             SUM(CASE WHEN ((h1 * 575016034 + h2 * 2754204) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_61,
             SUM(CASE WHEN ((h1 * 229451774 + h2 * 2794707) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_62,
             SUM(CASE WHEN ((h1 * 883887521 + h2 * 2835210) % 1000000007) % 2 = 1 THEN 1 ELSE -1 END) AS v_63
      FROM hashed GROUP BY doc_id
    ), assembled AS (
      SELECT doc_id, n_tokens,
             (CASE WHEN v_0 > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v_1 > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v_2 > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v_3 > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v_4 > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v_5 > 0 THEN 32 ELSE 0 END)
             + (CASE WHEN v_6 > 0 THEN 64 ELSE 0 END)
             + (CASE WHEN v_7 > 0 THEN 128 ELSE 0 END)
             + (CASE WHEN v_8 > 0 THEN 256 ELSE 0 END)
             + (CASE WHEN v_9 > 0 THEN 512 ELSE 0 END)
             + (CASE WHEN v_10 > 0 THEN 1024 ELSE 0 END)
             + (CASE WHEN v_11 > 0 THEN 2048 ELSE 0 END)
             + (CASE WHEN v_12 > 0 THEN 4096 ELSE 0 END)
             + (CASE WHEN v_13 > 0 THEN 8192 ELSE 0 END)
             + (CASE WHEN v_14 > 0 THEN 16384 ELSE 0 END)
             + (CASE WHEN v_15 > 0 THEN 32768 ELSE 0 END)
             + (CASE WHEN v_16 > 0 THEN 65536 ELSE 0 END)
             + (CASE WHEN v_17 > 0 THEN 131072 ELSE 0 END)
             + (CASE WHEN v_18 > 0 THEN 262144 ELSE 0 END)
             + (CASE WHEN v_19 > 0 THEN 524288 ELSE 0 END)
             + (CASE WHEN v_20 > 0 THEN 1048576 ELSE 0 END)
             + (CASE WHEN v_21 > 0 THEN 2097152 ELSE 0 END)
             + (CASE WHEN v_22 > 0 THEN 4194304 ELSE 0 END)
             + (CASE WHEN v_23 > 0 THEN 8388608 ELSE 0 END)
             + (CASE WHEN v_24 > 0 THEN 16777216 ELSE 0 END)
             + (CASE WHEN v_25 > 0 THEN 33554432 ELSE 0 END)
             + (CASE WHEN v_26 > 0 THEN 67108864 ELSE 0 END)
             + (CASE WHEN v_27 > 0 THEN 134217728 ELSE 0 END)
             + (CASE WHEN v_28 > 0 THEN 268435456 ELSE 0 END)
             + (CASE WHEN v_29 > 0 THEN 536870912 ELSE 0 END)
             + (CASE WHEN v_30 > 0 THEN 1073741824 ELSE 0 END)
             + (CASE WHEN v_31 > 0 THEN 2147483648 ELSE 0 END)
             + (CASE WHEN v_32 > 0 THEN 4294967296 ELSE 0 END)
             + (CASE WHEN v_33 > 0 THEN 8589934592 ELSE 0 END)
             + (CASE WHEN v_34 > 0 THEN 17179869184 ELSE 0 END)
             + (CASE WHEN v_35 > 0 THEN 34359738368 ELSE 0 END)
             + (CASE WHEN v_36 > 0 THEN 68719476736 ELSE 0 END)
             + (CASE WHEN v_37 > 0 THEN 137438953472 ELSE 0 END)
             + (CASE WHEN v_38 > 0 THEN 274877906944 ELSE 0 END)
             + (CASE WHEN v_39 > 0 THEN 549755813888 ELSE 0 END)
             + (CASE WHEN v_40 > 0 THEN 1099511627776 ELSE 0 END)
             + (CASE WHEN v_41 > 0 THEN 2199023255552 ELSE 0 END)
             + (CASE WHEN v_42 > 0 THEN 4398046511104 ELSE 0 END)
             + (CASE WHEN v_43 > 0 THEN 8796093022208 ELSE 0 END)
             + (CASE WHEN v_44 > 0 THEN 17592186044416 ELSE 0 END)
             + (CASE WHEN v_45 > 0 THEN 35184372088832 ELSE 0 END)
             + (CASE WHEN v_46 > 0 THEN 70368744177664 ELSE 0 END)
             + (CASE WHEN v_47 > 0 THEN 140737488355328 ELSE 0 END)
             + (CASE WHEN v_48 > 0 THEN 281474976710656 ELSE 0 END)
             + (CASE WHEN v_49 > 0 THEN 562949953421312 ELSE 0 END)
             + (CASE WHEN v_50 > 0 THEN 1125899906842624 ELSE 0 END)
             + (CASE WHEN v_51 > 0 THEN 2251799813685248 ELSE 0 END)
             + (CASE WHEN v_52 > 0 THEN 4503599627370496 ELSE 0 END)
             + (CASE WHEN v_53 > 0 THEN 9007199254740992 ELSE 0 END)
             + (CASE WHEN v_54 > 0 THEN 18014398509481984 ELSE 0 END)
             + (CASE WHEN v_55 > 0 THEN 36028797018963968 ELSE 0 END)
             + (CASE WHEN v_56 > 0 THEN 72057594037927936 ELSE 0 END)
             + (CASE WHEN v_57 > 0 THEN 144115188075855872 ELSE 0 END)
             + (CASE WHEN v_58 > 0 THEN 288230376151711744 ELSE 0 END)
             + (CASE WHEN v_59 > 0 THEN 576460752303423488 ELSE 0 END)
             + (CASE WHEN v_60 > 0 THEN 1152921504606846976 ELSE 0 END)
             + (CASE WHEN v_61 > 0 THEN 2305843009213693952 ELSE 0 END)
             + (CASE WHEN v_62 > 0 THEN 4611686018427387904 ELSE 0 END)
             + (CASE WHEN v_63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END)
               AS simhash
      FROM voted
    )
    SELECT doc_id, n_tokens, simhash,
           (simhash >> 0)  & 65535 AS band_0,
           (simhash >> 16) & 65535 AS band_1,
           (simhash >> 32) & 65535 AS band_2,
           (simhash >> 48) & 65535 AS band_3
    FROM assembled
"""

# Per-bit vote hash coefficients: 64 derived hash functions over the two
# md5 base hashes (a_i·h1 + b_i·h2 mod P mod 2) — plain arithmetic both
# engines evaluate identically, replacing the engine-specific xxhash64
# bit extraction. Products stay under 2e18 (h < P ≈ 1e9, a_i,b_i < P).
_SIMHASH_A = [654435747, 308871487, 963307234, 617742974, 272178714, 926614461, 581050201, 235485941, 889921688, 544357428, 198793168, 853228915, 507664655, 162100395, 816536142, 470971882, 125407622, 779843369, 434279109, 88714849, 743150596, 397586336, 52022076, 706457823, 360893563, 15329303, 669765050, 324200790, 978636537, 633072277, 287508017, 941943764, 596379504, 250815244, 905250991, 559686731, 214122471, 868558218, 522993958, 177429698, 831865445, 486301185, 140736925, 795172672, 449608412, 104044152, 758479899, 412915639, 67351379, 721787126, 376222866, 30658606, 685094353, 339530093, 993965840, 648401580, 302837320, 957273067, 611708807, 266144547, 920580294, 575016034, 229451774, 883887521]
_SIMHASH_B = [283521, 324024, 364527, 405030, 445533, 486036, 526539, 567042, 607545, 648048, 688551, 729054, 769557, 810060, 850563, 891066, 931569, 972072, 1012575, 1053078, 1093581, 1134084, 1174587, 1215090, 1255593, 1296096, 1336599, 1377102, 1417605, 1458108, 1498611, 1539114, 1579617, 1620120, 1660623, 1701126, 1741629, 1782132, 1822635, 1863138, 1903641, 1944144, 1984647, 2025150, 2065653, 2106156, 2146659, 2187162, 2227665, 2268168, 2308671, 2349174, 2389677, 2430180, 2470683, 2511186, 2551689, 2592192, 2632695, 2673198, 2713701, 2754204, 2794707, 2835210]


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (per-bit majority vote over token
    hashes), plus its 4×16-bit band keys for hamming-≤3 bucketing.

    The vote is an aggregation over exploded tokens — fully JVM-side;
    the signature assembles via bit arithmetic, no UDF. Each bit's
    token hash is a derived arithmetic function of two md5-based hashes
    (see _SIMHASH_A/_B), which is what lets DuckDB rebuild the exact
    signature: the whole pipeline is value-checked, not rows-only. Bit
    63 lands via two's-complement addition of -2^63 (DuckDB's << 63
    overflows; the sum of disjoint powers equals the xor).
    """
    docs = table(spark, sf_dir, "documents")
    tokens = (
        docs.select("doc_id", F.explode(_words()).alias("word"))
        .select("doc_id", F.md5("word").alias("m"))
        .select(
            "doc_id",
            (F.conv(F.substring("m", 1, 15), 16, 10).cast("bigint") % _HP).alias("h1"),
            (F.conv(F.substring("m", 17, 15), 16, 10).cast("bigint") % _HP).alias("h2"),
        )
    )
    # Row-side projection of all 64 ±1 votes (hash computed once per
    # word, not once per aggregate expression), then 64 plain sums.
    tokens = tokens.select(
        "doc_id",
        F.array(
            *[
                F.when(
                    (
                        (
                            F.col("h1") * _SIMHASH_A[i]
                            + F.col("h2") * _SIMHASH_B[i]
                        )
                        % _HP
                    )
                    % 2
                    == 1,
                    1,
                ).otherwise(-1)
                for i in range(64)
            ]
        ).alias("vb"),
    )
    # Per bit: sum of +1/-1 votes; bit set iff the vote is positive.
    votes = [F.sum(F.element_at("vb", i + 1)).alias(f"v_{i}") for i in range(64)]
    voted = tokens.groupBy("doc_id").agg(
        *votes, F.count(F.lit(1)).alias("n_tokens")
    )
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"v_{i}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)
    out = voted.select("doc_id", "n_tokens", sim.alias("simhash"))
    return out.select(
        "doc_id",
        "n_tokens",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), 16 * b)
            .bitwiseAND(F.lit(0xFFFF))
            .alias(f"band_{b}")
            for b in range(4)
        ],
    )


# Document-frequency ceiling for the inverted index: a gram shared by k
# docs yields O(k²) rows out of the postings self-join, so one hot
# boilerplate shingle in 10⁶ docs would be 10¹² candidate pairs. Grams
# with df > τ are dropped from candidate generation (standard
# prefix-filter practice); recall tradeoff: a pair whose ONLY shared
# grams are boilerplate hot grams is no longer reported — at a 0.2
# Jaccard threshold such pairs are overwhelmingly non-duplicates.
JACCARD_DF_CAP = 50


def _gram_hashes() -> F.Column:
    """Each document's distinct word-3-gram set, every gram keyed by its
    xxhash64 (an 8-byte key instead of a ~25-byte string through every
    aggregation and shuffle). The one tokenization and hash behind both
    component paths, so they agree by construction even where two grams
    collide in 64 bits (see ``dedup_ngram_jaccard``'s contract note)."""
    return F.array_distinct(F.transform(_shingles_rx(), lambda s: F.xxhash64(s)))


def _postings(gs_docs: DataFrame) -> DataFrame:
    """(doc_id, n, gram) posting rows of a (doc_id, gs) frame. ``n`` is
    the document's FULL gram-set size, so a Jaccard denominator is
    unaffected by the df cap."""
    return gs_docs.select(
        "doc_id", F.size("gs").alias("n"), F.explode("gs").alias("gram")
    )


def _below_df_cap(prep: DataFrame) -> DataFrame:
    """The postings of grams in at most ``JACCARD_DF_CAP`` documents.

    Postings are hash-aggregated per gram (map-side partial → the
    shuffled df table is |distinct grams|, not |postings|), and the hot
    grams are anti-joined away. The hot list is the Zipf head in
    practice but only bounded by |postings|/τ in the worst case, so the
    anti-join is UNHINTED: AQE broadcasts it while it is executor-small
    and falls back to a shuffled anti-join when a boilerplate-heavy
    corpus grows it. The postings never shuffle for this step, and
    counting FIRST (never collect_list on uncapped grams) keeps
    per-group aggregation memory bounded even on boilerplate grams with
    millions of postings."""
    hot = (
        prep.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > JACCARD_DF_CAP)
        .select("gram")
    )
    return prep.join(hot, "gram", "left_anti")


def _shared_gram_counts(docs: DataFrame, caches: list | None = None) -> DataFrame:
    """Shared-gram statistics per candidate pair (doc_a < doc_b) of the
    ``docs`` documents: columns (doc_a, doc_b, na, nb, n_shared) — the
    inverted-index core behind Jaccard pairs, containment pairs, the
    connected-components clustering and the dedup evaluation.

    ``caches``: optional list the function appends its cached
    DataFrames to, so callers that fully consume the result inside
    their own lifetime (cluster components) can unpersist them."""
    # The fixture corpus arrives as one small parquet file → one input
    # partition; spread_input widens it so shingling uses every core,
    # and skips the shuffle entirely (metadata check) when the scan is
    # already as wide as the cluster — the 100 TB case.
    docs = spread_input(docs)
    # Per-doc distinct gram set and its size, entirely row-local —
    # array_distinct replaces a DISTINCT shuffle, and carrying n (the
    # set size) through the join replaces a sizes aggregation + two
    # rejoin shuffles. The whole pipeline has exactly two postings-sized
    # exchanges: the per-gram posting-list aggregation and the
    # pair-count aggregation. Hashed grams: OPTIMIZATION_r13.md §3.
    # Cache at the gram-array level: without the barrier CollapseProject
    # inlines the (interpreted) shingle+array_distinct pipeline into all
    # three consumers (the size filter, the n column, the explode) and
    # into both join legs — 6 evaluations per row instead of 1.
    base = (
        docs.select("doc_id", _gram_hashes().alias("gs"))
        .filter(F.size("gs") > 0)
        .cache()
    )
    if caches is not None:
        caches.append(base)
    kept = _below_df_cap(_postings(base))
    # Pair generation from the per-gram posting list (≤ JACCARD_DF_CAP
    # entries by construction): ONE postings shuffle + a row-local
    # double-explode, instead of shuffling both legs of a self-join.
    # Five measured alternatives lost or washed at the 500k tier:
    # OPTIMIZATION_r14.md §9.
    pg = (
        kept.groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    pairs = (
        pg.select(F.explode("ps").alias("x"), "ps")
        .select("x", F.explode("ps").alias("y"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
    )
    # The candidate-pair table is the shared working set of jaccard /
    # containment / keep-longest / cluster-components — cache it so the
    # shingle → postings → pair pass is paid once per session, not once
    # per consumer ("materialize candidates once, score many policies").
    # Pure optimization: correct uncached; MEMORY_AND_DISK spills at
    # scale, and the cap bounds it at ≤ CAP²/2 pairs per gram.
    shared = pairs.groupBy(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.col("x.n").alias("na"),
        F.col("y.n").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("n_shared")).cache()
    if caches is not None:
        caches.append(shared)
    return shared


def _jaccard_pairs(docs: DataFrame, caches: list | None = None) -> DataFrame:
    """Near-dup candidate pairs of ``docs`` (doc_a < doc_b, jacc ≥ 0.2)
    with the raw `jacc` double column."""
    shared = _shared_gram_counts(docs, caches=caches)
    jacc = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return shared.filter(jacc >= 0.2).select("doc_a", "doc_b", jacc.alias("jacc"))


def _admission_probe(cap_docs: DataFrame):
    """Incremental near-dup admission, batch or stream: returns the
    standing index ``(postings, fps)`` and ``admit(batch)``, which labels
    each batch document ``exact_dup`` (its md5 equals an index
    document's), ``near_dup`` (shared-gram Jaccard ≥ 0.5 with one) or
    ``accept``. Only batch × index pairs are formed, against the index
    documents outside the batch.

    The index covers ``cap_docs``, and the df cap is counted over them:
    ``pipeline_incremental_dedup`` passes every document (it sees the
    corpus and the batch at once), ``stream_incremental_dedup`` passes
    the corpus (at ingest time the index is all the admitter has).
    Nothing is cached here; a caller that probes many batches caches
    the index and releases it."""
    gs = _gram_hashes().alias("gs")
    postings = _below_df_cap(_postings(cap_docs.select("doc_id", gs)))
    fps = cap_docs.select("doc_id", F.md5("text").alias("fp"))

    def admit(batch: DataFrame) -> DataFrame:
        ids = batch.select("doc_id")
        corpus = postings.join(ids, "doc_id", "left_anti").select(
            F.col("doc_id").alias("cd"), F.col("n").alias("nc"), "gram"
        )
        inter = (
            _postings(batch.select("doc_id", gs))
            .withColumnRenamed("n", "nb")
            .join(corpus, "gram")
            .groupBy("doc_id", "cd", "nb", "nc")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        near = (
            inter.filter(
                F.col("inter").cast("double")
                / (F.col("nb") + F.col("nc") - F.col("inter"))
                >= 0.5
            )
            .select("doc_id")
            .distinct()
            .withColumn("near", F.lit(1))
        )
        exact = (
            batch.select("doc_id", F.md5("text").alias("fp"))
            .join(fps.join(ids, "doc_id", "left_anti"), "fp", "left_semi")
            .select("doc_id")
            .withColumn("ex", F.lit(1))
        )
        return (
            ids.join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("ex") == 1, "exact_dup")
                .when(F.col("near") == 1, "near_dup")
                .otherwise("accept")
                .alias("decision"),
            )
        )

    return (postings, fps), admit


# The oracles' candidate pairs: distinct word 3-grams per document, gram
# counts per document, grams above the df cap dropped, and the shared-gram
# count of every document pair. Ends on ``shared``'s closing paren, so an
# oracle continues with ``, <next cte> AS (`` or its final SELECT.
_SHARED_GRAMS_CTES = f"""grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                 range(1, greatest(len(w) - 1, 1)),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents)
      ) WHERE gram IS NOT NULL
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
    ), hot AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > {JACCARD_DF_CAP}
    ), kept AS (
      SELECT * FROM grams WHERE gram NOT IN (SELECT gram FROM hot)
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHARED_GRAMS_CTES}
    SELECT doc_a, doc_b,
           CAST(floor(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) * 10000) AS DOUBLE) / 10000 AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs via an inverted index.

    3-gram shingles are selective keys, so the self-join touches only
    documents that actually share a shingle (prefix-filtering family) —
    never the full n² pair space. Grams seen in more than
    ``JACCARD_DF_CAP`` docs are excluded from candidate generation (the
    hot-gram quadratic guard; see the constant's comment for the recall
    tradeoff). Jaccard is an exact integer ratio, so the threshold
    decision is FP-safe against the oracle.

    Contract note (declared, OPTIMIZATION_r14.md §4): the engine keys
    grams by ``xxhash64(gram)`` (8-byte shuffle keys instead of
    ~25-byte strings) while the DuckDB oracle compares the strings
    themselves, so cross-engine equality holds with high probability
    rather than unconditionally: a 64-bit collision between two
    DISTINCT grams of one corpus would perturb df/pair counts
    (P ≈ D²/2⁶⁵ ≈ 1e-5 at the 500k tier's ~2·10⁷ distinct grams,
    ~1e-9 at the oracle SFs). An oracle mismatch at a much larger SF
    should be triaged as a possible collision before being treated as
    a regression. Same whp-equivalence class as the md5-derived
    minhash family; applies to every ``_gram_hashes`` consumer:
    containment, keep-longest, cluster components (both paths),
    ``pipeline_dedup_funnel``, ``pipeline_shard_dedup_run``,
    ``pipeline_dedup_eval``, and the two admission twins
    ``pipeline_incremental_dedup`` and ``stream_incremental_dedup``
    (``_admission_probe``).
    """
    return _jaccard_pairs(table(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b", trunc_digits(F.col("jacc"), 4).alias("jaccard")
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHARED_GRAMS_CTES}
    SELECT doc_a, doc_b,
           CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS doc_inner,
           CAST(floor(CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) * 10000)
                AS DOUBLE) / 10000 AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-containment pairs: shared grams over the SMALLER doc's
    gram-set size ≥ 0.6 — catches a document embedded inside a larger
    one (quote farms, boilerplate wrappers, page-of-pages scrapes),
    which symmetric Jaccard systematically under-scores: a 50-gram doc
    fully contained in a 500-gram doc has jacc ≈ 0.1 but containment
    1.0. `doc_inner` names the contained (smaller-set) document — the
    one a dedup policy would typically drop.

    Same inverted-index + df-cap core as the Jaccard pairs (shared via
    ``_shared_gram_counts``), so the scale properties carry over:
    postings shuffle once, hot grams are capped, never all-pairs —
    including the declared xxhash64 gram-keying whp-equivalence to the
    string-gram oracle (see ``dedup_ngram_jaccard``'s contract note).
    """
    shared = _shared_gram_counts(table(spark, sf_dir, "documents"))
    cont = F.col("n_shared").cast("double") / F.least("na", "nb")
    return shared.filter(cont >= 0.6).select(
        "doc_a",
        "doc_b",
        F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_inner"),
        trunc_digits(cont, 4).alias("containment"),
    )


@query(
    "dedup_embedding",
    oracle=f"""
    WITH prep AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), counts AS (
      SELECT label, COUNT(*) AS n FROM prep GROUP BY label
    ), bits AS (
      SELECT label, list_filter(range(0, 41),
               i -> {_EMB_CELL_TARGET} * (1::BIGINT << i) >= n)[1] AS b
      FROM counts
    ), cents AS (
      SELECT label, list(c ORDER BY pos) AS c FROM (
        SELECT label, pos,
               CAST(SUM(CAST(val AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT label, unnest(e) AS val,
                     unnest(range(1, len(e) + 1)) AS pos
              FROM prep)
        GROUP BY label, pos)
      GROUP BY label
    ), tagged AS (
      SELECT p.vec_id, p.label, p.e,
             sqrt(list_reduce(list_transform(p.e, x -> x * x),
                  (acc, x) -> acc + x)) AS nrm,
             COALESCE(list_sum(list_transform(range(0, least(bt.b, len(p.e))),
               i -> CASE WHEN p.e[i + 1] >= ct.c[i + 1]
                         THEN (1::BIGINT << i) ELSE 0::BIGINT END)), 0)
               AS subcell
      FROM prep p JOIN bits bt USING (label) JOIN cents ct USING (label)
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(floor(list_reduce(list_transform(list_zip(a.e, b.e),
                   p -> p[1] * p[2]), (acc, x) -> acc + x)
                 / (a.nrm * b.nrm) * 10000) AS DOUBLE) / 10000 AS cosine
    FROM tagged a JOIN tagged b
      ON a.label = b.label AND a.subcell = b.subcell
     AND a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(list_zip(a.e, b.e),
            p -> p[1] * p[2]), (acc, x) -> acc + x)
          / (a.nrm * b.nrm) >= 0.3
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on bounded-occupancy
    cells: (label, sign-bit sub-cell).

    The label alone is a FIXED-cardinality key, so blocking on it
    makes within-block candidate pairs grow quadratically with the
    corpus. Each label therefore sub-splits into 2^b sign-bit cells
    (``_embedding_cells``) with b chosen per label so expected
    occupancy stays ≤ ``_EMB_CELL_TARGET`` — the quadratic is bounded
    by a constant, and total candidate work is O(N·occupancy), linear
    in the corpus. At 100 TB the b sign bits would come from seeded
    random hyperplanes rather than raw coordinates (less correlated);
    the plumbing is identical. Pairs that straddle a sub-cell boundary
    are missed — the inherent LSH-blocking trade; ``dedup_lsh_cosine``
    is the banded multi-table variant that buys that recall back.

    Per-pair cosines use ONE ordered-fold double dot product against
    precomputed norms: float·float is exact in double and both engines
    fold the product list in the same left-to-right order (the Arrow
    scan's ``similarity._cell_cosines``, DuckDB ``list_reduce``), so the
    threshold cannot flip on FP order — without paying per-pair decimal
    arithmetic in the (bounded) within-cell hot path.
    """
    _, tagged = _tagged_cells(spark, sf_dir)
    # Pairs come from the Arrow within-cell pair scan: one shuffle,
    # bounded numpy pair dots (OPTIMIZATION_r13.md §6).
    pairs = run_scan(
        tagged,
        CELL_KEYS,
        _emb_pairs_kernel,
        "vec_a bigint, vec_b bigint, cosine_raw double",
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        trunc_digits(F.col("cosine_raw"), 4).alias("cosine"),
    )


@query(
    "pipeline_dedup_bias_report",
    oracle="""
    WITH flagged AS (
      SELECT lang, source,
             CASE WHEN doc_id > MIN(doc_id) OVER (
                    PARTITION BY sha256(lower(trim(text))))
                  THEN 1 ELSE 0 END AS dropped
      FROM documents
    ), per AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dropped) AS BIGINT) AS n_dropped
      FROM flagged GROUP BY 1, 2
    ), g AS (
      SELECT SUM(n_docs) AS gd, SUM(n_dropped) AS gn FROM per
    )
    SELECT lang, source, n_docs, n_dropped,
           CAST(floor(n_dropped / n_docs * 10000) AS DOUBLE) / 10000
             AS drop_rate,
           CASE WHEN gn > 0 THEN
             CAST(floor((n_dropped / n_docs) / (gn / gd) * 10000)
                  AS DOUBLE) / 10000
           END AS bias_ratio
    FROM per, g
    """,
)
def pipeline_dedup_bias_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact audit: per (lang, source), how many documents
    exact-dedup would drop, the group's drop rate, and its ratio to
    the corpus-wide rate — the bias report a training-data pipeline
    publishes alongside any dedup pass (deduplication is never
    uniform; a filter that silently halves one language's corpus is a
    dataset bug, not a space saving).

    Drop decision matches ``dedup_exact`` exactly (sha256 of
    normalized text, keep the lowest doc_id). One digest-keyed
    min-aggregate (32-byte keys shuffle, never text), one group-by on
    the low-cardinality (lang, source) census, and a one-row
    corpus-totals broadcast for the bias denominator. ``bias_ratio``
    is NULL when the corpus has no duplicates at all (both engines
    agree on the CASE). Rates truncate at 4 digits (cross-engine
    stable, see ``_util.trunc_digits``).
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h"),
    )
    keep = docs.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    flagged = docs.join(keep, "h").select(
        "lang",
        "source",
        (F.col("doc_id") != F.col("keep_id")).cast("int").alias("dropped"),
    )
    per = flagged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dropped").cast("bigint").alias("n_dropped"),
    )
    g = per.agg(
        F.sum("n_docs").alias("gd"), F.sum("n_dropped").alias("gn")
    )
    rate = F.col("n_dropped") / F.col("n_docs")
    return per.crossJoin(F.broadcast(g)).select(
        "lang",
        "source",
        "n_docs",
        "n_dropped",
        trunc_digits(rate, 4).alias("drop_rate"),
        F.when(
            F.col("gn") > 0,
            trunc_digits(rate / (F.col("gn") / F.col("gd")), 4),
        ).alias("bias_ratio"),
    )


@query(
    "dedup_embedding_incremental",
    oracle=f"""
    WITH prep AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), counts AS (
      SELECT label, COUNT(*) AS n FROM prep GROUP BY label
    ), bits AS (
      SELECT label, list_filter(range(0, 41),
               i -> {_EMB_CELL_TARGET} * (1::BIGINT << i) >= n)[1] AS b
      FROM counts
    ), cents AS (
      SELECT label, list(c ORDER BY pos) AS c FROM (
        SELECT label, pos,
               CAST(SUM(CAST(val AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT label, unnest(e) AS val,
                     unnest(range(1, len(e) + 1)) AS pos
              FROM prep)
        GROUP BY label, pos)
      GROUP BY label
    ), tagged AS (
      SELECT p.vec_id, p.label, p.e,
             sqrt(list_reduce(list_transform(p.e, x -> x * x),
                  (acc, x) -> acc + x)) AS nrm,
             COALESCE(list_sum(list_transform(range(0, least(bt.b, len(p.e))),
               i -> CASE WHEN p.e[i + 1] >= ct.c[i + 1]
                         THEN (1::BIGINT << i) ELSE 0::BIGINT END)), 0)
               AS subcell
      FROM prep p JOIN bits bt USING (label) JOIN cents ct USING (label)
    ), hits AS (
      SELECT b.vec_id AS bd, CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged b JOIN tagged c
        ON b.label = c.label AND b.subcell = c.subcell
       AND b.vec_id % 9 = 0 AND b.vec_id > 0
       AND NOT (c.vec_id % 9 = 0 AND c.vec_id > 0)
       AND list_reduce(list_transform(list_zip(b.e, c.e),
             p -> p[1] * p[2]), (acc, x) -> acc + x)
           / (b.nrm * c.nrm) >= 0.3
      GROUP BY b.vec_id
    )
    SELECT p.vec_id,
           CASE WHEN h.n IS NOT NULL THEN 'near_dup' ELSE 'accept' END
             AS decision,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_neighbors
    FROM prep p LEFT JOIN hits h ON h.bd = p.vec_id
    WHERE p.vec_id % 9 = 0 AND p.vec_id > 0
    """,
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup: admit an INCOMING batch of vectors
    against the standing corpus — the production form of semantic
    dedup (re-pairing the whole corpus on every ingest is a
    non-starter at 100 TB; the new vectors probe the existing index).

    The batch is the deterministic vec_id ≡ 0 (mod 9) slice; every
    batch vector is admitted ('accept') or flagged ('near_dup', with
    its same-cell corpus-neighbor count) by probing ONLY batch×corpus
    pairs inside the bounded-occupancy (label, sign-bit subcell) cells
    of ``_embedding_cells`` — batch-internal and corpus-internal pairs
    are never generated, which is what bounds the per-ingest cost.
    The embedding twin of ``pipeline_incremental_dedup`` (text) and
    ``stream_incremental_dedup`` (its streaming form).

    Scale: cell tagging is one row-local pass against broadcast
    per-label bit counts/centroids (at 100 TB the standing corpus's
    cells and centroids are a persisted index, built once and reused
    per ingest); within-cell occupancy is held ≤ ~32 by construction,
    so the probe is O(batch · occupancy). Per-pair cosines use the
    dim-ordered double dot (``similarity._cell_cosines``) against
    precomputed norms — bitwise-reproducible across engines without
    per-pair decimals.
    """
    prep, tagged = _tagged_cells(spark, sf_dir)
    is_batch = (F.col("vec_id") % 9 == 0) & (F.col("vec_id") > 0)
    # Neighbor counts come from the Arrow within-cell batch×corpus scan
    # (OPTIMIZATION_r13.md §8).
    hits = run_scan(tagged, CELL_KEYS, _emb_incr_kernel, "bd bigint, n bigint")
    return (
        prep.filter(is_batch)
        .select("vec_id")
        .join(hits, prep.vec_id == hits.bd, "left")
        .select(
            "vec_id",
            F.when(F.col("n").isNotNull(), "near_dup")
            .otherwise("accept")
            .alias("decision"),
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias(
                "n_neighbors"
            ),
        )
    )


# Loud upper bound for the components loop. With pointer halving the
# label graph's effective diameter at least halves every round, so
# convergence takes O(log2(longest chain)) + a small constant — 60
# rounds covers any graph that fits in an exabyte. Hitting the cap
# therefore means a logic regression (labels not monotone), not data:
# fail the job rather than shuffle forever.
_COMPONENTS_MAX_ROUNDS = 60


# First round that runs the pointer-halving lookup join. Near-dup
# graphs converge in 2-4 plain-propagation rounds, so halving in the
# first rounds is pure overhead (an extra graph-sized join + cache per
# round); adversarial chains still converge in (this - 1) + O(log d)
# rounds, so _COMPONENTS_MAX_ROUNDS stays a logic invariant
# (OPTIMIZATION_r14.md §9).
_CC_HALVE_FROM = 3


def _min_label_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Connected components over a symmetric ``(src, dst)`` edge table
    by min-label propagation WITH pointer halving.

    Each round does the neighbor step — every node adopts the min
    label among itself and its neighbors (one edges⋈labels join + one
    min-agg on dst) — and, from round ``_CC_HALVE_FROM`` on, also the
    halving step — every label is mapped through the label table again
    (label := label[label], one graph-node-sized self-join). The
    halving step is classic pointer jumping: a length-d label chain
    shortens to ⌈d/2⌉, so adversarial chain graphs converge in
    O(log d) rounds instead of the O(d) that plain propagation needs —
    the guard that makes ``_COMPONENTS_MAX_ROUNDS`` a real invariant
    rather than a tunable. Deferring it to round ``_CC_HALVE_FROM``
    skips its graph-sized join on the tiny-diameter graphs that
    dominate near-dup workloads. Labels are monotone decreasing,
    so the global SUM(label) is an exact convergence witness; driver
    state is one scalar per round, never the labels.

    Returns the converged ``(doc_id, cluster_id)`` table (left cached —
    callers unpersist when done) and the round count. Raises
    ``RuntimeError`` if ``_COMPONENTS_MAX_ROUNDS`` is exceeded.

    Each round's new checkpoint RELEASES the previous round's blocks
    (``_release_local_checkpoint``) — without that, up to
    ``_COMPONENTS_MAX_ROUNDS`` graph-node-sized RDDs sit persisted on
    executors until driver GC happens to trigger ContextCleaner,
    quietly breaking the "state is graph-node-sized" claim on
    slow-converging graphs.

    One job per round: ``localCheckpoint(eager=False)`` lets the
    convergence agg itself materialize the round's checkpoint blocks
    (OPTIMIZATION_r14.md §5; observe-fused and frontier-filtered rounds
    measured negative, OPTIMIZATION_r13.md "Negative A/Bs").
    """
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    # localCheckpoint, not cache(): each round references the
    # label table TWICE (neighbor step + halving lookup), so a cached
    # lineage doubles the LOGICAL PLAN every round — by round ~10 the
    # plan tree alone OOMs the driver. Checkpointing truncates the
    # plan to a LogicalRDD each round; state is graph-node-sized.
    # (Executor-local storage — on a real cluster an executor loss
    # mid-loop fails the job rather than recomputing; acceptable for a
    # loop whose total runtime is minutes, and restartable from the
    # pair table.)
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    rounds = 0
    while True:
        rounds += 1
        if rounds > _COMPONENTS_MAX_ROUNDS:
            _release_local_checkpoint(labels)
            raise RuntimeError(
                "component labels not converged after "
                f"{_COMPONENTS_MAX_ROUNDS} rounds — monotonicity invariant "
                "broken (labels must reach the component min in "
                "O(log diameter) rounds under pointer halving)"
            )
        prop = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped_plan = labels.join(prop, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
            ).alias("cluster_id"),
        )
        if rounds >= _CC_HALVE_FROM:
            # Pointer halving: label := min(label, label-of-label).
            # Every cluster_id is itself a node id (labels start as own
            # ids and only node-id minima propagate), so the lookup
            # join is inner and row-preserving.
            stepped = stepped_plan.cache()
            lut = stepped.select(
                F.col("doc_id").alias("cid"), F.col("cluster_id").alias("cc")
            )
            new_labels = (
                stepped.join(lut, stepped.cluster_id == lut.cid)
                .select(
                    "doc_id",
                    F.least(F.col("cluster_id"), F.col("cc")).alias(
                        "cluster_id"
                    ),
                )
                .localCheckpoint(eager=False)
            )
        else:
            stepped = None
            new_labels = stepped_plan.localCheckpoint(eager=False)
        cur_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
        if stepped is not None:
            stepped.unpersist()
        _release_local_checkpoint(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels, rounds


# Size gate for the single-task components path (OPTIMIZATION_r14.md
# §8): below all three caps the whole corpus is clustered by one numpy
# kernel in one Arrow task; at or above any of them, by the distributed
# loop. The scan cap is metadata only (no job) and is checked first, so
# a large corpus pays nothing; the row and text-byte caps are exact and
# bound the kernel's memory, which the on-disk size does not (a file of
# repeated documents is tiny on disk). Measured: 3.5× faster at 5k and
# at 50k documents (9.2 MiB on disk, 14.6 MB of text), and 1.8× at the
# caps on a corpus of 48-copy near-duplicate clusters (172M enumerated
# pairs); the 500k tier (111 MiB on disk) stays on the loop.
_CC_ARROW_MAX_SCAN_BYTES = 32 * 1024 * 1024
_CC_ARROW_MAX_DOCS = 100_000
_CC_ARROW_MAX_TEXT_BYTES = 24 * 1024 * 1024
# Worker memory at the caps, T text bytes and N documents: postings
# P ≤ T/2 (each gram starts at a word, and a word takes a character and
# a separator), ~64 B each with their sort and run arrays → ≤ 0.8 GB;
# the enumerated pairs Q ≤ P·(JACCARD_DF_CAP − 1)/2 are counted in one
# streaming pass (``_jaccard_edges``) that holds one run_pairs chunk
# (~0.3 GB) plus one node's partial counts (< N keys); the Jaccard
# edges are < 294 per document (a partner shares more than 1/6 of a
# document's grams, each gram at most CAP − 1 partners) → ≤ 0.3 GB.

_CC_SCHEMA = "doc_id bigint, cluster_id bigint, cluster_size bigint, keep boolean"


def _components_arrow_enabled(docs: DataFrame) -> bool:
    """True when ``dedup_cluster_components`` should run as one Arrow
    task — see ``_CC_ARROW_MAX_SCAN_BYTES``. The exact check is one job
    over one partition that stops after ``_CC_ARROW_MAX_DOCS + 1`` rows,
    so its cost is bounded however many rows the scan holds."""
    nbytes = scan_size_bytes(docs)
    if nbytes < 0 or nbytes >= _CC_ARROW_MAX_SCAN_BYTES:
        log.info(
            "dedup_cluster_components: loop (scan_size_bytes=%d)", nbytes
        )
        return False
    n_docs, text_bytes = (
        docs.coalesce(1)
        .limit(_CC_ARROW_MAX_DOCS + 1)
        .agg(
            F.count(F.lit(1)),
            F.coalesce(F.sum(F.octet_length("text")), F.lit(0)),
        )
        .collect()[0]
    )
    small = n_docs <= _CC_ARROW_MAX_DOCS and text_bytes < _CC_ARROW_MAX_TEXT_BYTES
    log.info(
        "dedup_cluster_components: %s (scan_size_bytes=%d, rows=%d, "
        "text_bytes=%d)",
        "arrow" if small else "loop", nbytes, n_docs, text_bytes,
    )
    return small


def _jaccard_edges(node, starts, size):
    """The node pairs (a, b), a < b, of ``_components_numpy``'s kept
    gram runs (``node`` ascending within each run) whose shared-gram
    Jaccard is ≥ 0.2. Every pair is enumerated once, in ascending order
    of its right node b: each chunk's keys are counted at once, the
    keys below the chunk's last b are final, and only that last node's
    partial counts carry into the next chunk — so the work is linear in
    the pairs and the memory is one chunk."""
    import numpy as np

    n = len(size)
    ea, eb = [], []
    ck = cc = np.zeros(0, np.int64)

    def emit(k, c):
        a, b = k // n, k % n
        edge = c.astype(np.float64) / (size[a] + size[b] - c) >= 0.2
        ea.append(a[edge])
        eb.append(b[edge])

    by_b = np.argsort(node, kind="stable")
    for ii, jj in run_pairs(starts, len(node), rows=by_b):
        k, c = np.unique(node[ii] * n + node[jj], return_counts=True)
        if len(ck):
            k, inv = np.unique(np.r_[ck, k], return_inverse=True)
            c = np.bincount(inv, np.r_[cc, c]).astype(np.int64)
        done = k % n != node[jj[-1]]
        emit(k[done], c[done])
        ck, cc = k[~done], c[~done]
    emit(ck, cc)
    return np.concatenate(ea), np.concatenate(eb)


def _components_numpy(ids, lens, grams):
    """Near-dup components of one whole corpus, in numpy: ``ids`` are
    the n document ids, ``lens`` their distinct gram-set sizes and
    ``grams`` the concatenated gram hashes (``lens[i]`` per document,
    distinct within one). Returns ``(cluster_id, cluster_size)`` aligned
    with ``ids`` — the distributed path's values by construction: the
    same df cap, the same shared-gram counts and the same double
    Jaccard ≥ 0.2, then the component minimum."""
    import numpy as np

    n = len(ids)
    # Nodes are ranks in doc_id order, so a component's minimum node is
    # its minimum doc_id.
    order = np.argsort(ids, kind="stable")
    rank = np.empty(n, np.int64)
    rank[order] = np.arange(n)
    size = np.zeros(n, np.int64)
    size[rank] = lens
    # Postings sorted by gram, then node; keep the runs of
    # 2..JACCARD_DF_CAP docs.
    node = np.repeat(rank, lens)
    by_gram = np.lexsort((node, grams))
    g = grams[by_gram]
    node = node[by_gram]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    df = np.diff(np.append(starts, len(g)))
    kept = (df >= 2) & (df <= JACCARD_DF_CAP)
    dk = df[kept]
    node = node[np.repeat(kept, df)]
    kstarts = np.cumsum(np.r_[0, dk[:-1]])
    a, b = _jaccard_edges(node, kstarts, size)
    # Min-label propagation with pointer jumping to a fixed point.
    label = np.arange(n)
    while True:
        prev = label.copy()
        np.minimum.at(label, a, prev[b])
        np.minimum.at(label, b, prev[a])
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, prev):
            break
    node_label = label[rank]
    return ids[order][node_label], np.bincount(label, minlength=n)[node_label]


def _components_arrow(batches):
    """``mapInArrow`` body of the single-task path: the whole corpus's
    (doc_id, gs) rows in, one (doc_id, cluster_id, cluster_size, keep)
    row per document out."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    tab = pa.Table.from_batches(batches)
    gs = tab.column("gs")
    ids = tab.column("doc_id").to_numpy()
    cluster, size = _components_numpy(
        ids,
        pc.list_value_length(gs).fill_null(0).to_numpy(),
        pc.list_flatten(gs).to_numpy(),
    )
    out = pa.table(
        {
            "doc_id": ids,
            "cluster_id": cluster,
            "cluster_size": size,
            "keep": ids == cluster,
        }
    )
    yield from out.to_batches(max_chunksize=65536)


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_SHARED_GRAMS_CTES}, pairs AS (
      SELECT doc_a, doc_b FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           doc_id = cluster_id AS keep
    FROM comp
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the Jaccard pair
    graph, canonical (lowest-id) doc elected per cluster.

    The missing last step of a dedup pipeline — pairs alone don't say
    which docs to drop when A~B~C but A≁C. Output: every doc with its
    cluster id, cluster size, and a `keep` flag electing the canonical
    representative.

    Small corpus (below ``_CC_ARROW_MAX_SCAN_BYTES`` and its two exact
    caps): the JVM builds each document's gram-hash set
    (``_gram_hashes``), one shuffle gathers them into ONE partition, and
    one numpy kernel (``_components_numpy``) does the df cap, the pair
    counts, the Jaccard filter, min-label propagation with pointer
    jumping, and the final row of every document, singletons included —
    one task instead of a dozen tiny jobs of cluster-wide shuffles.

    Large corpus: components come from min-label propagation WITH
    pointer halving (`_min_label_components`) over the pair graph from
    ``_jaccard_pairs`` — each round every node adopts the smallest label
    among itself and its neighbors, and from round `_CC_HALVE_FROM` on
    labels also shortcut through the label table (label := label[label])
    — so even adversarial chain-shaped graphs converge in O(log
    diameter) rounds, and the loud `_COMPONENTS_MAX_ROUNDS` cap is a
    logic invariant, not a tunable (chain-topology property test:
    tests/test_structural_guards.py). Driver-side state is one scalar
    per round — never the labels. The loop runs over the PAIR GRAPH's
    nodes only — docs in no near-dup pair are singletons by
    construction and never enter the iterative shuffles; the corpus is
    touched once more by an anti-join that emits the singletons.

    Oracle: DuckDB computes the same components by recursive-CTE
    transitive closure (min reachable label); every path agrees
    because the component minimum is partitioning-invariant.
    """
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    if _components_arrow_enabled(docs):
        return (
            docs.select("doc_id", _gram_hashes().alias("gs"))
            .repartition(1)
            .mapInArrow(_components_arrow, _CC_SCHEMA)
        )
    pair_caches: list[DataFrame] = []
    pairs = _jaccard_pairs(docs, caches=pair_caches).select(
        "doc_a", "doc_b"
    )
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .toDF("src", "dst")
        .cache()
    )
    labels, rounds = _min_label_components(edges)
    log.info("dedup_cluster_components: loop converged in %d rounds", rounds)
    # The loop consumed edges and the shingle base fully (the final
    # labels generation is materialized in cache by its sum-agg above) —
    # release them so back-to-back multi-query sessions don't accumulate
    # dead cached RDDs. `labels` itself must STAY cached (the returned
    # DataFrame reads it), and so must the LAST pair_caches entry — the
    # candidate-pair table is the deliberate cross-query working set
    # shared with jaccard/containment/keep-longest (see
    # _shared_gram_counts); only the upstream gram-array cache is dead
    # weight here.
    edges.unpersist()
    for c in pair_caches[:-1]:
        c.unpersist()
    # Window only over the edge-node labels (graph-sized shuffle); the
    # full corpus joins in as singletons via an anti-join.
    w = Window.partitionBy("cluster_id")
    clustered = labels.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )
    # The edge-node id set is graph-sized (near-dup pairs are a small
    # fraction of any real corpus) — but graph-sized still GROWS with
    # the corpus, so the anti-join is UNHINTED: AQE broadcasts the id
    # set while it is executor-small and switches to a shuffled
    # anti-join (one corpus shuffle) when a duplicate-heavy corpus
    # grows it past the threshold.
    singles = docs.select("doc_id").join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit(True).alias("keep"),
    )
    return clustered.unionByName(singles)


# Cosine-LSH signature geometry: deterministic ±1 hyperplanes over the
# 64-dim embeddings, banded as 4 bands × b bits. Plane signs come from
# an arithmetic hash (i·2654435761 mod 97 — a bijection over any 97
# consecutive i, so ~balanced), NOT an RNG: both engines can rebuild
# the exact same planes, which is what makes this LSH oracle-able.
# b is CORPUS-ADAPTIVE: the smallest bit count keeping expected bucket
# occupancy ≤ _LSH_BUCKET_TARGET (floor 4 — the original 4×4 geometry
# at fixture scale), so candidate work stays O(N·occupancy) instead of
# going quadratic inside fixed-cardinality buckets as the corpus grows
# (b=4 → 16 keys/band would put ~31k vectors per bucket at 500k). The
# recall trade is the honest one: growing b raises the effective
# cosine threshold the bands recall (planted ≥0.999 near-dups survive
# any realistic b; diffuse cos≈0.5 pairs are caught only while the
# corpus is small enough to afford small b).
_LSH_BANDS = 4
_LSH_MIN_BITS = 4
_LSH_BUCKET_TARGET = 8

# Plane-sign hash: the generator's two-round square-and-mix (_h) over
# (plane, dim). A single multiplicative round made every plane's sign
# pattern a ROTATION of one base sequence (mean inter-plane correlation
# 0.47), so band keys collapsed to ~4k distinct values with ~11k-vector
# buckets at 500k — quadratic pair enumeration. The second round
# decorrelates planes (measured 0.086 mean |corr|, max bucket ~79 ≈ the
# Poisson tail of the 8-target geometry). All integer arithmetic stays
# inside BIGINT (h1 < P ≈ 1e9 ⇒ h1² < 1e18 < 2^63) on both engines.
_LSH_P = 1_000_000_007
_LSH_A = 654_435_761
_LSH_B = 2_654_435_789 % _LSH_P
_LSH_C = 97
_LSH_SQL_H1 = f"((p * {_LSH_A} + d * {_LSH_B} + {_LSH_C}) % {_LSH_P})"
_LSH_SQL_SIGN = (
    f"(CASE WHEN 2 * ((({_LSH_SQL_H1} * {_LSH_SQL_H1}) % {_LSH_P} * 31"
    f" + {_LSH_SQL_H1}) % {_LSH_P}) < {_LSH_P} THEN 1 ELSE -1 END)"
)


def _lsh_sign_pos(p: int, d: int) -> bool:
    """True = +1 plane sign for (plane p, dim d) — the Python twin of
    ``_LSH_SQL_SIGN`` (plan-time on the Spark side)."""
    h1 = (p * _LSH_A + d * _LSH_B + _LSH_C) % _LSH_P
    h2 = (h1 * h1 % _LSH_P * 31 + h1) % _LSH_P
    return 2 * h2 < _LSH_P


def _lsh_bits(n: int) -> int:
    """Smallest b with target·2^b ≥ n, floored at _LSH_MIN_BITS —
    integer-exact, mirrored by the oracle's list_filter CTE."""
    b = 0
    while _LSH_BUCKET_TARGET * (1 << b) < n:
        b += 1
    return max(_LSH_MIN_BITS, b)


def _lsh_sig_arrow(vecs: DataFrame, bits: int) -> DataFrame:
    """Plane signatures + band keys + fast sq-norm as ONE Arrow-batched
    map over ``(vec_id, embedding)``.

    Why Python in a hot path: as codegen ± chains the 64 plane sums
    produced methods too large for HotSpot's JIT and ran interpreted;
    this map measured 17× faster on the signature build
    (OPTIMIZATION_r13.md §1). It is row-local, so there is still no
    shuffle before the band join.

    Bit-exactness: each plane sum starts from e₁·s₁ and adds e_d·s_d in
    dim order — the same IEEE-754 double ops in the same order as the
    DuckDB oracle's first-element-seeded list_reduce — so every sign
    bit and band key matches the oracle. nsq accumulates d² in dim
    order. float32→float64 casts and ±1.0 multiplies are exact; int64
    band-key packing is integer-exact.
    """
    import numpy as np

    planes = _LSH_BANDS * bits
    sgn = np.array(
        [
            [1.0 if _lsh_sign_pos(p, d) else -1.0 for p in range(planes)]
            for d in range(1, EMB_DIM + 1)
        ]
    )
    pow2 = 1 << np.arange(bits, dtype=np.int64)
    bands = _LSH_BANDS

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            idx_v = b.schema.get_field_index("vec_id")
            idx_e = b.schema.get_field_index("embedding")
            emb = b.column(idx_e)
            e = fixed_width(
                emb, EMB_DIM, "dedup_lsh_cosine: embedding dim"
            ).astype(np.float64)
            acc = e[:, 0:1] * sgn[0]
            nsq = e[:, 0] * e[:, 0]
            for d in range(1, EMB_DIM):
                acc += e[:, d : d + 1] * sgn[d]
                nsq += e[:, d] * e[:, d]
            sbits = (acc >= 0.0).astype(np.int64)
            out = {"vec_id": b.column(idx_v), "embedding": emb}
            for g in range(bands):
                out[f"k{g}"] = pa.array(
                    sbits[:, g * bits : (g + 1) * bits] @ pow2,
                    type=pa.int64(),
                )
            out["nsq"] = pa.array(nsq, type=pa.float64())
            yield pa.RecordBatch.from_pydict(out)

    schema = ", ".join(
        ["vec_id bigint", "embedding array<float>"]
        + [f"k{g} bigint" for g in range(bands)]
        + ["nsq double"]
    )
    return vecs.mapInArrow(gen, schema)


def _lsh_sq_norm(col: F.Column) -> F.Column:
    """Exact DECIMAL(25,16) squared norm of a float embedding → double —
    the oracle's ``sq_norm`` expression. Interpreted fold by design (the
    flat decimal chain measured a 3× LOSS, OPTIMIZATION_r13.md §4); it
    is evaluated only in the per-SURVIVOR rescore projection, so the
    per-row cost never multiplies with the corpus."""
    return F.aggregate(
        col,
        F.lit(0).cast("decimal(25,16)"),
        lambda acc, x: (
            acc + (x.cast("double") * x.cast("double")).cast("decimal(25,16)")
        ).cast("decimal(25,16)"),
    ).cast("double")


def _lsh_pairs_from_bands(prep: DataFrame, bands: DataFrame) -> DataFrame:
    """Shared LSH tail: band self-join → in-join 0.45 double-dot gate →
    distinct → exact DECIMAL(25,16) rescore. ``bands`` must carry
    (vec_id, nsq, d1..d64, band, band_key).
    ``prep`` carries (vec_id, embedding) only — the exact decimal
    sq_norm is computed HERE, per survivor, not per corpus row in the
    prep cache (OPTIMIZATION_r13.md §2)."""
    lhs = bands.select(
        F.col("vec_id").alias("vec_a"), "band", "band_key",
        F.col("nsq").alias("nsq_a"),
        *[F.col(f"d{d}").alias(f"a{d}") for d in range(1, EMB_DIM + 1)],
    )
    rhs = bands.select(
        F.col("vec_id").alias("vec_b"), "band", "band_key",
        F.col("nsq").alias("nsq_b"),
        *[F.col(f"d{d}").alias(f"x{d}") for d in range(1, EMB_DIM + 1)],
    )
    dot_gate = sum(
        F.col(f"a{d}") * F.col(f"x{d}") for d in range(1, EMB_DIM + 1)
    )
    # A plain SMJ: a shuffle_hash hint measured a wash
    # (OPTIMIZATION_r14.md §10), and an Arrow within-bucket scan 2.5×
    # slower, because the in-join 0.45 gate already runs as flat-codegen
    # column arithmetic (OPTIMIZATION_r13.md "Negative A/Bs").
    cand = (
        lhs.join(rhs, ["band", "band_key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            dot_gate / (F.sqrt(F.col("nsq_a")) * F.sqrt(F.col("nsq_b")))
            >= 0.45
        )
        .select("vec_a", "vec_b")
        .distinct()
    )

    pa = prep.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")
    )
    pb = prep.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb")
    )
    # Exact rescore: survivors (already ≥0.45-gated, a few ×10³ rows
    # that AQE broadcasts into both prep joins) pay the
    # DECIMAL(25,16) dot the oracle compares against. The double-dot
    # gate is provably lossless: the 64-term double dot differs from
    # the exact-decimal value by ≤ 64·ε·‖a‖‖b‖ ≈ 1e-14 relative, so
    # no true ≥0.5 pair can fall below 0.45. The F.aggregate folds here
    # (dot AND both sq_norms) are per-SURVIVOR (a few ×10³ rows) and
    # stay interpreted; they sit in the post-join projection because a
    # projection below the join runs per streamed prep row
    # (OPTIMIZATION_r13.md §2 and §4).
    prods = F.zip_with(
        F.col("ea"), F.col("eb"),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    dot = F.aggregate(
        prods,
        F.lit(0).cast("decimal(25,16)"),
        lambda acc, x: (acc + x.cast("decimal(25,16)")).cast("decimal(25,16)"),
    ).cast("double")
    norms = F.sqrt(_lsh_sq_norm(F.col("ea"))) * F.sqrt(
        _lsh_sq_norm(F.col("eb"))
    )
    out = cand.join(pa, cand.vec_a == pa.ia).join(pb, cand.vec_b == pb.ib)
    return (
        out.withColumn("cosine_raw", dot / norms)
        .filter(F.col("cosine_raw") >= 0.5)
        .select(
            "vec_a",
            "vec_b",
            trunc_digits(F.col("cosine_raw"), 4).alias("cosine"),
        )
    )


@query(
    "dedup_lsh_cosine",
    oracle=f"""
    WITH geom AS (
      SELECT GREATEST({_LSH_MIN_BITS}, list_filter(range(0, 41),
               i -> {_LSH_BUCKET_TARGET} * (1::BIGINT << i) >= n)[1]) AS b
      FROM (SELECT COUNT(*) AS n FROM embeddings)
    ), prep AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             CAST(list_sum(list_transform(embedding,
                    x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(25,16))))
                  AS DOUBLE) AS sq_norm
      FROM embeddings
    ), sig AS (
      SELECT vec_id, g.b AS b,
             list_transform(range(0, {_LSH_BANDS} * g.b), p ->
               CASE WHEN list_reduce(list_transform(range(1, {EMB_DIM + 1}), d ->
                      e[d] * {_LSH_SQL_SIGN}),
                      (acc, x) -> acc + x) >= 0
                    THEN 1 ELSE 0 END) AS s
      FROM prep, geom g
    ), bands AS (
      SELECT vec_id, t.band AS band,
             list_sum(list_transform(range(0, b),
               j -> s[t.band * b + j + 1] * (1::BIGINT << j))) AS band_key
      FROM sig, (SELECT unnest(range(0, {_LSH_BANDS})) AS band) t
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           CAST(floor(CAST(list_sum(list_transform(list_zip(pa.e, pb.e),
                   p -> CAST(p[1] * p[2] AS DECIMAL(25,16)))) AS DOUBLE)
                 / (sqrt(pa.sq_norm) * sqrt(pb.sq_norm)) * 10000) AS DOUBLE) / 10000
             AS cosine
    FROM cand
    JOIN prep pa ON pa.vec_id = vec_a
    JOIN prep pb ON pb.vec_id = vec_b
    WHERE CAST(list_sum(list_transform(list_zip(pa.e, pb.e),
            p -> CAST(p[1] * p[2] AS DECIMAL(25,16)))) AS DOUBLE)
          / (sqrt(pa.sq_norm) * sqrt(pb.sq_norm)) >= 0.5
    """,
)
def dedup_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane (SimHash-for-
    cosine) LSH: 4·b deterministic ±1 planes → sign bits → 4 bands of
    b bits → candidate pairs only within matching (band, key) buckets
    → exact-decimal cosine rescoring.

    The cosine twin of ``dedup_minhash`` (Jaccard) and the unblocked
    complement of ``dedup_embedding`` (which trusts a label/IVF cell):
    LSH needs NO pre-existing blocking column — the signature IS the
    blocking key, with recall controlled by bands × bits
    (P[match] = 1-(1-(1-θ/π)^bits)^bands). Plane signs are a two-round
    square-and-mix hash of (plane, dim) (``_lsh_sign_pos``; see the
    constants block for why one multiplicative round collapsed band-key
    entropy) — a pure function of two plan-time constants. Each plane
    sum folds the 64 signed terms in dim order, exactly DuckDB
    ``list_reduce``'s first-element seeding, so Spark and DuckDB build
    bit-identical signatures, and the whole pipeline, including the
    corpus-adaptive bit count (``_lsh_bits``: one metadata-cheap
    count), is oracle-checked.

    Scale: signatures are ROW-LOCAL (one Arrow-batched map over the
    scan, ``_lsh_sig_arrow``; no shuffle before the band join); the
    self-join touches only same-bucket pairs, and b grows ~log N to
    hold expected bucket occupancy at ``_LSH_BUCKET_TARGET`` (8:
    expected candidate volume
    ≈ N·(occ-1)/2·bands ≈ 14·N — at target 32 the full pair
    enumeration at 500k vectors was ~30M pairs and dominated the
    runtime; planted-dup recall at ≥0.999 cosine stays ≥99.8% because
    two extra bits only cost p² ≈ 0.97 per band). Candidate rescoring
    is two-tier: the dims ride through the self-join as wide columns
    so a flat-codegen DOUBLE dot gates at 0.45 INSIDE the join stage
    — safely below the 0.5 output threshold, since the 64-term double
    dot differs from the exact-decimal value by ≤ 64·ε·‖a‖‖b‖
    ≈ 1e-14 relative — and only survivors (the near-dup tail, not the
    ~14·N random-pair bulk) pay the distinct shuffle, the prep
    join-backs, and the exact DECIMAL(25,16) dot that the oracle
    compares against (2.3× faster than the narrow pairs-first shape at
    500k, OPTIMIZATION_r14.md §10). The 500k bench tier times the FULL
    pair enumeration and asserts planted recall ≥95%.
    """
    emb = table(spark, sf_dir, "embeddings")
    # The exact DECIMAL(25,16) sq_norm (oracle's prep CTE) is NOT
    # computed here but per SURVIVOR in ``_lsh_pairs_from_bands``
    # (``_lsh_sq_norm``) — only ~10³ rescore rows read it
    # (OPTIMIZATION_r13.md §2).
    # Carry the RAW float arrays (half the bytes of array<double>)
    # through cache and the candidate join-back; every arithmetic site
    # casts float→double per element (exact, row-local), so results
    # are bit-identical to a double-array pipeline while the pair
    # join's vector shuffle — the volume term at 500k+ — halves.
    prep = emb.select("vec_id", "embedding").cache()
    # ONE parquet scan for the whole query instead of three (count,
    # prep, sigw; OPTIMIZATION_r14.md §10): the corpus count that sizes
    # the geometry materializes the prep cache the rescore reads
    # anyway, and the signature projection below builds FROM that cache.
    bits = _lsh_bits(prep.count())

    # Dims flatten to DOUBLE once, here: FLOAT columns do not shrink
    # UnsafeRow's 8-byte slots and measured slower (OPTIMIZATION_r14.md
    # §10). The signature map upstream has already rejected any row
    # whose dim is not EMB_DIM, so element_at never reads past the end.
    dim_exprs = [
        F.element_at(F.col("embedding"), d).cast("double").alias(f"d{d}")
        for d in range(1, EMB_DIM + 1)
    ]

    # The dims ride THROUGH the band self-join as flat double columns,
    # so the 0.45 dot gate is evaluated inside the join stage (see
    # ``_lsh_pairs_from_bands``).
    sigw = (
        _lsh_sig_arrow(prep.select("vec_id", "embedding"), bits)
        .select(
            "vec_id",
            *[F.col(f"k{g}") for g in range(_LSH_BANDS)],
            F.col("nsq"),
            *dim_exprs,
        )
        .cache()
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(g).alias("band"),
                F.col(f"k{g}").alias("band_key"),
            )
            for g in range(_LSH_BANDS)
        ]
    )
    dim_cols = [F.col(f"d{d}") for d in range(1, EMB_DIM + 1)]
    bands_tbl = sigw.select(
        "vec_id", "nsq", *dim_cols, F.explode(band_structs).alias("bk")
    ).select(
        "vec_id", "nsq", *dim_cols,
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )
    return _lsh_pairs_from_bands(prep, bands_tbl)


@query(
    "dedup_keep_longest",
    oracle=f"""
    WITH RECURSIVE {_SHARED_GRAMS_CTES}, pairs AS (
      SELECT doc_a, doc_b FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    ), elected AS (
      SELECT c.cluster_id,
             arg_max(c.doc_id, d.n_chars * 8589934592 + (8589934592 - c.doc_id))
               AS rep_id
      FROM comp c JOIN documents d USING (doc_id)
      GROUP BY c.cluster_id
    )
    SELECT c.doc_id, c.cluster_id, d.n_chars,
           c.doc_id = e.rep_id AS keep
    FROM comp c
    JOIN documents d USING (doc_id)
    JOIN elected e ON e.cluster_id = c.cluster_id
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-complete near-dedup: elect the LONGEST doc per cluster.

    Production near-dedup keeps the highest-quality member of each
    duplicate cluster, not the lowest id — length is the classic proxy
    (CCNet/RefinedWeb-style). Composes the connected components with a
    per-cluster ``max_by`` window on a packed long key (n_chars · 2³³ +
    (2³³ − doc_id): longest wins, ties to the lowest id) — one shuffle
    on cluster_id, the components read once (no join back onto an
    aggregate of them), and the packed key keeps the election
    bit-deterministic in both engines.
    """
    from pyspark.sql.window import Window

    comps = dedup_cluster_components(spark, sf_dir).select("doc_id", "cluster_id")
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    okey = F.col("n_chars") * F.lit(8589934592) + (
        F.lit(8589934592) - F.col("doc_id")
    )
    rep_id = F.max_by("doc_id", okey).over(Window.partitionBy("cluster_id"))
    return comps.join(docs, "doc_id").select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.col("doc_id") == rep_id).alias("keep"),
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Example.com'
                   ELSE 'https://www.example.com' END)
             || '/p/' || (doc_id % 400)
             || (CASE WHEN doc_id % 3 = 0
                      THEN '?utm_source=feed&id=' || (doc_id % 5)
                      ELSE '?id=' || (doc_id % 5) END)
             || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             'https://'
               || lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
               || regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
               || '?id=' || regexp_extract(url, '[?&]id=([^&#]*)', 1)
               AS canonical_url
      FROM raw
    )
    SELECT canonical_url, MIN(doc_id) AS keep_doc_id,
           COUNT(*) - 1 AS n_dups
    FROM canon
    GROUP BY 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: normalize scheme/host case, strip
    tracking params (utm_*) and fragments, then collapse to one doc per
    canonical URL (lowest id kept).

    The cheapest dedup pass in a web pipeline — it runs before any
    content hashing and removes the recrawl/tracking-variant bulk for
    the cost of one string projection + one groupBy on the canonical
    key (map-side combinable; the shuffle carries canonical URLs, not
    documents). Canonicalization is ``parse_url`` component reassembly
    — host lowercased, only the meaningful ``id`` param kept — all
    codegen'd JVM string ops. URLs are constructed deterministically
    from fixture columns (case noise, utm junk, and fragments planted
    by doc_id residue) so DuckDB's regex-based twin sees identical
    bytes.
    """
    d = table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.Example.com"))
            .otherwise(F.lit("https://www.example.com")),
            F.lit("/p/"), (F.col("doc_id") % 400).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("?utm_source=feed&id="), (F.col("doc_id") % 5).cast("string")),
            ).otherwise(F.concat(F.lit("?id="), (F.col("doc_id") % 5).cast("string"))),
            F.when(F.col("doc_id") % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    canon = raw.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.lower(F.parse_url("url", F.lit("HOST"))),
            F.parse_url("url", F.lit("PATH")),
            F.lit("?id="),
            F.parse_url("url", F.lit("QUERY"), F.lit("id")),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keep_doc_id"),
        (F.count(F.lit(1)) - 1).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# dedup_minhash_band_eval — LSH operating-point tuning

_BAND_SHAPES = [(8, 4), (4, 8)]  # (bands, rows_per_band), both = 32 hashes
_BAND_EST_MIN = N_MINHASH // 2  # "estimated duplicate": ≥ half slots agree


def _sql_minhash_sig_cte() -> str:
    """Programmatic twin of the signature pipeline (same constants as
    `_minhash_signatures`), reusable by any band shape."""
    mins = ",\n             ".join(
        f"MIN((h1 * {_MINHASH_A[i]} + h2 * {_MINHASH_B[i]}) % {_HP}) AS mh_{i}"
        for i in range(N_MINHASH)
    )
    return f"""toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [] END) AS s
      FROM toks
    ), hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % {_HP} AS h1,
             CAST(('0x' || substring(md5(s), 17, 15)) AS BIGINT) % {_HP} AS h2
      FROM sh
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    )"""


def _sql_fold(idxs: list[int]) -> str:
    expr = f"mh_{idxs[0]}"
    for i in idxs[1:]:
        expr = f"(({expr}) % {_HP}) * 131 + mh_{i}"
    return expr


def _band_eval_sql() -> str:
    siglist = ", ".join(f"mh_{i}" for i in range(N_MINHASH))
    agree = (
        "list_sum(list_transform(range(1, 33), "
        "i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))"
    )
    shapes = []
    for nb, rpb in _BAND_SHAPES:
        band_rows = "\n      UNION ALL\n      ".join(
            f"SELECT doc_id, {b} AS band, "
            f"{_sql_fold(list(range(b * rpb, (b + 1) * rpb)))} AS bucket "
            f"FROM sig"
            for b in range(nb)
        )
        shapes.append(f"""
    SELECT {nb} AS n_bands, {rpb} AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN {agree} >= {_BAND_EST_MIN}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_est_dup,
           (CAST(floor(CAST(SUM(CASE WHEN {agree} >= {_BAND_EST_MIN}
                    THEN 1 ELSE 0 END) AS DOUBLE)
                 / greatest(COUNT(*), 1) * 10000) AS DOUBLE) / 10000)
             AS precision_proxy
    FROM (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM (
      {band_rows}
      ) a JOIN (
      {band_rows}
      ) b ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
    ) cand
    JOIN sigl sa ON sa.doc_id = cand.doc_a
    JOIN sigl sb ON sb.doc_id = cand.doc_b""")
    union = "\n    UNION ALL\n".join(shapes)
    return f"""
    WITH {_sql_minhash_sig_cte()}, sigl AS (
      SELECT doc_id, [{siglist}] AS sig FROM sig
    )
    {union}
    """


@query("dedup_minhash_band_eval", oracle=_band_eval_sql())
def dedup_minhash_band_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-point tuning: the SAME 32-hash minhash signatures
    banded two ways — 8 bands × 4 rows (high recall, more candidates)
    vs 4 bands × 8 rows (high precision, fewer) — with, per shape, the
    candidate-pair count and the share whose signature agreement
    estimates Jaccard ≥ 0.5. This is the S-curve measurement that
    decides a production band shape BEFORE committing a 100 TB pass;
    the cheap proxy (signature agreement, already computed) stands in
    for exact rescoring, which `dedup_minhash` does downstream.

    One signature build feeds both shapes (the expensive shingle→hash
    reduction is shared; banding is a projection); each shape's
    candidate generation is the standard band-bucket self-join —
    bounded by bucket occupancy, never all-pairs. Everything is
    arithmetic-hash integer state, so both engines agree exactly.
    """
    docs = table(spark, sf_dir, "documents")
    sigs = _minhash_signatures(docs).cache()
    sig_el = lambda i: F.element_at("signature", i + 1)  # noqa: E731
    # Stays a fold (OPTIMIZATION_r13.md §4): 32 integer terms per
    # CANDIDATE pair, and candidates are banding-bounded, never
    # corpus-sized.
    agree = F.aggregate(
        F.zip_with(
            F.col("sa"), F.col("sb"), lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    shapes = []
    for nb, rpb in _BAND_SHAPES:
        bands = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            _fold_bucket(
                                [sig_el(i) for i in range(b * rpb, (b + 1) * rpb)]
                            ).alias("bucket"),
                        )
                        for b in range(nb)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")
        a = bands.select(
            F.col("doc_id").alias("doc_a"), "band", "bucket"
        )
        b = bands.select(
            F.col("doc_id").alias("doc_b"), "band", "bucket"
        )
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        scored = (
            cand.join(
                sigs.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("signature").alias("sa"),
                ),
                "doc_a",
            )
            .join(
                sigs.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("signature").alias("sb"),
                ),
                "doc_b",
            )
            .select(agree.alias("n_agree"))
        )
        shapes.append(
            scored.agg(
                F.lit(nb).alias("n_bands"),
                F.lit(rpb).alias("rows_per_band"),
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                F.sum(
                    F.when(F.col("n_agree") >= _BAND_EST_MIN, 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_est_dup"),
                trunc_digits(
                    F.sum(
                        F.when(F.col("n_agree") >= _BAND_EST_MIN, 1).otherwise(
                            0
                        )
                    ).cast("double")
                    / F.greatest(F.count(F.lit(1)), F.lit(1)),
                    4,
                ).alias("precision_proxy"),
            )
        )
        # select order: lit columns first then aggs — agg() puts
        # grouping-less literals as aggregate expressions, fine.
    out = shapes[0].unionByName(shapes[1])
    return out.select(
        "n_bands", "rows_per_band", "n_candidates", "n_est_dup", "precision_proxy"
    )


@query(
    "pipeline_dedup_funnel",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, sha256(lower(trim(text))) AS h FROM documents
    ), keep AS (
      SELECT h, MIN(doc_id) AS keep_id FROM norm GROUP BY h
    ), surv AS (
      SELECT keep_id AS doc_id FROM keep
    ), {_SHARED_GRAMS_CTES}, pairs AS (
      SELECT doc_a, doc_b FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
    ), spairs AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN surv sa ON sa.doc_id = doc_a
      JOIN surv sb ON sb.doc_id = doc_b
    ), near AS (
      SELECT DISTINCT doc_b FROM spairs
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_total,
           (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM keep)
             AS n_exact_removed,
           (SELECT COUNT(*) FROM near) AS n_near_removed,
           (SELECT COUNT(*) FROM keep) - (SELECT COUNT(*) FROM near)
             AS n_final
    """,
)
def pipeline_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup funnel report — the per-stage attrition numbers a corpus
    team reads before shipping a cleaned snapshot: exact-hash removals
    first, then near-dup removals among the exact survivors, and the
    final corpus size, in one row.

    Stage semantics are pinned so the report is reproducible: exact
    stage keeps the lowest doc_id per sha256(normalized text); near
    stage takes the capped-df Jaccard pairs (same τ as
    `dedup_ngram_jaccard`), restricts them to exact survivors on BOTH
    ends, and removes the higher-id member of each pair (greedy
    pairwise, documented as such — full transitive clustering is
    `dedup_cluster_components`' job).

    Scale: the digests shuffle, never the texts; the pair restriction
    is two semi joins against the survivor id set; all four counts are
    scalar aggregates combined through one-row joins (constant-size
    cross joins, no data-sized broadcast).
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    )
    keep = keyed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    surv = keep.select(F.col("keep_id").alias("doc_id"))
    pairs = _jaccard_pairs(docs).select("doc_a", "doc_b")
    spairs = pairs.join(
        surv.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
    ).join(surv.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    near = spairs.select("doc_b").distinct()

    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    n_keep = keep.agg(F.count(F.lit(1)).alias("n_keep"))
    n_near = near.agg(F.count(F.lit(1)).alias("n_near"))
    return (
        n_total.crossJoin(n_keep)
        .crossJoin(n_near)
        .select(
            "n_total",
            (F.col("n_total") - F.col("n_keep")).alias("n_exact_removed"),
            F.col("n_near").alias("n_near_removed"),
            (F.col("n_keep") - F.col("n_near")).alias("n_final"),
        )
    )


# Aligned-window boilerplate detection (the C4/RefinedWeb "remove text
# duplicated across documents" step, expressed for flat word streams):
# a window is boilerplate iff it appears verbatim in >= 2 DISTINCT docs.
_BP_W = 8  # words per aligned window


@query(
    "dedup_boilerplate_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
      FROM documents
    ), segs0 AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(ceil(len(w) / {_BP_W}.0) AS BIGINT)),
               i -> struct_pack(
                 h := md5(array_to_string(
                        w[(i * {_BP_W} + 1):(i * {_BP_W} + {_BP_W})], ' ')),
                 nw := least({_BP_W}, len(w) - i * {_BP_W})))) AS s
      FROM toks
    ), segs AS (
      SELECT doc_id, s.h AS h, s.nw AS nw FROM segs0
    ), dfreq AS (
      SELECT h, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY h
    )
    SELECT segs.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(*) FILTER (df >= 2) AS BIGINT) AS n_boilerplate,
           CAST(COALESCE(SUM(nw) FILTER (df < 2), 0) AS BIGINT)
             AS kept_words
    FROM segs JOIN dfreq USING (h)
    GROUP BY segs.doc_id
    """,
)
def dedup_boilerplate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection over aligned word windows —
    the C4/RefinedWeb "drop any span that repeats verbatim across the
    corpus" pass, re-expressed for the fixture's flat word streams:
    each doc splits into consecutive 8-word aligned windows, a window
    is boilerplate iff its text occurs in >= 2 DISTINCT documents, and
    each doc reports (n_windows, n_boilerplate, kept_words) — the
    accounting a pipeline uses to rewrite or drop documents.

    Scale shape: windows never pair with windows — one md5-keyed
    document-frequency aggregate (count-distinct-docs per window hash,
    map-side combinable), one join back on the 32-char hash (narrow
    shuffle keys regardless of window text width; at 100 TB the df
    table's hot head is small and AQE broadcasts it), one per-doc
    aggregate. The md5 key makes the DuckDB twin bit-identical without
    shuffling window TEXT, and hash grouping is collision-safe at
    128 bits. Complements ``dedup_repeated_spans`` (within-doc spans,
    no join) and ``dedup_ngram_jaccard`` (whole-doc similarity):
    this is the span-level CROSS-doc pass.
    """
    docs = spread_input(table(spark, sf_dir, "documents"))
    w = _words()
    nwin = F.ceil(F.size("w") / F.lit(float(_BP_W))).cast("int")
    # Lambda-free window hashing: explode the bare window INDEX
    # sequence (native) and compute slice + array_join + md5 POST-
    # explode inside whole-stage codegen, not in an interpreted
    # transform() lambda (OPTIMIZATION_r14.md §10). The word array rides
    # the Generate within one fused stage (no shuffle touches it).
    segs = (
        docs.select("doc_id", w.alias("w"))
        .select(
            "doc_id", "w", F.explode(F.sequence(F.lit(0), nwin - 1)).alias("i")
        )
        .select(
            "doc_id",
            F.md5(
                F.array_join(
                    F.slice(F.col("w"), F.col("i") * _BP_W + 1, F.lit(_BP_W)),
                    " ",
                )
            ).alias("h"),
            F.least(
                F.lit(_BP_W), F.size("w") - F.col("i") * _BP_W
            ).alias("nw"),
        )
    )
    dfreq = segs.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    return (
        segs.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum((F.col("df") >= 2).cast("bigint")).alias("n_boilerplate"),
            F.coalesce(
                F.sum(F.when(F.col("df") < 2, F.col("nw"))), F.lit(0)
            ).cast("bigint").alias("kept_words"),
        )
    )
