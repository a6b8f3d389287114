"""§2.B.9 extension — end-to-end training-data-pipeline operators.

The ops a pretraining data pipeline runs between "raw corpus" and
"token stream": sequence packing, benchmark-contamination detection,
PII redaction, stratified downsampling, and corpus-mixture weighting.
Everything stays in built-in expressions (codegen'd, scan-speed); the
only shuffles are the ones the semantics force, and each docstring
says why that shuffle survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tpctools_spark.catalog import table
from tpctools_spark.queries._util import global_rank, trunc_digits, spread_input
from tpctools_spark.registry import query

# Packing capacity (tokens per training sequence). Small relative to
# the fixtures' 30-100-token docs so multi-doc packs AND boundary
# spanning both occur; a real pipeline uses 2048/4096/8192.
_SEQ_LEN = 128

# Fan-out of independent packing streams. At 100 TB this is the number
# of parallel writers (thousands); each shard packs independently so
# the window sort is per-shard, never global.
_N_SHARDS = 8


@query(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             doc_id % {_N_SHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM toks
    )
    SELECT doc_id, shard, n_tokens,
           shard * 1000000 + cum_before // {_SEQ_LEN} AS seq_id,
           cum_before % {_SEQ_LEN} AS seq_offset,
           (cum_before % {_SEQ_LEN} + n_tokens + {_SEQ_LEN} - 1) // {_SEQ_LEN}
             AS n_seqs_spanned
    FROM packed
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack tokenized documents into fixed-length training sequences.

    GPT-style contiguous packing: concatenate each shard's documents in
    stable doc_id order and cut every ``_SEQ_LEN`` tokens, letting
    documents span sequence boundaries. Each doc's placement is a pure
    function of the running token count before it, so the op is one
    per-shard window cumsum — no packing loop, no driver state.

    Scale story: the window partitions by ``shard``, so the sort is
    per-shard and the shuffle distributes across executors; there is
    never a global order-by. Growing the corpus only adds shards —
    placement within a shard is reproducible (pure function of the
    docs in that shard), which is what makes training resumable.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    packed = toks.withColumn("cum_before", cum_before)
    return packed.select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.col("shard") * 1000000 + F.floor(F.col("cum_before") / _SEQ_LEN)).alias(
            "seq_id"
        ),
        (F.col("cum_before") % _SEQ_LEN).alias("seq_offset"),
        F.floor(
            (F.col("cum_before") % _SEQ_LEN + F.col("n_tokens") + _SEQ_LEN - 1)
            / _SEQ_LEN
        ).alias("n_seqs_spanned"),
    )


@query(
    "pipeline_contamination",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                 range(1, greatest(len(w) - 3, 1)),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                      || ' ' || w[i+4])) AS gram
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
              FROM documents)
      ) WHERE gram IS NOT NULL
    ), eval_grams AS (
      SELECT doc_id AS eval_doc, gram FROM grams WHERE doc_id % 97 = 0
    ), train_grams AS (
      SELECT doc_id AS train_doc, gram FROM grams WHERE doc_id % 97 <> 0
    )
    SELECT train_doc, eval_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams,
           COUNT(*) >= 3 AS contaminated
    FROM train_grams JOIN eval_grams USING (gram)
    GROUP BY train_doc, eval_doc
    """,
)
def pipeline_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: training docs sharing 5-grams
    with any eval-set document (eval set = ``doc_id % 97 == 0``,
    standing in for a held-out benchmark).

    The eval set is tiny relative to the corpus — exactly the
    real-world asymmetry — so its distinct-gram inverted index is
    BROADCAST and the check is a map-side hash join at corpus scan
    speed: no shuffle of the 100 TB side at all. The only exchange is
    the final (train_doc, eval_doc) count aggregation over matched
    pairs, whose size is bounded by true overlap, not corpus size.
    """
    # Fixture parquet is one split → one task; spread_input widens the
    # scan for shingling but is a metadata-checked NO-OP when the scan
    # already has cluster-width splits (the 100 TB case).
    docs = spread_input(table(spark, sf_dir, "documents"))
    # Overlapping 5-grams in ONE codegen regex pass (word-start
    # lookbehind + capture lookahead) — identical output to the
    # split/transform HOF formulation on single-space-tokenized text,
    # ~4× faster and allocation-light (the interpreted HOF lambda was
    # GC-spiking multi-second outliers at bench time). The doc_id
    # side-filters apply BEFORE shingling so the broadcast build only
    # shingles the (tiny) eval slice.
    grams5 = F.array_distinct(
        F.expr(
            r"regexp_extract_all(lower(trim(text)),"
            r" '(?<=^|\\s)(?=(\\S+ \\S+ \\S+ \\S+ \\S+))', 1)"
        )
    )

    def shingle(side):
        return side.select("doc_id", F.explode(grams5).alias("gram"))

    eval_g = shingle(docs.filter(F.col("doc_id") % 97 == 0)).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    train_g = shingle(docs.filter(F.col("doc_id") % 97 != 0)).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    return (
        train_g.join(F.broadcast(eval_g), "gram")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .select(
            "train_doc",
            "eval_doc",
            "n_shared_grams",
            (F.col("n_shared_grams") >= 3).alias("contaminated"),
        )
    )


@query(
    "pipeline_pii_scrub",
    oracle=r"""
    WITH scrubbed AS (
      SELECT doc_id,
             regexp_replace(text, '\b(customer|spark)\b', '<PII>', 'g') AS clean,
             CAST(len(regexp_extract_all(text, '\b(customer|spark)\b'))
                  AS BIGINT) AS n_redactions
      FROM documents
    )
    SELECT doc_id, n_redactions,
           md5(clean) AS clean_fp,
           CAST(length(clean) AS BIGINT) AS clean_chars
    FROM scrubbed
    WHERE n_redactions > 0
    """,
)
def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace every match of a sensitive-term pattern
    with a placeholder and report redaction counts per document.

    The fixtures' synthetic text has no emails/phones, so the pattern
    is a term list; a real pipeline swaps in the email/phone/SSN
    alternation — the plan is identical. Pure per-row regexp work in
    whole-stage codegen: no shuffle, no Python. Both engines run the
    same regex dialect subset (alternation + ``\b``), and the output
    is fingerprinted (md5) so the oracle compares redacted CONTENT,
    not just counts.
    """
    pat = r"\b(customer|spark)\b"
    docs = table(spark, sf_dir, "documents")
    scrubbed = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), pat, "<PII>").alias("clean"),
        F.regexp_count(F.col("text"), F.lit(pat)).cast("bigint").alias(
            "n_redactions"
        ),
    )
    return scrubbed.filter(F.col("n_redactions") > 0).select(
        "doc_id",
        "n_redactions",
        F.md5(F.encode(F.col("clean"), "utf-8")).alias("clean_fp"),
        F.length("clean").cast("bigint").alias("clean_chars"),
    )


@query(
    "pipeline_sample_stratified",
    oracle="""
    WITH rated AS (
      SELECT doc_id, lang, source,
             (doc_id * 2654435761) % 100 AS bucket,
             CASE WHEN lang = 'en' THEN 20 ELSE 80 END AS keep_pct
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(keep_pct AS BIGINT) AS keep_pct
    FROM rated
    WHERE bucket < keep_pct
    """,
)
def pipeline_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling: per-stratum keep rates applied via a
    deterministic multiplicative hash of the stable row key.

    The language-rebalancing step of corpus construction (keep 20% of
    dominant-language docs, 80% of the rest). Membership is a pure
    function of (doc_id, stratum rate): reproducible across engines,
    runs, and repartitionings, and monotone under corpus growth — a
    kept doc stays kept when more data arrives, so incremental builds
    never resample history. The predicate evaluates at the scan; the
    dropped 80%/20% is never shuffled or materialized.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100))
    keep_pct = F.when(F.col("lang") == "en", 20).otherwise(80)
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            keep_pct.cast("bigint").alias("keep_pct"),
        )
        .filter(bucket < keep_pct)
    )


@query(
    "pipeline_mix_weights",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), totals AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           CAST(floor(CAST(n_tokens AS DOUBLE) / total_tokens * 1000000)
                AS DOUBLE) / 1000000 AS actual_share,
           CAST(floor((CAST(total_tokens AS DOUBLE) / n_sources)
                      / n_tokens * 10000) AS DOUBLE) / 10000 AS mix_weight
    FROM per_source CROSS JOIN totals
    """,
)
def pipeline_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture weighting: per-source token shares and the
    sampling weight that flattens the mix to a uniform target.

    ``mix_weight`` is the epochs-per-source multiplier a data loader
    applies to hit the target mixture (uniform here; a real run joins
    a target-share table instead of the ``1/n_sources`` constant —
    same plan). One partial+final aggregation over the corpus produces
    a per-source table small enough that the totals join is a
    broadcast of ONE row; nothing else shuffles. Shares are exact
    integer token counts until the final truncated division, so the
    oracle matches bit-for-bit.
    """
    docs = table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).alias("n_tokens"),
    )
    totals = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_source.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        trunc_digits(
            F.col("n_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("actual_share"),
        trunc_digits(
            (F.col("total_tokens").cast("double") / F.col("n_sources"))
            / F.col("n_tokens"),
            4,
        ).alias("mix_weight"),
    )


@query(
    "pipeline_unigram_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ), model AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE tok <> '' GROUP BY tok
    ), scored AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(m.tf) AS BIGINT) AS sum_tf
      FROM toks t JOIN model m USING (tok)
      WHERE t.tok <> ''
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, sum_tf,
           CAST(floor(CAST(sum_tf AS DOUBLE) / n_tokens * 100) AS DOUBLE) / 100
             AS mean_token_freq
    FROM scored
    """,
)
def pipeline_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring: mean corpus frequency of each
    document's tokens — the two-pass "score docs against a corpus
    model" shape of LM-based quality filtering.

    Pass 1 aggregates the token→frequency model; pass 2 re-scans the
    corpus and joins each token against the model. The model is
    vocabulary-sized (millions of rows, not corpus-sized), so at
    100 TB it broadcasts and pass 2 is a map-side join + per-doc
    aggregation — two corpus scans, one corpus-sized shuffle (the
    per-doc re-agg keyed on doc_id). Scores stay in exact integer
    arithmetic until the final truncated division; a real pipeline
    swaps mean-frequency for mean log-probability (FP) with the
    identical plan.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    model = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    scored = (
        # The LM table is vocabulary-sized — unbounded under Heaps'
        # law at corpus scale — so the join is unhinted: AQE
        # broadcasts it while it is small and shuffles on `tok` when
        # it is not.
        toks.join(model, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("tf").cast("bigint").alias("sum_tf"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "sum_tf",
        trunc_digits(F.col("sum_tf").cast("double") / F.col("n_tokens"), 2).alias(
            "mean_token_freq"
        ),
    )


@query(
    "pipeline_filter_cascade",
    oracle="""
    WITH staged AS (
      SELECT doc_id,
             (n_chars >= 50)                                   AS pass_len,
             (lang IN ('en', 'de', 'fr'))                      AS pass_lang,
             (len(string_split(text, ' ')) >= 20)              AS pass_tokens,
             (len(string_split(text, ' ')) > 0 AND
              CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) >= 0.10)        AS pass_diversity
      FROM documents
    )
    SELECT COUNT(*)                                            AS n_input,
           COUNT(*) FILTER (pass_len)                          AS after_len,
           COUNT(*) FILTER (pass_len AND pass_lang)            AS after_lang,
           COUNT(*) FILTER (pass_len AND pass_lang AND pass_tokens)
                                                               AS after_tokens,
           COUNT(*) FILTER (pass_len AND pass_lang AND pass_tokens
                            AND pass_diversity)                AS after_diversity
    FROM staged
    """,
)
def pipeline_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade with per-stage attrition counts — the
    C4/Gopher-style corpus cleaning funnel (length gate → language gate
    → token-count gate → lexical-diversity gate), reported as survivor
    counts per stage so each rule's cost is visible before committing
    to it.

    ONE scan, one row out: every gate is a boolean projection and the
    funnel is conditional counting in a single aggregate — no
    per-stage passes, no shuffle beyond the one-row final agg. This is
    the cheap observability layer a 100 TB cleaning job runs FIRST
    (rule tuning on counts), before materializing any filtered copy.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    staged = d.select(
        (F.col("n_chars") >= 50).alias("pass_len"),
        F.col("lang").isin("en", "de", "fr").alias("pass_lang"),
        (F.size(words) >= 20).alias("pass_tokens"),
        (
            (F.size(words) > 0)
            & (
                F.size(F.array_distinct(words)).cast("double") / F.size(words)
                >= 0.10
            )
        ).alias("pass_diversity"),
    )
    cnt = lambda c: F.count_if(c)  # noqa: E731
    p1 = F.col("pass_len")
    p2 = p1 & F.col("pass_lang")
    p3 = p2 & F.col("pass_tokens")
    p4 = p3 & F.col("pass_diversity")
    return staged.agg(
        F.count(F.lit(1)).alias("n_input"),
        cnt(p1).alias("after_len"),
        cnt(p2).alias("after_lang"),
        cnt(p3).alias("after_tokens"),
        cnt(p4).alias("after_diversity"),
    )


@query(
    "pipeline_deterministic_shuffle",
    oracle="""
    WITH hashed AS (
      SELECT doc_id,
             ((doc_id * 654435747 + 104729) % 1000000007) % 100000 AS shard_key
      FROM documents
    )
    SELECT doc_id, shard_key,
           ROW_NUMBER() OVER (ORDER BY shard_key, doc_id) AS shuffle_pos
    FROM hashed
    ORDER BY shuffle_pos
    LIMIT 500
    """,
)
def pipeline_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every
    doc gets a pseudo-random but reproducible position — same corpus,
    same order, any cluster size, no RNG state to checkpoint.

    The shard key is the arithmetic multiplicative hash (same family as
    the LSH/SimHash/CMS ops), so the permutation is a pure function of
    doc_id. The global position is the two-pass distributed rank
    (``global_rank``: ``repartitionByRange(shard_key, doc_id)`` +
    per-partition local ranks + broadcast offsets) — exactly the
    production shard layout (each range partition is one internally
    ordered output shard) with exact global positions and no
    single-partition stage. Output limited to the first 500 positions.
    """
    d = table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        (
            F.pmod(F.col("doc_id") * 654_435_747 + 104_729, F.lit(1_000_000_007))
            % 100_000
        ).alias("shard_key"),
    )
    return (
        global_rank(
            hashed, [F.col("shard_key"), F.col("doc_id")], rn="shuffle_pos"
        )
        .orderBy("shuffle_pos")
        .limit(500)
    )


@query(
    "pipeline_source_report",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           COUNT(*) FILTER (n_chars BETWEEN 100 AND 400) AS n_quality_len,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS n_exact_dups
    FROM documents
    GROUP BY source
    """,
)
def pipeline_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: volume, token mass, quality-length
    rate, language spread, and exact-duplicate count for every
    ingestion source — the one-page report that decides which feeds
    earn a place in the training mix (and the artifact dataset
    documentation standards ask for).

    ONE scan, one groupBy: every metric is an aggregate over the same
    pass, including the dup count (rows minus distinct content
    digests — the digest is computed in the scan projection, so dedup
    accounting costs a hash, not a second job).
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            "lang",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.md5(F.lower(F.trim("text"))).alias("digest"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.count_if(F.col("n_chars").between(100, 400)).alias("n_quality_len"),
            F.countDistinct("lang").alias("n_langs"),
            (F.count(F.lit(1)) - F.countDistinct("digest")).alias("n_exact_dups"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_interleave_stride

# Integer mixture weights per source and their LCM: the stride key
# r·(L/w) is an exact integer, so the interleave order is a pure
# function of (source, within-source rank) — reproducible on any
# engine, any partitioning, any day.
_STRIDE_WEIGHTS = {"src0": 3, "src1": 2, "src2": 1}
_STRIDE_LCM = 6
_STRIDE_TAKE = 60


@query(
    "pipeline_interleave_stride",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r,
             CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2 ELSE 1 END AS w
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
    ), keyed AS (
      SELECT doc_id, source, r,
             r * ({_STRIDE_LCM} / w) AS stride_key
      FROM ranked
    )
    SELECT doc_id, source, CAST(r AS BIGINT) AS source_rank,
           CAST(stride_key AS BIGINT) AS stride_key,
           ROW_NUMBER() OVER (ORDER BY stride_key, source, doc_id) AS position
    FROM keyed
    ORDER BY stride_key, source, doc_id
    LIMIT {_STRIDE_TAKE}
    """,
)
def pipeline_interleave_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional corpus interleave by stride scheduling: the
    deterministic "data-loader order" that mixes sources 3:2:1 WITHOUT
    random sampling — source s's r-th document is scheduled at virtual
    time r/wₛ, realized as the exact integer key r·(LCM/wₛ), so over
    any prefix each source's share converges to its weight and the
    order is bit-reproducible (the property `pipeline_mix_weights`
    only *samples* toward).

    Dataflow: one per-source rank window (shuffle keyed by source),
    one projection for the stride key; the global order materializes
    only for the inspected prefix (TakeOrderedAndProject) — at 100 TB
    the key IS the sort column you hand to repartitionByRange, and no
    global sort ever runs on the driver. Stride scheduling is the
    Waldspurger '95 scheduler trick applied to corpus mixing.
    """
    w_expr = (
        F.when(F.col("source") == "src0", F.lit(_STRIDE_WEIGHTS["src0"]))
        .when(F.col("source") == "src1", F.lit(_STRIDE_WEIGHTS["src1"]))
        .otherwise(F.lit(_STRIDE_WEIGHTS["src2"]))
    )
    wr = Window.partitionBy("source").orderBy("doc_id")
    ranked = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(*_STRIDE_WEIGHTS))
        .select("doc_id", "source")
        .select(
            "doc_id",
            "source",
            F.row_number().over(wr).alias("r"),
            w_expr.alias("w"),
        )
    )
    keyed = ranked.select(
        "doc_id",
        "source",
        F.col("r").cast("bigint").alias("source_rank"),
        (F.col("r") * (_STRIDE_LCM / F.col("w")).cast("bigint"))
        .cast("bigint")
        .alias("stride_key"),
    )
    wo = Window.orderBy("stride_key", "source", "doc_id")
    return (
        keyed.orderBy("stride_key", "source", "doc_id")
        .limit(_STRIDE_TAKE)
        .select(
            "doc_id",
            "source",
            "source_rank",
            "stride_key",
            F.row_number().over(wo).alias("position"),
        )
    )


@query(
    "pipeline_curriculum_order",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             ((n_chars - len(string_split(text, ' ')) + 1) * 1000)
               // len(string_split(text, ' ')) AS diff_milli
      FROM documents
    ), cuts AS (
      SELECT quantile_cont(diff_milli, 0.25) AS c1,
             quantile_cont(diff_milli, 0.50) AS c2,
             quantile_cont(diff_milli, 0.75) AS c3
      FROM scored
    ), staged AS (
      SELECT doc_id, diff_milli,
             CASE WHEN diff_milli <= c1 THEN 1
                  WHEN diff_milli <= c2 THEN 2
                  WHEN diff_milli <= c3 THEN 3
                  ELSE 4 END AS stage,
             (doc_id * 654435761 + 97) % 1000000007 AS shuffle_key
      FROM scored, cuts
    )
    SELECT doc_id, diff_milli, stage,
           CAST(ROW_NUMBER() OVER (PARTITION BY stage
                                   ORDER BY shuffle_key, doc_id) AS BIGINT)
             AS stage_rank
    FROM staged
    """,
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: easy→hard stages with in-stage shuffle.

    The training-order primitive: score each document's difficulty
    (mean word length, in exact integer milli-units so no FP enters the
    bucketing), cut the corpus into 4 stages at the score quartiles,
    and assign a deterministic pseudo-random rank within each stage —
    curriculum across stages, decorrelated order within a stage.

    Scale: the quartile cutpoints are a 3-value aggregate broadcast to
    every row (the same broadcast-cutpoint shape as agg_rfm_segments —
    no sort of the full corpus to find quantiles); in-stage ranking
    partitions the window by stage, and at 100 TB the stage count rises
    with the data (stage = finer score bins) to keep window partitions
    bounded, leaving the plan unchanged.
    """
    diff = F.expr(
        "((n_chars - size(split(text, ' ')) + 1) * 1000)"
        " div size(split(text, ' '))"
    )
    scored = table(spark, sf_dir, "documents").select(
        "doc_id", diff.alias("diff_milli")
    )
    cuts = scored.agg(
        F.expr("percentile(diff_milli, 0.25)").alias("c1"),
        F.expr("percentile(diff_milli, 0.50)").alias("c2"),
        F.expr("percentile(diff_milli, 0.75)").alias("c3"),
    )
    staged = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "diff_milli",
        F.when(F.col("diff_milli") <= F.col("c1"), 1)
        .when(F.col("diff_milli") <= F.col("c2"), 2)
        .when(F.col("diff_milli") <= F.col("c3"), 3)
        .otherwise(4)
        .alias("stage"),
        ((F.col("doc_id") * 654_435_761 + 97) % 1_000_000_007).alias(
            "shuffle_key"
        ),
    )
    w = Window.partitionBy("stage").orderBy("shuffle_key", "doc_id")
    return staged.select(
        "doc_id",
        "diff_milli",
        "stage",
        F.row_number().over(w).cast("bigint").alias("stage_rank"),
    )


@query(
    "pipeline_quality_filter_gopher",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS wc,
             CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
               / len(string_split(text, ' ')) AS mwl,
             len(list_filter(string_split(text, ' '),
                 w -> w IN ('the', 'of', 'and', 'to', 'a'))) AS stopw
      FROM documents
    )
    SELECT doc_id,
           CAST(wc < 30 OR wc > 100000 AS INT) AS fail_word_count,
           CAST(mwl < 2.0 OR mwl > 10.0 AS INT) AS fail_mean_word_len,
           CAST(stopw < 2 AS INT) AS fail_stopwords,
           CAST(NOT (wc < 30 OR wc > 100000)
                AND NOT (mwl < 2.0 OR mwl > 10.0)
                AND NOT (stopw < 2) AS INT) AS passed
    FROM m
    """,
)
def pipeline_quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter with per-rule diagnostics.

    The pretraining gatekeeper (word-count bounds, mean-word-length
    bounds, minimum stopword evidence) emitting one row per document
    with each rule's verdict — the per-rule flags are what makes the
    filter TUNABLE: aggregate them and you see which rule removes what
    before committing to a cut. Complements text_quality (continuous
    scores) with the canonical hard-rule form.

    Determinism: word counts and stopword counts are integers; the one
    ratio (mean word length) divides two exact integers, and both
    engines compare the identical IEEE quotient against the bounds.

    Scale: pure row-local projection over one scan — no shuffle, no
    state; the filter runs at ingest wire speed.
    """
    w = F.split(F.col("text"), " ")
    wc = F.size(w)
    mwl = (F.col("n_chars") - wc + 1).cast("double") / wc
    stopw = F.size(
        F.filter(
            w, lambda t: t.isin("the", "of", "and", "to", "a")
        )
    )
    fail_wc = (wc < 30) | (wc > 100_000)
    fail_mwl = (mwl < 2.0) | (mwl > 10.0)
    fail_stop = stopw < 2
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        fail_wc.cast("int").alias("fail_word_count"),
        fail_mwl.cast("int").alias("fail_mean_word_len"),
        fail_stop.cast("int").alias("fail_stopwords"),
        (~fail_wc & ~fail_mwl & ~fail_stop).cast("int").alias("passed"),
    )


@query(
    "pipeline_time_split",
    oracle="""
    WITH bounds AS (
      SELECT MIN(epoch_us(ts))
             + CAST(floor((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) * 0.8)
                    AS BIGINT) AS cut_us
      FROM events
    ), tagged AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) < cut_us THEN 'train' ELSE 'test' END
               AS split
      FROM events, bounds
    ), census AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM tagged GROUP BY split
    ), leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT user_id FROM tagged GROUP BY user_id
        HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT c.split, c.n_rows, c.n_users, l.n AS n_leaking_users
    FROM census c, leak l
    """,
)
def pipeline_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an entity-leakage audit.

    Forecasting data must split by TIME (train strictly before test, at
    the 80% point of the observed span) — but a time split lets the
    same user appear on both sides, which leaks identity-level signal
    into evaluation for user-level models. This op performs the split
    AND reports the leakage count, so the pipeline can decide: accept
    (per-event models), or hand the leaking users to the hash-split
    (sample_hash_split) for entity-disjoint folds.

    Determinism: the cut is min + 0.8·span in exact microsecond
    arithmetic — no quantile estimation; one-row bounds broadcast
    (allowlisted BNLJ), two combinable aggregations.
    """
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(
        (
            F.min(us) + ((F.max(us) - F.min(us)) * 0.8).cast("bigint")
        ).alias("cut_us")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(us < F.col("cut_us"), "train")
        .otherwise("test")
        .alias("split"),
    )
    census = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )
    leak = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaking_users"))
    )
    return census.crossJoin(F.broadcast(leak))


@query(
    "pipeline_length_batches",
    oracle="""
    WITH ranked AS (
      SELECT n_chars // 200 AS bucket, n_chars,
             ROW_NUMBER() OVER (PARTITION BY n_chars // 200
                                ORDER BY n_chars, doc_id) AS rn
      FROM documents
    ),
    batched AS (
      SELECT bucket, (rn - 1) // 32 AS batch, n_chars
      FROM ranked
    ),
    per_batch AS (
      SELECT bucket, batch,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MAX(n_chars) AS BIGINT) AS mx,
             CAST(SUM(n_chars) AS BIGINT) AS tot
      FROM batched GROUP BY bucket, batch
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n * mx) AS BIGINT) AS padded_chars,
           CAST(SUM(n * mx - tot) AS BIGINT) AS wasted_chars
    FROM per_batch
    GROUP BY bucket
    """,
)
def pipeline_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: group documents into
    length-similar batches of 32 and account for the padding each
    batch pays up to its own max length — the packing discipline that
    keeps a trainer's padded-token waste low (a random batch pays the
    global max; a length-sorted batch pays its neighborhood's).

    Scale shape: ranks come from the two-pass distributed
    ``_util.global_rank`` over the total order (bucket, length, id) —
    never a per-bucket single-partition window, which would funnel a
    fifth of the corpus through one task (buckets are few and huge at
    100 TB). The per-bucket rank is the global rank minus the
    bucket's start offset (a broadcast-joined groupBy min — one tiny
    exchange). Batch membership, padded and wasted char counts are
    then pure integer arithmetic, aggregated per bucket. The oracle
    states the same assembly with a plain partitioned window.
    """
    d = table(spark, sf_dir, "documents").select(
        F.expr("n_chars DIV 200").alias("bucket"), "n_chars", "doc_id"
    )
    ranked = global_rank(d, ["bucket", "n_chars", "doc_id"], rn="rn")
    starts = ranked.groupBy(F.col("bucket").alias("b")).agg(
        F.min("rn").alias("start_rn")
    )
    batched = (
        ranked.join(
            F.broadcast(starts), ranked.bucket == F.col("b")
        )
        .select(
            "bucket",
            "n_chars",
            ((F.col("rn") - F.col("start_rn")) / 32)
            .cast("bigint")
            .alias("batch"),
        )
    )
    per_batch = batched.groupBy("bucket", "batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("n_chars").cast("bigint").alias("mx"),
        F.sum("n_chars").cast("bigint").alias("tot"),
    )
    return per_batch.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_batches"),
        F.sum(F.col("n") * F.col("mx")).cast("bigint").alias("padded_chars"),
        F.sum(F.col("n") * F.col("mx") - F.col("tot"))
        .cast("bigint")
        .alias("wasted_chars"),
    )


# ---------------------------------------------------------------------------
# pipeline_shard_dedup_plan — sketch-based cross-shard dedup planning

_SDP_K = 16  # KMV sketch size per shard
_SDP_SHARDS = 4
_SDP_P = 1_000_000_007
_SDP_SALT = 64  # stage-1 rank salt buckets (bounds the per-shard sort)


def _sdp_pairs() -> list[tuple[int, int]]:
    return [
        (a, b)
        for a in range(_SDP_SHARDS)
        for b in range(_SDP_SHARDS)
        if a < b
    ]


def _sdp_plan_ctes() -> str:
    """The shard-sketch planning pipeline as a WITH-chain ending in
    ``plan_out`` — shared by the plan query's oracle and the run
    query's oracle (which selects its top pairs FROM plan_out)."""
    spine = ", ".join(f"({a}, {b})" for a, b in _sdp_pairs())
    k, p = _SDP_K, _SDP_P
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [] END) AS g
      FROM toks
    ), hashed AS (
      SELECT DISTINCT CAST(doc_id % {_SDP_SHARDS} AS BIGINT) AS s,
             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % {p} AS h
      FROM sh
    ), kept AS (
      SELECT s, h FROM (
        SELECT s, h, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS r
        FROM hashed
      ) WHERE r <= {k}
    ), spine AS (
      SELECT CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb
      FROM (VALUES {spine}) AS t(sa, sb)
    ), cand AS (
      SELECT DISTINCT spine.sa, spine.sb, kept.h
      FROM spine JOIN kept ON kept.s = spine.sa OR kept.s = spine.sb
    ), usk AS (
      SELECT sa, sb, h FROM (
        SELECT sa, sb, h,
               ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS r
        FROM cand
      ) WHERE r <= {k}
    ), uk AS (
      SELECT sa, sb, COUNT(*) AS n_kept, MAX(h) AS kth
      FROM usk GROUP BY 1, 2
    ), common AS (
      SELECT u.sa, u.sb, CAST(COUNT(*) AS BIGINT) AS m
      FROM usk u
      JOIN kept a ON a.s = u.sa AND a.h = u.h
      JOIN kept b ON b.s = u.sb AND b.h = u.h
      GROUP BY 1, 2
    ), exact AS (
      SELECT a.s AS sa, b.s AS sb, CAST(COUNT(*) AS BIGINT) AS exact_common
      FROM hashed a JOIN hashed b ON a.h = b.h AND a.s < b.s
      GROUP BY 1, 2
    )
    , plan_out AS (
      SELECT uk.sa AS shard_a, uk.sb AS shard_b,
             COALESCE(common.m, 0) AS n_common_sample,
             CASE WHEN uk.n_kept < {k} THEN CAST(uk.n_kept AS DOUBLE)
                  ELSE CAST(floor({k - 1}.0 * {p} / uk.kth * 100) AS DOUBLE)
                       / 100 END AS union_est,
             CASE WHEN uk.n_kept < {k} THEN CAST(COALESCE(common.m, 0) AS DOUBLE)
                  ELSE CAST(floor((COALESCE(common.m, 0) * {k - 1}.0 * {p})
                                  / ({k}.0 * uk.kth) * 100) AS DOUBLE)
                       / 100 END AS intersect_est,
             COALESCE(exact.exact_common, 0) AS exact_common
      FROM uk
      LEFT JOIN common ON common.sa = uk.sa AND common.sb = uk.sb
      LEFT JOIN exact ON exact.sa = uk.sa AND exact.sb = uk.sb
    )"""


def _sdp_oracle() -> str:
    return _sdp_plan_ctes() + """
    SELECT * FROM plan_out ORDER BY shard_a, shard_b
    """


@query("pipeline_shard_dedup_plan", oracle=_sdp_oracle())
def pipeline_shard_dedup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard dedup PLANNING from per-shard KMV sketches — the
    pass a 100 TB dedup runs BEFORE committing to any shard pairing:
    sketch each shard's 3-gram shingle set once (k=16 minimum hashes,
    mergeable, constant memory), then estimate every shard pair's
    shingle-set union and intersection from sketch state alone. Pairs
    with high estimated overlap get co-scheduled into the same
    near-dup pass; disjoint pairs never meet — turning an all-shards
    problem into a sparse pairing decided by k·shards rows.

    Estimator per pair (the `agg_kmv_intersect` math at the shard
    grain): the merged sketch's k minima are a uniform sample of
    A∪B, so |A∪B| ≈ (k−1)·P/h_k and |A∩B| ≈ (m/k)·|A∪B| where m
    counts union-sample hashes present in both per-shard sketches.
    The exact intersection rides along as the calibration column —
    at 100 TB that column is dropped (it is the only part that
    touches the full hash sets pairwise); the sketch path's cost is
    unchanged at any scale.

    Scale shape: one corpus scan → distinct (shard, shingle-hash);
    the per-shard k-minima come from a TWO-STAGE rank (stage 1
    partitions by (shard, h mod {_SDP_SALT}) so no executor ever
    sorts a whole shard's hash universe; stage 2 ranks the surviving
    ≤ salt·k rows per shard — the `_util.global_rank` trick applied
    to top-k). Everything after operates on ≤ shards·k sketch rows
    against a literal 6-row pair spine: broadcast equi-joins only.
    Hashes are the repo's md5-derived family, so the DuckDB twin
    re-derives identical sketches and checks the ESTIMATES exactly.
    """
    k, p = _SDP_K, _SDP_P
    from tpctools_spark.queries.dedup import _shingles_rx

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = (
        docs.select(
            (F.col("doc_id") % _SDP_SHARDS).cast("bigint").alias("s"),
            F.explode(_shingles_rx()).alias("g"),
        )
        .select(
            "s",
            (
                F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
                % p
            ).alias("h"),
        )
        .distinct()
    )
    # Two-stage per-shard k-minima: salt first so the sort parallelism
    # is shards×salt, not shards; the k global minima of a shard are
    # necessarily among its per-salt k minima.
    w1 = Window.partitionBy("s", F.col("h") % _SDP_SALT).orderBy("h")
    pre = hashed.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= k
    )
    w2 = Window.partitionBy("s").orderBy("h")
    kept = (
        pre.withColumn("r", F.row_number().over(w2))
        .filter(F.col("r") <= k)
        .select("s", "h")
    )
    spine = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).cast("bigint").alias("sa"),
                        F.lit(b).cast("bigint").alias("sb"),
                    )
                    for a, b in _sdp_pairs()
                ]
            )
        ).alias("pr")
    ).select("pr.sa", "pr.sb")
    cand = (
        spine.join(F.broadcast(kept), kept.s == F.col("sa"))
        .select("sa", "sb", "h")
        .unionByName(
            spine.join(F.broadcast(kept), kept.s == F.col("sb")).select(
                "sa", "sb", "h"
            )
        )
        .distinct()
    )
    wu = Window.partitionBy("sa", "sb").orderBy("h")
    usk = (
        cand.withColumn("r", F.row_number().over(wu))
        .filter(F.col("r") <= k)
        .select("sa", "sb", "h")
    )
    uk = usk.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth")
    )
    ka = kept.select(F.col("s").alias("as_"), F.col("h").alias("ha"))
    kb = kept.select(F.col("s").alias("bs_"), F.col("h").alias("hb"))
    common = (
        usk.join(
            F.broadcast(ka),
            (F.col("as_") == F.col("sa")) & (F.col("ha") == F.col("h")),
        )
        .join(
            F.broadcast(kb),
            (F.col("bs_") == F.col("sb")) & (F.col("hb") == F.col("h")),
        )
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    hb2 = hashed.select(F.col("s").alias("s2"), F.col("h").alias("h2"))
    exact = (
        hashed.join(
            hb2, (F.col("h") == F.col("h2")) & (F.col("s") < F.col("s2"))
        )
        .groupBy(F.col("s").alias("ea"), F.col("s2").alias("eb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_common"))
    )
    small = F.col("n_kept") < k
    m0 = F.coalesce(F.col("m"), F.lit(0)).cast("bigint")
    common2 = common.select(
        F.col("sa").alias("ca"), F.col("sb").alias("cb"), "m"
    )
    return (
        uk.join(
            F.broadcast(common2),
            (F.col("ca") == F.col("sa")) & (F.col("cb") == F.col("sb")),
            "left",
        )
        .join(
            F.broadcast(exact),
            (F.col("ea") == F.col("sa")) & (F.col("eb") == F.col("sb")),
            "left",
        )
        .select(
            F.col("sa").alias("shard_a"),
            F.col("sb").alias("shard_b"),
            m0.alias("n_common_sample"),
            F.when(small, F.col("n_kept").cast("double"))
            .otherwise(
                F.floor(
                    F.lit(float(k - 1)) * p / F.col("kth") * 100
                ).cast("double")
                / 100
            )
            .alias("union_est"),
            F.when(small, m0.cast("double"))
            .otherwise(
                F.floor(
                    (m0 * float(k - 1) * p) / (float(k) * F.col("kth")) * 100
                ).cast("double")
                / 100
            )
            .alias("intersect_est"),
            F.coalesce(F.col("exact_common"), F.lit(0))
            .cast("bigint")
            .alias("exact_common"),
        )
        .orderBy("shard_a", "shard_b")
    )


_SDP_RUN_TOPK = 3  # shard pairs the run stage actually executes


def _sdp_run_oracle() -> str:
    from tpctools_spark.queries.dedup import JACCARD_DF_CAP

    s = _SDP_SHARDS
    return _sdp_plan_ctes() + f"""
    , top_pairs AS (
      SELECT shard_a, shard_b FROM plan_out
      ORDER BY intersect_est DESC, shard_a, shard_b LIMIT {_SDP_RUN_TOPK}
    ), jgrams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                 range(1, greatest(len(w) - 1, 1)),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        FROM toks
      ) WHERE gram IS NOT NULL
    ), jsizes AS (
      SELECT doc_id, COUNT(*) AS n FROM jgrams GROUP BY doc_id
    ), jhot AS (
      SELECT gram FROM jgrams GROUP BY gram HAVING COUNT(*) > {JACCARD_DF_CAP}
    ), jkept AS (
      SELECT * FROM jgrams WHERE gram NOT IN (SELECT gram FROM jhot)
    ), jshared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM jkept a JOIN jkept b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jpairs AS (
      SELECT doc_a, doc_b,
             CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS j
      FROM jshared
      JOIN jsizes sa ON sa.doc_id = doc_a
      JOIN jsizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
        AND doc_a % {s} <> doc_b % {s}
    )
    SELECT doc_a, doc_b,
           least(doc_a % {s}, doc_b % {s}) AS shard_a,
           greatest(doc_a % {s}, doc_b % {s}) AS shard_b,
           CAST(floor(j * 10000) AS DOUBLE) / 10000 AS jaccard
    FROM jpairs JOIN top_pairs
      ON least(doc_a % {s}, doc_b % {s}) = top_pairs.shard_a
     AND greatest(doc_a % {s}, doc_b % {s}) = top_pairs.shard_b
    """


@query("pipeline_shard_dedup_run", oracle=_sdp_run_oracle())
def pipeline_shard_dedup_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the shard-dedup PLAN: exact Jaccard near-dup pairs, but
    only across the ``_SDP_RUN_TOPK`` shard pairs the KMV-sketch
    planner (``pipeline_shard_dedup_plan``) ranked highest by estimated
    shingle-set intersection — the consumer the planner existed for.

    At 100 TB this is the payoff of sketch-first planning: with S
    shards there are S·(S−1)/2 possible cross-shard passes; the
    planner's k·S sketch rows pick the few pairs worth co-scheduling,
    and disjoint shards never meet. The run stage itself is the df-cap
    inverted-index Jaccard (``dedup._jaccard_pairs`` — postings shuffle
    once, hot grams capped, never all-pairs) with the shard-pair gate
    applied as a broadcast semi-join against the ≤ topk planned pairs.
    A recall-calibration property test
    (``tests/test_shard_dedup_calibration.py``) plants cross-shard duplicates and
    asserts the planned-pairs run recovers ≥ 0.9 of what an all-pairs
    run finds.

    Determinism: the plan's estimates are exact integers/fixed-point
    (md5-derived hashes), top-k tie-breaks on (est DESC, shard ids),
    and Jaccard is an exact integer ratio — both engines pick the same
    pairs and emit the same rows.
    """
    from tpctools_spark.queries.dedup import _jaccard_pairs

    plan = pipeline_shard_dedup_plan(spark, sf_dir)
    top = (
        plan.orderBy(F.col("intersect_est").desc(), "shard_a", "shard_b")
        .limit(_SDP_RUN_TOPK)
        .select("shard_a", "shard_b")
    )
    pa = (F.col("doc_a") % _SDP_SHARDS).cast("bigint")
    pb = (F.col("doc_b") % _SDP_SHARDS).cast("bigint")
    pairs = (
        _jaccard_pairs(table(spark, sf_dir, "documents"))
        .filter(pa != pb)
        .withColumn("shard_a", F.least(pa, pb))
        .withColumn("shard_b", F.greatest(pa, pb))
    )
    return pairs.join(F.broadcast(top), ["shard_a", "shard_b"]).select(
        "doc_a",
        "doc_b",
        "shard_a",
        "shard_b",
        trunc_digits(F.col("jacc"), 4).alias("jaccard"),
    )


@query(
    "pipeline_epoch_allocation",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), weighted AS (
      SELECT source, n_tokens,
             (CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN s0 + 1
                   WHEN s0 * s0 > n_tokens THEN s0 - 1
                   ELSE s0 END) AS w
      FROM (SELECT source, n_tokens,
                   CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
            FROM per_source)
    ), tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(w) AS BIGINT) AS sum_w
      FROM weighted
    )
    SELECT source, n_tokens,
           CAST(floor(CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE) * 1000000)
                AS DOUBLE) / 1000000 AS alloc_share,
           CAST(floor(LEAST(4.0,
                  ((2.0 * CAST(total_tokens AS DOUBLE)) * CAST(w AS DOUBLE))
                  / (CAST(sum_w AS DOUBLE) * CAST(n_tokens AS DOUBLE)))
                  * 1000000) AS DOUBLE) / 1000000 AS epochs,
           CAST(floor(LEAST(4.0,
                  ((2.0 * CAST(total_tokens AS DOUBLE)) * CAST(w AS DOUBLE))
                  / (CAST(sum_w AS DOUBLE) * CAST(n_tokens AS DOUBLE)))
                  * CAST(n_tokens AS DOUBLE) * 100) AS DOUBLE) / 100
             AS realized_tokens,
           (((2.0 * CAST(total_tokens AS DOUBLE)) * CAST(w AS DOUBLE))
             / (CAST(sum_w AS DOUBLE) * CAST(n_tokens AS DOUBLE)) > 4.0)
             AS capped
    FROM weighted CROSS JOIN tot
    """,
)
def pipeline_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources with temperature-balanced
    shares and per-source epoch caps — the planning step of a
    fixed-compute pretraining mix (the square-root temperature family:
    share_s ∝ n_s^0.5 upweights small sources relative to proportional
    sampling without flattening to uniform; cap = 4 epochs bounds
    repetition of any single source).

    Every arithmetic step is cross-engine deterministic: weights are
    INTEGER isqrt(n_tokens) — floor(sqrt(double)) plus a one-step
    ±1 correction, so a correctly-rounded-up sqrt near a perfect
    square cannot skew the weight — and the totals are exact BIGINT
    sums; the only doubles are the final ratio/LEAST expressions,
    written as the identical operation tree on both engines.

    Scale: one map-side-combinable aggregation over the corpus (the
    token count), then a |sources|-row table crossJoin'd with a ONE-row
    broadcast total — nothing else shuffles; the corpus text is read
    once, projection-pruned to (source, text).
    """
    docs = table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).alias("n_tokens")
    )
    s0 = F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint")
    w = (
        F.when((s0 + 1) * (s0 + 1) <= F.col("n_tokens"), s0 + 1)
        .when(s0 * s0 > F.col("n_tokens"), s0 - 1)
        .otherwise(s0)
    )
    weighted = per_source.select("source", "n_tokens", w.alias("w"))
    tot = weighted.agg(
        F.sum("n_tokens").alias("total_tokens"), F.sum("w").alias("sum_w")
    )
    epochs_raw = (
        (F.lit(2.0) * F.col("total_tokens").cast("double"))
        * F.col("w").cast("double")
    ) / (F.col("sum_w").cast("double") * F.col("n_tokens").cast("double"))
    epochs = F.least(F.lit(4.0), epochs_raw)
    return weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        trunc_digits(
            F.col("w").cast("double") / F.col("sum_w").cast("double"), 6
        ).alias("alloc_share"),
        trunc_digits(epochs, 6).alias("epochs"),
        trunc_digits(epochs * F.col("n_tokens").cast("double"), 2).alias(
            "realized_tokens"
        ),
        (epochs_raw > 4.0).alias("capped"),
    )


# Feature-hash buckets for the DSIR importance estimator. Small enough
# that the per-bucket LM tables broadcast (a few KB); large enough that
# the hashed-bigram buckets separate target-like from raw-like text.
_DSIR_B = 256

# Shared oracle prefix: per-document DSIR importance (decimal `imp`),
# consumed by pipeline_dsir_importance (report form) and
# pipeline_importance_resample (Gumbel top-k consumer).
_DSIR_CTES = f"""
    WITH bg AS (
      SELECT doc_id, lang,
             UNNEST(list_transform(range(1, greatest(len(w), 1)),
               i -> w[i] || ' ' || w[i+1])) AS gram
      FROM (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w
            FROM documents)
    ), hashed AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT)
               % {_DSIR_B} AS bucket
      FROM bg WHERE gram IS NOT NULL
    ), stat AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS c_r,
             CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS c_t
      FROM hashed GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
             CAST(SUM(c_t) AS BIGINT) AS n_t
      FROM stat
    ), lam AS (
      SELECT bucket,
             ln((CAST(c_t + 1 AS DOUBLE) * CAST(n_r + {_DSIR_B} AS DOUBLE))
                / (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + {_DSIR_B} AS DOUBLE)))
               AS lam
      FROM stat CROSS JOIN tot
    ), per_doc AS (
      SELECT h.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(CAST(l.lam AS DECIMAL(25,16))) AS imp
      FROM hashed h JOIN lam l ON h.bucket = l.bucket
      GROUP BY h.doc_id
    )
"""


def _dsir_hashed(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per bigram OCCURRENCE, bucket
    = md5-hash of the bigram mod ``_DSIR_B``. Row-local explode; works
    on any documents-shaped DataFrame (static or a micro-batch).

    Bigram construction is LAMBDA-FREE (r12): ``arrays_zip(w,
    slice(w, 2, …))`` pairs each word with its successor natively, the
    struct array explodes in codegen, and the `` ``-joined bigram
    string + md5 + conv all run post-explode inside whole-stage
    codegen. The r11 form built the bigram-string array with
    ``transform`` + ``concat`` — higher-order-function lambdas are
    evaluated INTERPRETED per element (outside WSCG), and profiling the
    500k tier showed that lambda was ~12 s of the 14.4 s query while
    md5+conv cost ~0.2 s (the r11-VERDICT "md5 is the dominant term"
    hypothesis is refuted by measurement; word-level-hash variants
    that keep HOF lambdas measured 8-10× WORSE). This form produces
    byte-identical bigram strings — same md5, same buckets, zero
    oracle change; per-(doc,bucket) multiset equality checked at 500k
    (diff 0), and the hashed stream is 8.2× faster (12.76 → 1.55 s).
    The trailing zip struct (last word, w2 NULL) is filtered, so docs
    with one word contribute nothing, exactly like the old
    ``when(size >= 2, …)`` guard.
    """
    w = F.split(F.lower(F.trim(F.col("text"))), " ")
    pairs = F.arrays_zip(
        w.alias("w1"),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))).alias("w2"),
    )
    return (
        docs.select("doc_id", "lang", F.explode(pairs).alias("p"))
        .filter(F.col("p.w2").isNotNull())
        .select(
            "doc_id",
            "lang",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("p.w1"), F.lit(" "), F.col("p.w2")
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % _DSIR_B
            ).alias("bucket"),
        )
    )


def _dsir_lam(hashed: DataFrame) -> DataFrame:
    """256-row λ table from a hashed bigram stream: per-bucket
    log-likelihood ratio between the target (lang='en') and raw LMs,
    add-one smoothed. Exact BIGINT counts; one ln() per bucket."""
    stat = hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.count_if(F.col("lang") == "en").alias("c_t"),
    )
    tot = stat.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    lam = (
        (F.col("c_t") + 1).cast("double")
        * (F.col("n_r") + _DSIR_B).cast("double")
    ) / (
        (F.col("c_r") + 1).cast("double")
        * (F.col("n_t") + _DSIR_B).cast("double")
    )
    return stat.crossJoin(F.broadcast(tot)).select(
        "bucket", F.log(lam).alias("lam")
    )


def _dsir_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance: (doc_id, n_bigrams, imp) with
    ``imp`` the exact DECIMAL(25,16) λ-sum (untruncated) — the shared
    core of the report and resample ops; see
    ``pipeline_dsir_importance`` for the full determinism story."""
    # The hashed bigram stream has TWO consumers grouping on different
    # keys (the 256-bucket λ aggregation, then the per-doc join+sum) —
    # without a cache the explode+md5 pipeline executes twice (Spark
    # reuses exchanges, not arbitrary subtrees). Caching it is a
    # sign-stable 2.5× at the 500k tier (interleaved A/B, 3 reps:
    # 36.6 → 14.9 s min, identical (500000, 245884) output); at 100 TB
    # this is the standard persist-the-featurized-stream pattern, and
    # MEMORY_AND_DISK spills rather than OOMs. Session hygiene follows
    # the repo cache convention: every harness that runs queries
    # back-to-back clears between them (bench.py between reps,
    # scripts/check_oracle.py before each query — added r12 so the
    # convention actually holds everywhere, per r11 ADVICE).
    hashed = _dsir_hashed(table(spark, sf_dir, "documents")).cache()
    lam_tbl = _dsir_lam(hashed)
    return (
        hashed.join(F.broadcast(lam_tbl), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("lam").cast("decimal(25,16)")).alias("imp"),
        )
    )


@query(
    "pipeline_dsir_importance",
    oracle=_DSIR_CTES
    + """
    SELECT doc_id, n_bigrams,
           CAST(floor(CAST(imp AS DOUBLE) * 10000) AS DOUBLE) / 10000
             AS importance,
           CAST(imp AS DOUBLE) > 0.0 AS selected
    FROM per_doc
    """,
)
def pipeline_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for data selection (the hashed
    n-gram importance-resampling estimator of Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by the log-likelihood ratio between a TARGET bucket
    LM (here the ``lang = 'en'`` slice stands in for the target
    sample) and the RAW corpus LM, over md5-hashed word-bigram
    features in ``_DSIR_B`` buckets with add-one smoothing. Positive
    importance = target-like (``selected``); a real pipeline would
    resample proportionally to exp(importance).

    Determinism (measured, not assumed — r11 revision of an
    overstated claim): bucket ids are md5-derived integers and LM
    counts exact BIGINTs, but each bucket's ln() is NOT engine-exact
    — JVM StrictMath.log vs DuckDB libm differ by 1 ulp on ~3% of
    buckets at sf0.001 — and even where the doubles agree the
    DECIMAL(25,16) casts can differ by one 1e-16 quantum (~11% of
    buckets: Spark quantizes the shortest decimal repr, DuckDB the
    exact binary expansion). The oracle family still matches because
    per-document sums accumulate order-free in DECIMAL(25,16) and
    every document's distance to a 1e-4 truncation boundary dwarfs
    the worst-case accumulated slack (n_bigrams × 1e-16; measured
    worst margin/slack ratio 3.7e7).
    ``tests/test_pipeline_ops.py::
    test_dsir_cross_engine_divergence_stays_under_truncation_margin``
    pins all three layers so a libm/JVM/cast change fails loudly
    there instead of as a silent truncation flip here.

    Scale: the corpus is scanned ONCE (bigrams explode row-locally);
    both LMs reduce to one ``_DSIR_B``-row aggregate in the same pass
    (map-side combinable — the shuffled table is 256 rows, not
    postings); λ broadcasts back onto the bigram stream as a map-side
    hash join; the only data-sized exchange is the per-document final
    aggregation, partial-aggregated before it moves.
    """
    per_doc = _dsir_per_doc(spark, sf_dir)
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        trunc_digits(F.col("imp").cast("double"), 4).alias("importance"),
        (F.col("imp").cast("double") > 0.0).alias("selected"),
    )


# Resample size for the Gumbel top-k consumer: fixed k, the "sample a
# training subset of k documents" contract.
_DSIR_K = 100


@query(
    "pipeline_importance_resample",
    oracle=_DSIR_CTES
    + f"""
    , keyed AS (
      SELECT doc_id, n_bigrams,
             CAST(imp AS DOUBLE)
             - ln(-ln((CAST((((h1 * h1) % 1000000007 * 31 + h1)
                             % 1000000007) AS DOUBLE) + 0.5)
                      / 1000000007.0)) AS g_key
      FROM (SELECT doc_id, n_bigrams, imp,
                   (doc_id * 654435761
                    + CAST(777 AS BIGINT) * 654435775 + 97)
                     % 1000000007 AS h1
            FROM per_doc)
    )
    SELECT doc_id, n_bigrams,
           CAST(floor(g_key * 10000) AS DOUBLE) / 10000 AS g_key
    FROM keyed
    ORDER BY keyed.g_key DESC, doc_id
    LIMIT {_DSIR_K}
    """,
)
def pipeline_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k importance resampling — the CONSUMER of the DSIR
    weights: draw ``_DSIR_K`` documents WITHOUT replacement with
    probability ∝ exp(importance), via the Gumbel-top-k identity
    (add independent Gumbel(0,1) noise to each log-weight, take the
    top k). The noise is rand()-free: u derives from the generator's
    two-round square-and-mix hash of doc_id, so the drawn sample is a
    pure function of the corpus — reproducible across engines, runs,
    and partitionings, which is what makes a sampled training subset
    auditable.

    Determinism: the importance is the exact decimal λ-sum; the
    Gumbel key adds -ln(-ln(u)) with u = (h₂+0.5)/P strictly inside
    (0,1); key ties (only possible for identical docs) break by
    doc_id. Selection is ORDER BY key DESC LIMIT k — Spark plans a
    TakeOrdered (per-partition top-k + driver merge of k·partitions
    rows), never a global sort of the corpus.
    """
    per_doc = _dsir_per_doc(spark, sf_dir)
    h1 = (
        F.col("doc_id") * F.lit(654435761).cast("bigint")
        + F.lit(777 * 654435775 + 97).cast("bigint")
    ) % F.lit(1000000007)
    h2 = (h1 * h1 % F.lit(1000000007) * F.lit(31) + h1) % F.lit(1000000007)
    u = (h2.cast("double") + F.lit(0.5)) / F.lit(1000000007.0)
    g_key = F.col("imp").cast("double") - F.log(-F.log(u))
    return (
        per_doc.select("doc_id", "n_bigrams", g_key.alias("g_key_raw"))
        .orderBy(F.col("g_key_raw").desc(), "doc_id")
        .limit(_DSIR_K)
        .select(
            "doc_id",
            "n_bigrams",
            trunc_digits(F.col("g_key_raw"), 4).alias("g_key"),
        )
    )
