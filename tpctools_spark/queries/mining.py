"""Corpus/table mining ops — round-5 additions beyond SURVEY.md §2.B.

Families that a production training-data platform layers on top of the
core relational surface:

- ``mining_basket_lift``     — market-basket affinity (support/confidence/
                               lift) over order line items.
- ``mining_bpe_pairs``       — adjacent-character-pair frequencies: the
                               counting step of a BPE tokenizer's first
                               merge round.
- ``pipeline_weighted_sample`` — Efraimidis–Spirakis weighted sampling
                               without replacement (A-ES keys), fully
                               deterministic via an arithmetic hash.
- ``reshape_scd2_history``   — slowly-changing-dimension type-2 intervals
                               from an event change log.
- ``quality_drift_psi``      — population-stability-index drift between
                               two halves of a stream.
- ``text_chunk_overlap``     — overlapping fixed-size word-window
                               chunking (the RAG/pretraining chunker).
- ``sim_cosine_topk_quantized`` — int8 scalar-quantized cosine top-k:
                               the memory-bound ANN scale path.
- ``layout_zorder_address``  — Z-order (Morton) addresses for
                               multi-dimensional data-skipping layout.

All eight are oracle-checked; FP-sensitive aggregations go through the
exact-decimal patterns from ``_util`` so both engines agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.queries._util import sql_trunc_digits, trunc_digits, spread_input
from tpctools_spark.registry import query

# ---------------------------------------------------------------------------
# mining_basket_lift

_MIN_PAIR_ORDERS = 3


@query(
    "mining_basket_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), tot AS (
      SELECT COUNT(DISTINCT o) AS n_orders FROM items
    ), item_n AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY p
    ), pairs AS (
      SELECT a.p AS part_a, b.p AS part_b, CAST(COUNT(*) AS BIGINT) AS pair_n
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MIN_PAIR_ORDERS}
    )
    SELECT part_a, part_b, pair_n,
           {sql_trunc_digits('CAST(pair_n AS DOUBLE) / n_orders', 6)} AS support,
           {sql_trunc_digits('CAST(pair_n AS DOUBLE) / na.n', 6)} AS confidence,
           {sql_trunc_digits(
               'CAST(pair_n AS DOUBLE) * n_orders / (na.n * nb.n)', 6)} AS lift
    FROM pairs
    JOIN item_n na ON na.p = part_a
    JOIN item_n nb ON nb.p = part_b
    CROSS JOIN tot
    """,
)
def mining_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket item-pair affinity: support, confidence, lift.

    The co-occurrence self-join runs per order key, so its cost is
    bounded by (basket size)² per order — never |items|² globally —
    and the join is co-partitioned on the order key (one shuffle of
    the distinct item-order pairs). Per-item order counts are a
    part-cardinality table — part scales with sf (200k×sf), so those
    joins are UNHINTED and AQE sizes them at runtime; the order total
    is a one-row broadcast. All counts are integers; the three ratios are
    single IEEE divisions of integers, so truncation is bit-stable
    against the oracle.
    """
    li = table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    tot = items.agg(F.countDistinct("o").alias("n_orders"))
    item_n = items.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    a = items.select("o", F.col("p").alias("part_a"))
    b = items.select("o", F.col("p").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= _MIN_PAIR_ORDERS)
    )
    na = item_n.select(F.col("p").alias("part_a"), F.col("n").alias("na"))
    nb = item_n.select(F.col("p").alias("part_b"), F.col("n").alias("nb"))
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_n",
            trunc_digits(
                F.col("pair_n").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
            trunc_digits(F.col("pair_n").cast("double") / F.col("na"), 6).alias(
                "confidence"
            ),
            trunc_digits(
                F.col("pair_n").cast("double")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# mining_bpe_pairs

_BPE_TOP = 50


@query(
    "mining_bpe_pairs",
    oracle=f"""
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(list_transform(range(1, length(t)),
                                   i -> t[CAST(i AS INT):CAST(i + 1 AS INT)])) AS pair
      FROM (SELECT lower(text) AS t FROM documents)
    )
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {_BPE_TOP}
    """,
)
def mining_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair counts — the statistics a byte-pair-
    encoding tokenizer gathers for its first merge decision.

    One pass: a zero-width-lookahead regex `(?=(..))` extracts every
    OVERLAPPING 2-char window in a single compiled scan per row
    (higher-order `transform` lambdas evaluate interpreted, measured
    3× slower warm), explode, hash-aggregate. Map-side partial counts
    shrink the shuffle to |distinct pairs| (≤ alphabet², a few KB)
    regardless of corpus size; the top-k is a TakeOrderedAndProject,
    tie-broken on the pair text. Iterating BPE merges would re-run
    this counting step on the merged symbol stream — each round is
    this same scan shape.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = docs.select(F.lower(F.col("text")).alias("t")).select(
        F.explode(
            F.expr("regexp_extract_all(t, '(?s)(?=(..))', 1)")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# text_bpe_encode

_BPE_MERGES = 6  # learned merge rounds (unrolled in the oracle)
_BPE_PASSES = 3  # replace passes per merge (fixpoint for fixture-length runs)
_BPE_SEP = "\x1f"  # unit separator — never occurs in document text


_BPE_SQL_SYMS = (
    "list_filter(string_split(s, chr(31)), x -> x <> '')"
)


def _bpe_rounds_sql() -> tuple[str, str]:
    """The shared unrolled learn loop: per round, three CTEs —
    adjacent-pair counts over the current symbol stream, the arg-max
    pair (count desc, then lexicographic), and the merged stream via
    _BPE_PASSES nested plain-string ``replace`` calls (plain replace
    scans left-to-right without overlap IDENTICALLY in Spark and
    DuckDB, which is what makes the whole trajectory twinnable).
    Returns (WITH-clause SQL, name of the final stream CTE)."""
    sep = "chr(31)"
    sql = f"""
    WITH s0 AS (
      SELECT source, lower(text) AS t,
             {sep} || regexp_replace(lower(text), '(.)', '\\1' || {sep}, 'g')
               AS s
      FROM documents
    )"""
    prev = "s0"
    for r in range(1, _BPE_MERGES + 1):
        pat = f"{sep} || m.a || {sep} || m.b || {sep}"
        rep = f"{sep} || m.a || m.b || {sep}"
        merged = "x.s"
        for _ in range(_BPE_PASSES):
            merged = f"replace({merged}, {pat}, {rep})"
        sql += f"""
    , p{r} AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, COUNT(*) AS n
      FROM (
        SELECT syms, unnest(range(1, len(syms))) AS i
        FROM (SELECT {_BPE_SQL_SYMS} AS syms FROM {prev})
      )
      GROUP BY 1, 2
    ), m{r} AS (
      SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1
    ), s{r} AS (
      SELECT x.source, x.t, {merged} AS s
      FROM {prev} x CROSS JOIN m{r} m
    )"""
        prev = f"s{r}"
    return sql, prev


def _bpe_oracle() -> str:
    withs, prev = _bpe_rounds_sql()
    return withs + f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(t)) AS BIGINT) AS total_chars,
           CAST(SUM(len({_BPE_SQL_SYMS})) AS BIGINT) AS total_tokens,
           {sql_trunc_digits("CAST(SUM(length(t)) AS DOUBLE) / SUM(len(" + _BPE_SQL_SYMS + "))", 4)}
             AS compression
    FROM {prev} GROUP BY source ORDER BY source
    """


def _bpe_vocab_oracle() -> str:
    withs, _ = _bpe_rounds_sql()
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, a, b, a || b AS merged, "
        f"CAST(n AS BIGINT) AS n FROM m{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
    return withs + f"""
    SELECT * FROM ({rows}) ORDER BY merge_rank
    """


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the _BPE_MERGES sequential learn rounds. Returns the merge
    list [(a, b, pair_count), …], the final symbol-stream DataFrame
    (source, t, s — derived lazily from the cached base), and the
    cached base itself (so callers that don't consume the stream can
    release it)."""
    sep = _BPE_SEP
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.lower(F.col("text")).alias("t"),
        F.concat(
            F.lit(sep),
            F.regexp_replace(F.lower(F.col("text")), "(.)", "$1" + sep),
        ).alias("s"),
    )
    cur = base.cache()
    # Adjacent symbol pairs via ONE compiled zero-width-lookahead regex
    # scan per row (the mining_bpe_pairs trick) — a higher-order
    # element_at(i)/element_at(i+1) formulation re-evaluates the
    # filter(split(...)) chain per index (interpreted, O(len²) per
    # row: measured 11 s vs ~0.5 s per round on the sf0.001 corpus).
    # The extracted group is the "a␟b" pair STRING; ordering by it
    # equals ordering by (a, b) because the separator sorts below
    # every text character in both engines' binary collation.
    pair_rx = f"(?={sep}([^{sep}]+{sep}[^{sep}]+){sep})"
    merges: list[tuple[str, str, int]] = []
    # Each round extends the stream expression with _BPE_PASSES more
    # replace calls over the CACHED base — merge application is cheap
    # row-local string work, so re-deriving the round-r stream from
    # base (r·PASSES replaces) beats materializing a cache per round
    # (one job per round instead of two; ~2x faster loop).
    for _ in range(_BPE_MERGES):
        top = (
            cur.select(
                F.explode(
                    F.regexp_extract_all(
                        F.col("s"), F.lit(pair_rx), F.lit(1)
                    )
                ).alias("p")
            )
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "p")
            .limit(1)
            .collect()
        )
        a, b = top[0].p.split(sep)
        merges.append((a, b, int(top[0].n)))
        pat, rep = sep + a + sep + b + sep, sep + a + b + sep
        ns = F.col("s")
        for _ in range(_BPE_PASSES):
            ns = F.replace(ns, F.lit(pat), F.lit(rep))
        cur = cur.select("source", "t", ns.alias("s"))
    return merges, cur, base


@query("text_bpe_encode", oracle=_bpe_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding learn + apply: run _BPE_MERGES true
    sequential BPE rounds over the corpus character stream (count
    adjacent symbol pairs → merge the most frequent → recount on the
    MERGED stream), then report per-source token mass and compression
    under the learned vocabulary — the tokenizer half that
    ``mining_bpe_pairs`` (first-round statistics only) stops short of.

    The iterative pattern is the same as k-means: a driver loop whose
    per-round state is ONE (pair) row; the corpus only ever moves
    through scans and a |distinct pairs|-sized aggregate (map-side
    combined), and merge application is a row-local string replace —
    embarrassingly parallel at any scale. Symbol streams ride a
    separator char (U+001F, absent from text), and merges apply as
    plain non-overlapping left-to-right ``replace`` — identical
    semantics in Spark and DuckDB — repeated _BPE_PASSES times to
    reach the fixpoint on fixture-length repeat runs. The fixed round
    count unrolls into a pure-SQL oracle (``_bpe_oracle``). At 100 TB
    you learn merges on a sampled subset (the counting rounds are the
    only multi-pass piece) and apply them in one pass.
    """
    _, cur, _base = _bpe_learn(spark, sf_dir)
    sep = _BPE_SEP

    def syms_col():
        return F.filter(
            F.split(F.col("s"), sep), lambda x: x != F.lit("")
        )

    out = cur.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("t")).cast("bigint").alias("total_chars"),
        F.sum(F.size(syms_col())).cast("bigint").alias("total_tokens"),
    )
    final = out.select(
        "source",
        "n_docs",
        "total_chars",
        "total_tokens",
        trunc_digits(
            F.col("total_chars").cast("double") / F.col("total_tokens"), 4
        ).alias("compression"),
    ).orderBy("source")
    return final


@query("text_bpe_vocab", oracle=_bpe_vocab_oracle())
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table itself: rank, the merged pair, the
    new symbol, and the pair's frequency at merge time — the artifact
    a tokenizer ships (merges.txt) and the auditable record of WHAT
    ``text_bpe_encode`` compressed with.

    Same driver loop as the encode query (merges are K rows of driver
    state, the honest shape for iterative learning); the returned
    table is built from that state, and the unrolled SQL oracle
    re-derives every round's arg-max pair independently — a full
    value-check of the learning trajectory, not just the end state.
    """
    merges, _cur, base = _bpe_learn(spark, sf_dir)
    base.unpersist()  # vocab doesn't read the final stream
    rows = [
        (r + 1, a, b, a + b, n) for r, (a, b, n) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank int, a string, b string, merged string, n bigint"
    ).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# pipeline_weighted_sample

_WS_PRIME = 1000003
_WS_MULT = 2654435761
_WS_K = 100


@query(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(CAST(((doc_id % {_WS_PRIME}) * {_WS_MULT}) % {_WS_PRIME} + 1
                     AS DOUBLE) / {_WS_PRIME + 1})
               / n_chars AS k
      FROM documents
    )
    SELECT doc_id, n_chars,
           {sql_trunc_digits('k', 6)} AS sample_key,
           ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS rank
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {_WS_K}
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    keep the k records with the largest ln(u)/w, u uniform per record,
    w = n_chars. Selection probability is proportional to weight.

    The uniform draw is an arithmetic hash of doc_id (multiplicative
    mod-prime — the same deterministic-randomness trick as the LSH
    hyperplanes), so both engines draw identical u and the sample is
    reproducible run-to-run — the property that makes weighted corpus
    subsampling auditable. One scan + TakeOrderedAndProject: no
    shuffle of the corpus, only k rows survive to the driver side.
    log/division inputs are identical IEEE doubles on both engines;
    adjacent A-ES keys differ by ~1/n² ≫ libm ulp error, so the
    top-k boundary is stable.
    """
    docs = table(spark, sf_dir, "documents")
    h = ((F.col("doc_id") % _WS_PRIME) * _WS_MULT) % _WS_PRIME
    u = (h + 1).cast("double") / F.lit(float(_WS_PRIME + 1))
    k = F.log(u) / F.col("n_chars")
    keyed = docs.select("doc_id", "n_chars", k.alias("k"))
    w = Window.orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.orderBy(F.col("k").desc(), "doc_id")
        .limit(_WS_K)
        .select(
            "doc_id",
            "n_chars",
            trunc_digits(F.col("k"), 6).alias("sample_key"),
            F.row_number().over(w).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# reshape_scd2_history


@query(
    "reshape_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS version
      FROM ordered
    ), hist AS (
      SELECT user_id, version, event_type AS state,
             MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM seg GROUP BY user_id, version, event_type
    )
    SELECT user_id, version, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             IS NULL AS is_current,
           n_events
    FROM hist
    """,
)
def reshape_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: compress each user's
    event-type stream into validity intervals [valid_from, valid_to)
    with a current-row flag — the standard dimension-history shape
    warehouses maintain from change logs.

    Change points come from one lag window, interval ids from a
    running sum over the same (user, ts, event_id) ordering — both
    reuse a single hash-partition exchange on user_id (Catalyst
    shares the window exchange), then one partial-agg groupBy and a
    graph-sized lead window. Nothing ever sorts globally; at 100 TB
    the cost is one shuffle of the change log by entity key, which is
    the floor for this computation.
    """
    ev = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(wo).isNull()
            | (F.lag("event_type").over(wo) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    seg = lagged.select(
        "user_id",
        "ts",
        "event_type",
        F.sum("chg").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "version"
        ),
    )
    hist = seg.groupBy("user_id", "version", F.col("event_type").alias("state")).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wl = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from").over(wl)
    return hist.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# quality_drift_psi

_PSI_BINS = 10
_PSI_WIDTH = 10.0


def _psi_bin() -> F.Column:
    """Fixed-width value bin, capped into the top bin."""
    return (
        F.least(F.floor(F.col("value") / _PSI_WIDTH), F.lit(_PSI_BINS - 1))
        .cast("bigint")
        .alias("bin")
    )


def _psi_from_counts(types: DataFrame, bc: DataFrame) -> DataFrame:
    """PSI per event_type from per-(type, bin) baseline/current counts.

    ``types``: one row per event_type (the bin scaffold's spine);
    ``bc``: (event_type, bin, cb, cc) counts, bins may be missing.
    Shared by the batch screen and its streaming twin.
    """
    grid = (
        types.select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bin"),
        )
        .select("event_type", F.col("bin").cast("bigint").alias("bin"))
        .join(bc, ["event_type", "bin"], "left")
        .fillna(0, ["cb", "cc"])
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("cb").alias("nb"), F.sum("cc").alias("nc")
    )
    j = grid.join(F.broadcast(tot), "event_type")
    p = (F.col("cb") + 1).cast("double") / (F.col("nb") + _PSI_BINS)
    q = (F.col("cc") + 1).cast("double") / (F.col("nc") + _PSI_BINS)
    term = ((p - q) * F.log(p / q)).cast("decimal(25,16)")
    return j.groupBy("event_type").agg(
        F.max("nb").cast("bigint").alias("n_base"),
        F.max("nc").cast("bigint").alias("n_cur"),
        trunc_digits(F.sum(term).cast("double"), 6).alias("psi"),
    )


_PSI_ORACLE_SQL = f"""
    WITH binned AS (
      SELECT event_type, event_id % 2 AS half,
             CAST(least(floor(value / {_PSI_WIDTH}), {_PSI_BINS - 1}) AS BIGINT)
               AS bin
      FROM events
    ), bc AS (
      SELECT event_type, bin,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cc
      FROM binned GROUP BY event_type, bin
    ), grid AS (
      SELECT t.event_type, g.bin, COALESCE(bc.cb, 0) AS cb, COALESCE(bc.cc, 0) AS cc
      FROM (SELECT DISTINCT event_type FROM binned) t
      CROSS JOIN (SELECT unnest(range({_PSI_BINS})) AS bin) g
      LEFT JOIN bc ON bc.event_type = t.event_type AND bc.bin = g.bin
    ), tot AS (
      SELECT event_type, SUM(cb) AS nb, SUM(cc) AS nc FROM grid GROUP BY event_type
    )
    SELECT grid.event_type,
           CAST(MAX(nb) AS BIGINT) AS n_base,
           CAST(MAX(nc) AS BIGINT) AS n_cur,
           {sql_trunc_digits(
             "CAST(SUM(CAST("
             " (CAST(cb + 1 AS DOUBLE) / (nb + 10) - CAST(cc + 1 AS DOUBLE) / (nc + 10))"
             " * ln((CAST(cb + 1 AS DOUBLE) / (nb + 10))"
             "      / (CAST(cc + 1 AS DOUBLE) / (nc + 10)))"
             " AS DECIMAL(25,16))) AS DOUBLE)", 6)} AS psi
    FROM grid JOIN tot ON tot.event_type = grid.event_type
    GROUP BY grid.event_type
    """


@query("quality_drift_psi", oracle=_PSI_ORACLE_SQL)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two deterministic halves of
    the event stream (event_id parity stands in for before/after
    deploy windows): PSI = Σ_bins (p−q)·ln(p/q) over fixed-width
    value bins with Laplace smoothing, per event_type.

    The drift screen monitoring stacks run on every feature column.
    Counting is one conditional-aggregation scan (map-side partial →
    the shuffle is |types|×|bins| rows); the bin scaffold joins in so
    empty bins still contribute their smoothed mass identically on
    both engines. Per-bin PSI terms are cast to exact decimals before
    the final sum, so 10-term FP addition order can never flip the
    truncated result — the same order-independence trick as the money
    aggregates.
    """
    ev = table(spark, sf_dir, "events")
    binned = ev.select(
        "event_type", (F.col("event_id") % 2).alias("half"), _psi_bin()
    )
    bc = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("cb"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cc"),
    )
    return _psi_from_counts(binned.select("event_type").distinct(), bc)


# ---------------------------------------------------------------------------
# text_chunk_overlap

_CHUNK_W = 12
_CHUNK_STRIDE = 6


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), starts AS (
      SELECT doc_id, w, unnest(generate_series(1, len(w), {_CHUNK_STRIDE})) AS s
      FROM words
    )
    SELECT doc_id,
           CAST((s - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(w[CAST(s AS INT):CAST(s + {_CHUNK_W - 1} AS INT)]) AS BIGINT)
             AS n_words,
           array_to_string(w[CAST(s AS INT):CAST(s + {_CHUNK_W - 1} AS INT)], ' ')
             AS chunk_text
    FROM starts
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking: fixed window of
    ``_CHUNK_W`` words advancing by ``_CHUNK_STRIDE`` — the chunker in
    front of every embedding/RAG index and context-window packer.

    Entirely row-local (split → sequence of starts → slice per
    start): no shuffle at any size, output rows ≈ n_words/stride per
    doc. The trailing chunks are allowed to run short rather than
    being dropped, so every word lands in ≥1 chunk (the recall-safe
    convention); both engines derive chunk ids from the same integer
    arithmetic.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.sequence(F.lit(1), F.size("w"), F.lit(_CHUNK_STRIDE))
            ).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / _CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.size(F.expr(f"slice(w, s, {_CHUNK_W})")).cast("bigint").alias(
                "n_words"
            ),
            F.array_join(F.expr(f"slice(w, s, {_CHUNK_W})"), " ").alias(
                "chunk_text"
            ),
        )
    )


# ---------------------------------------------------------------------------
# sim_cosine_topk_quantized

_Q_PROBE = 0
_Q_TOPK = 10


@query(
    "sim_cosine_topk_quantized",
    oracle=f"""
    WITH prep AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), quant AS (
      SELECT vec_id, label,
             list_transform(e, x -> CAST(round(x * 127.0 /
               list_max(list_transform(e, y -> abs(y)))) AS BIGINT)) AS q
      FROM prep
      WHERE list_max(list_transform(e, y -> abs(y))) > 0
    ), scored AS (
      SELECT a.vec_id, a.label,
             CAST(list_sum(list_transform(list_zip(a.q, p.q),
                                          t -> t[1] * t[2])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(p.q, x -> x * x)) AS DOUBLE)))
               AS cos_raw
      FROM quant a, (SELECT q FROM quant WHERE vec_id = {_Q_PROBE}) p
      WHERE a.vec_id <> {_Q_PROBE}
    )
    SELECT vec_id, label,
           {sql_trunc_digits('cos_raw', 4)} AS cosine,
           ROW_NUMBER() OVER (ORDER BY cos_raw DESC, vec_id) AS rank
    FROM scored
    ORDER BY cos_raw DESC, vec_id
    LIMIT {_Q_TOPK}
    """,
)
def sim_cosine_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8 scalar-quantized vectors — the
    memory-bound ANN path: q_i = round(127·x_i / max|x|) shrinks the
    vector store 4× (and 8× vs float64), which at 100 TB is the
    difference between spilling and an in-memory scan. Quantized dot
    products are exact integer arithmetic (≤ 127²·dim ≪ 2⁶³), so
    ranking is bit-deterministic and the oracle matches without any
    FP-summation tricks; sqrt/divide of those integers are single
    correctly-rounded IEEE ops.

    Same plan shape as the exact baseline (`sim_cosine_topk`): one
    scan, constant-size probe broadcast, TakeOrderedAndProject top-k —
    quantization changes the operand width, not the data flow.
    """
    emb = table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs))
    q = F.transform(e, lambda x: F.round(x * 127.0 / scale).cast("bigint"))
    quant = emb.filter(scale > 0).select("vec_id", "label", q.alias("q"))

    def idot(a, b):
        # r13 fold sweep: stays a fold — one 64-term integer fold per
        # corpus row against the single broadcast probe (O(N) scalars,
        # no pair term); the oracle pins the identical fold order.
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    probe = quant.filter(F.col("vec_id") == _Q_PROBE).select(
        F.col("q").alias("pq")
    )
    scored = (
        quant.filter(F.col("vec_id") != _Q_PROBE)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            (
                idot(F.col("q"), F.col("pq")).cast("double")
                / (
                    F.sqrt(idot(F.col("q"), F.col("q")).cast("double"))
                    * F.sqrt(idot(F.col("pq"), F.col("pq")).cast("double"))
                )
            ).alias("cos_raw"),
        )
    )
    w = Window.orderBy(F.col("cos_raw").desc(), "vec_id")
    return (
        scored.orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(_Q_TOPK)
        .select(
            "vec_id",
            "label",
            trunc_digits(F.col("cos_raw"), 4).alias("cosine"),
            F.row_number().over(w).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# layout_zorder_address

_Z_BITS = 16


def _sql_zaddr(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "layout_zorder_address",
    oracle=f"""
    WITH src AS (
      SELECT event_id, user_id AS x,
             CAST(floor(value) AS BIGINT) AS y
      FROM events
    )
    SELECT event_id, x, y,
           CAST({_sql_zaddr('x', 'y')} AS BIGINT) AS zaddr,
           CAST(({_sql_zaddr('x', 'y')}) >> 26 AS BIGINT) AS file_bucket
    FROM src
    """,
)
def layout_zorder_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) addresses interleaving the bits of two scan
    dimensions (user_id × integerized value) — the clustering key
    behind multi-dimensional data skipping: sort/range-partition by
    `zaddr` and each output file's min/max footer stats become tight
    on BOTH dimensions, so predicates on either column prune files.

    The address is 32 pure bit-ops folded into one codegen'd
    expression — no shuffle here; the layout write would be
    ``repartitionByRange("zaddr").sortWithinPartitions("zaddr")``,
    one range exchange at any scale. `file_bucket` (top 6 address
    bits) shows the file assignment that write would produce.
    """
    ev = table(spark, sf_dir, "events")
    x = F.col("x")
    y = F.col("y")
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("bigint"), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("bigint"), 2 * i + 1)
    return (
        ev.select(
            "event_id",
            F.col("user_id").alias("x"),
            F.floor("value").cast("bigint").alias("y"),
        )
        .select(
            "event_id",
            "x",
            "y",
            z.alias("zaddr"),
            F.shiftright(z, 26).cast("bigint").alias("file_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# quality_anomaly_mad


@query(
    "quality_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, m.med,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           {sql_trunc_digits('m.med', 4)} AS med,
           {sql_trunc_digits('m.mad', 4)} AS mad
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type, m.med, m.mad
    """,
)
def quality_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation anomaly screen per series: flag
    |x − median| > 3·1.4826·MAD — the robust-statistics counterpart
    of the IQR fences (1.4826 scales MAD to σ under normality), far
    less sensitive to the outliers it is hunting than mean/stddev.

    Three passes over the events (median, MAD, flag), each a
    group-count-sized aggregate broadcast back onto the stream —
    exact interpolated percentiles on both engines (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, bitwise, proven by
    agg_percentile), and the fence product is the same literal-order
    IEEE multiply, so boundary values classify identically. At 100 TB
    you'd swap the exact percentiles for approx_percentile and keep
    the same three-scan shape.
    """
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.expr("percentile(abs(value - med), 0.5)").alias("mad")
        )
    )
    flagged = ev.join(F.broadcast(mad), "event_type")
    is_anom = F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return (
        flagged.groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(is_anom, 1).otherwise(0)).alias("n_anomalies"),
        )
        .select(
            "event_type",
            "n_events",
            "n_anomalies",
            trunc_digits(F.col("med"), 4).alias("med"),
            trunc_digits(F.col("mad"), 4).alias("mad"),
        )
    )


# ---------------------------------------------------------------------------
# text_bigram_lm


@query(
    "text_bigram_lm",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
               i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM words WHERE len(w) >= 2
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v
      FROM (SELECT unnest(w) AS word FROM words)
    ), bg_counts AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_bg FROM bigrams GROUP BY bg
    ), prefix_counts AS (
      SELECT string_split(bg, ' ')[1] AS w1,
             CAST(SUM(c_bg) AS BIGINT) AS c_w1
      FROM bg_counts GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           (CAST(floor(CAST(SUM(CAST(
              ln(CAST(c.c_bg + 1 AS DOUBLE) / (p.c_w1 + vocab.v))
              AS DECIMAL(25,16))) AS DOUBLE)
              / COUNT(*) * 1000000) AS DOUBLE) / 1000000) AS avg_logp
    FROM bigrams b
    JOIN bg_counts c ON c.bg = b.bg
    JOIN prefix_counts p ON p.w1 = string_split(b.bg, ' ')[1]
    CROSS JOIN vocab
    GROUP BY b.doc_id
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document: train add-one-
    smoothed bigram probabilities on the corpus itself, then score each
    document by its mean log P(w₂|w₁) — the n-gram generalization of
    the unigram LM quality filter (low scores flag word salad and
    boilerplate; the classic cheap fluency screen before a neural
    scorer).

    Two count tables (bigram, prefix) hash-aggregate with map-side
    partials, join back onto the exploded bigram stream on their keys,
    and the per-doc mean sums exact decimals so partial-aggregation
    order can never move the truncated score. The vocabulary size is a
    one-row broadcast. Three shuffles total, each sized by the gram
    vocabulary or the bigram stream — nothing quadratic anywhere.
    """
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), " ").alias("w")
    )
    # Lambda-free bigram build (r12, same move as pipeline._dsir_hashed):
    # arrays_zip + slice pairs adjacent words natively and the concat
    # runs post-explode in codegen — HOF transform() lambdas evaluate
    # interpreted per element and dominated the DSIR profile. Byte-
    # identical bigram strings; the trailing (w_n, NULL) struct is
    # filtered, which also subsumes the old size>=2 guard.
    zip_pairs = F.arrays_zip(
        F.col("w").alias("w1"),
        F.slice(F.col("w"), 2, F.greatest(F.size("w") - 1, F.lit(0))).alias(
            "w2"
        ),
    )
    bigrams = (
        words.select("doc_id", F.explode(zip_pairs).alias("p"))
        .filter(F.col("p.w2").isNotNull())
        .select(
            "doc_id",
            F.concat(F.col("p.w1"), F.lit(" "), F.col("p.w2")).alias("bg"),
        )
    )
    vocab = words.select(F.explode("w").alias("word")).agg(
        F.countDistinct("word").alias("v")
    )
    bg_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    prefix_counts = bg_counts.groupBy(
        F.split("bg", " ").getItem(0).alias("w1")
    ).agg(F.sum("c_bg").alias("c_w1"))
    joined = (
        bigrams.join(bg_counts, "bg")
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .join(prefix_counts, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    term = F.log(
        (F.col("c_bg") + 1).cast("double") / (F.col("c_w1") + F.col("v"))
    ).cast("decimal(25,16)")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        trunc_digits(
            F.sum(term).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# events_rate_limit

_RATE_KEEP = 3


@query(
    "events_rate_limit",
    oracle=f"""
    SELECT event_id, user_id, ts
    FROM (
      SELECT event_id, user_id, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts)
               ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= {_RATE_KEEP}
    """,
)
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rate limiting: keep the first {N} events per (user,
    day) — the standard log-volume cap before expensive downstream
    processing (scoring every click is waste; the first few per
    period carry the signal).

    One window over (user, day-bucket): Catalyst compiles the
    rank-≤-N filter into WindowGroupLimit, so each group materializes
    at most N rows on BOTH the partial (map) side and the final side —
    the shuffle carries ≤ N rows per key, not the raw stream. Ordering
    ties break on event_id, so the kept set is deterministic on both
    engines.
    """
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id", "user_id", "ts", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= _RATE_KEEP)
        .select("event_id", "user_id", "ts")
    )


# ---------------------------------------------------------------------------
# mining_bpe_merge_rounds — 3 rounds of actual BPE merge training

_BPE_ROUNDS = 3


def _bpe_merge_rounds_oracle() -> str:
    """DuckDB twin: the same 3 merge rounds as chained CTEs."""
    parts = ["""
    tok0 AS (
      SELECT array_to_string(
               [c for c in string_split_regex(w, '') if c <> ''], ' ') AS tok
      FROM (
        SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents
      ) WHERE regexp_matches(w, '^[a-z]+$')
    )"""]
    for t in range(_BPE_ROUNDS):
        parts.append(f"""
    pairs{t} AS (
      SELECT unnest(list_transform(
               range(1, len(a)),
               i -> a[CAST(i AS INT)] || ' ' || a[CAST(i + 1 AS INT)])) AS pair
      FROM (SELECT string_split(tok, ' ') AS a FROM tok{t})
    ),
    top{t} AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq
      FROM pairs{t} GROUP BY pair
      ORDER BY freq DESC, pair ASC LIMIT 1
    ),
    tok{t + 1} AS (
      SELECT trim(replace(' ' || tok || ' ',
                          ' ' || p.pair || ' ',
                          ' ' || replace(p.pair, ' ', '') || ' ')) AS tok
      FROM tok{t}, top{t} p
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {t + 1} AS round, pair, freq FROM top{t}"
        for t in range(_BPE_ROUNDS)
    )
    return (
        "WITH " + ",".join(parts) + f" SELECT * FROM ({selects}) "
        "ORDER BY round"
    )


@query("mining_bpe_merge_rounds", oracle=_bpe_merge_rounds_oracle())
def mining_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first 3 merge rounds, fully relational:
    count adjacent symbol pairs → adopt the most frequent pair as a
    merge → rewrite the corpus with the fused symbol → repeat. Exactly
    the algorithm (greedy pair fusion) every production tokenizer's
    training loop runs; here each round is one map-side-combinable
    pair count plus one corpus-wide projection — the corpus passes per
    merge that BPE fundamentally costs, and nothing more (no shuffle of
    the corpus itself; only the alphabet²-sized pair counts shuffle).

    Each round materializes the rewritten corpus (cache) and the
    single winning (pair, freq) row lands driver-side — one scalar pair
    per round, the same bounded-driver-state pattern as the k-means
    centroids; the corpus itself never leaves the cluster. Tie-break:
    (freq DESC, pair ASC) — deterministic in both engines, so the
    learned merges match bit-for-bit. Output: the three merges with
    their frequencies.
    """
    docs = spread_input(table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$"))
    tok = words.select(
        F.array_join(
            F.filter(F.split("w", ""), lambda c: c != ""), " "
        ).alias("tok")
    ).cache()
    caches = [tok]
    learned = []
    for t in range(_BPE_ROUNDS):
        # Lambda-free adjacent-symbol pairing (r12): arrays_zip + slice
        # instead of an interpreted transform() lambda; the trailing
        # (sym_n, NULL) struct filter subsumes the old single-symbol
        # guard (1-char words, fully merged words yield no pairs).
        sym = F.split(F.col("tok"), " ")
        pairs = (
            tok.select(
                F.explode(
                    F.arrays_zip(
                        sym.alias("a"),
                        F.slice(
                            sym, 2, F.greatest(F.size(sym) - 1, F.lit(0))
                        ).alias("b"),
                    )
                ).alias("p")
            )
            .filter(F.col("p.b").isNotNull())
            .select(
                F.concat(F.col("p.a"), F.lit(" "), F.col("p.b")).alias(
                    "pair"
                )
            )
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), F.asc("pair"))
            .limit(1)
            .collect()[0]
        )
        learned.append((t + 1, top.pair, top.freq))
        tok = tok.select(
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("tok"), F.lit(" ")),
                    F.lit(f" {top.pair} "),
                    F.lit(" " + top.pair.replace(" ", "") + " "),
                )
            ).alias("tok")
        ).cache()
        caches.append(tok)
    out = spark.createDataFrame(learned, "round INT, pair STRING, freq BIGINT")
    for c in caches:
        c.unpersist()
    return out


# ---------------------------------------------------------------------------
# join_scd2_lookup — temporal point-in-interval join against the SCD2 dim


@query(
    "join_scd2_lookup",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS version
      FROM ordered
    ), hist0 AS (
      SELECT user_id, version, event_type AS state, MIN(ts) AS valid_from
      FROM seg GROUP BY user_id, version, event_type
    ), hist AS (
      SELECT user_id, version, state, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to
      FROM hist0
    ), probes AS (
      SELECT event_id, user_id, ts - INTERVAL 1 HOUR AS probe_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, h.state AS state_1h_before
    FROM probes p
    LEFT JOIN hist h
      ON p.user_id = h.user_id
     AND p.probe_ts >= h.valid_from
     AND (h.valid_to IS NULL OR p.probe_ts < h.valid_to)
    """,
)
def join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal point-in-interval lookup against the SCD2 dimension:
    what state was each purchasing user in ONE HOUR BEFORE the
    purchase? The as-at dimension join every warehouse runs against
    versioned dims (price catalogs, account tiers) — equi on the
    entity key, interval containment as a residual.

    The history side is version-grained (a few rows per user — the
    compressed intervals, not the events), so the fan-out per probe is
    bounded by version count; probes before the entity's first
    interval survive as NULL state (left join). At 100 TB both sides
    shuffle once on the entity key; a broadcast works when the dim's
    current snapshot is small enough.
    """
    hist = reshape_scd2_history(spark, sf_dir).select(
        F.col("user_id").alias("h_user"), "state", "valid_from", "valid_to"
    )
    ev = table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("probe_ts"),
    )
    return probes.join(
        hist,
        (probes.user_id == hist.h_user)
        & (F.col("probe_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to"))),
        "left",
    ).select("event_id", "user_id", F.col("state").alias("state_1h_before"))


# ---------------------------------------------------------------------------
# join_temporal_align

_TA_INF_US = 1 << 62  # open-ended validity sentinel (exact integer)


@query(
    "join_temporal_align",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(chg) OVER wo AS BIGINT) AS version,
             CAST(SUM(new_session) OVER wo AS BIGINT) AS sid
      FROM ordered
      WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), hist AS (
      SELECT user_id, version, MIN(event_type) AS state,
             MIN(epoch_us(ts)) AS vf,
             COALESCE(lead(MIN(epoch_us(ts))) OVER (
               PARTITION BY user_id ORDER BY version), {_TA_INF_US}) AS vt
      FROM seg GROUP BY user_id, version
    ), sessions AS (
      SELECT user_id, sid,
             MIN(epoch_us(ts)) AS ss, MAX(epoch_us(ts)) + 1 AS se
      FROM seg GROUP BY user_id, sid
    )
    SELECT s.user_id, s.sid AS session_id, h.version, h.state,
           CAST(LEAST(s.se, h.vt) - GREATEST(s.ss, h.vf) AS BIGINT)
             AS overlap_us
    FROM sessions s JOIN hist h
      ON s.user_id = h.user_id
     AND LEAST(s.se, h.vt) - GREATEST(s.ss, h.vf) > 0
    """,
)
def join_temporal_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ALIGN join: intersect each user's session intervals
    (30-minute gap islands) with their SCD2 state-validity intervals,
    emitting the exact overlap duration per (session, version) pair —
    the temporal-database operation behind "which dimension version
    was live during this activity period, and for how long".

    Both interval sets derive from ONE shared window pass (change
    points and session breaks ride the same (user, ts, event_id)
    ordering — one exchange, two running sums), then the align itself
    is an equi join on the entity key with the overlap inequality as a
    residual — never an unkeyed range join. Sessions are half-open
    [start, last+1µs) so single-event sessions still align with their
    containing version; open-ended current versions use an integer
    sentinel. All arithmetic is epoch-microsecond integers: exact,
    timezone-independent, hash-stable.
    """
    ev = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(wo).isNull()
            | (F.lag("event_type").over(wo) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
        F.when(
            F.lag("ts").over(wo).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo))
                >= 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    seg = flagged.select(
        "user_id",
        "ts",
        "event_type",
        F.sum("chg").over(wcum).cast("bigint").alias("version"),
        F.sum("new_session").over(wcum).cast("bigint").alias("sid"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    hist = (
        seg.groupBy("user_id", "version")
        .agg(
            F.min("event_type").alias("state"),
            F.min(F.unix_micros("ts")).alias("vf"),
        )
        .select(
            "user_id",
            "version",
            "state",
            "vf",
            F.coalesce(
                F.lead("vf").over(wv), F.lit(_TA_INF_US).cast("bigint")
            ).alias("vt"),
        )
    )
    sessions = seg.groupBy("user_id", "sid").agg(
        F.min(F.unix_micros("ts")).alias("ss"),
        (F.max(F.unix_micros("ts")) + 1).alias("se"),
    )
    s = sessions.alias("s")
    h = hist.alias("h")
    overlap = F.least(F.col("s.se"), F.col("h.vt")) - F.greatest(
        F.col("s.ss"), F.col("h.vf")
    )
    return (
        s.join(h, (F.col("s.user_id") == F.col("h.user_id")) & (overlap > 0))
        .select(
            F.col("s.user_id").alias("user_id"),
            F.col("s.sid").alias("session_id"),
            F.col("h.version").alias("version"),
            F.col("h.state").alias("state"),
            overlap.cast("bigint").alias("overlap_us"),
        )
    )


# ---------------------------------------------------------------------------
# layout_hilbert_address

_H_ORDER = 8  # 8-bit coordinates → 256×256 grid, address < 65536
_H_N = 1 << _H_ORDER


def _hilbert_round_exprs(s: int, xor_fmt: str) -> tuple[str, str, str]:
    """One xy2d round (canonical Wikipedia formulation, grid n=256):
    returns (x', y', d') SQL expressions over columns x, y, d.
    ``xor_fmt`` renders integer XOR (engine-specific syntax)."""
    rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    step = xor_fmt.format(a=f"(3 * {rx})", b=ry)
    d_new = f"d + {s * s} * ({step})"
    x_new = (
        f"CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN {_H_N - 1} - y ELSE y END) "
        f"ELSE x END"
    )
    y_new = (
        f"CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN {_H_N - 1} - x ELSE x END) "
        f"ELSE y END"
    )
    return x_new, y_new, d_new


def hilbert_xy2d_py(x: int, y: int) -> int:
    """Driver-side reference of the same canonical xy2d (used by the
    faithfulness test, never in the dataflow)."""
    d = 0
    s = _H_N // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = _H_N - 1 - x
                y = _H_N - 1 - y
            x, y = y, x
        s //= 2
    return d


def _hilbert_sql() -> str:
    ctes = [
        f"""r0 AS (
      SELECT event_id, user_id % {_H_N} AS x0,
             CAST(floor(value) AS BIGINT) % {_H_N} AS y0,
             user_id % {_H_N} AS x,
             CAST(floor(value) AS BIGINT) % {_H_N} AS y,
             CAST(0 AS BIGINT) AS d
      FROM events
    )"""
    ]
    prev = "r0"
    for k, s in enumerate((1 << i for i in range(_H_ORDER - 1, -1, -1)), 1):
        xn, yn, dn = _hilbert_round_exprs(s, "xor({a}, {b})")
        ctes.append(f"""r{k} AS (
      SELECT event_id, x0, y0, {xn} AS x, {yn} AS y, {dn} AS d
      FROM {prev}
    )""")
        prev = f"r{k}"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT event_id, x0 AS x, y0 AS y, CAST(d AS BIGINT) AS haddr,
           CAST(d >> 10 AS BIGINT) AS file_bucket
    FROM {prev}
    """


@query("layout_hilbert_address", oracle=_hilbert_sql())
def layout_hilbert_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve addresses for the same two scan dimensions as
    `layout_zorder_address` — the data-skipping layout with strictly
    better locality than Z-order (every curve step is a grid neighbor,
    so range-partitioned files get tighter per-file min/max rectangles;
    Z-order jumps at power-of-two seams).

    The canonical xy2d walk (8 reflect-rotate rounds for a 256×256
    grid) is inherently sequential PER ROW but stateless ACROSS rows,
    so it unrolls into 8 chained projections — one whole-stage-codegen
    span, zero shuffles, and both engines run byte-identical generated
    expressions (a driver-side Python reference pins the formulation
    in pytest). The layout write, like Z-order, is
    ``repartitionByRange("haddr")`` — one range exchange at any scale.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % _H_N).alias("x0"),
        (F.floor("value").cast("bigint") % _H_N).alias("y0"),
        (F.col("user_id") % _H_N).alias("x"),
        (F.floor("value").cast("bigint") % _H_N).alias("y"),
        F.lit(0).cast("bigint").alias("d"),
    )
    cur = ev
    for s in (1 << i for i in range(_H_ORDER - 1, -1, -1)):
        xn, yn, dn = _hilbert_round_exprs(s, "({a} ^ {b})")
        cur = cur.select(
            "event_id",
            "x0",
            "y0",
            F.expr(xn).alias("x"),
            F.expr(yn).alias("y"),
            F.expr(dn).alias("d"),
        )
    return cur.select(
        "event_id",
        F.col("x0").alias("x"),
        F.col("y0").alias("y"),
        F.col("d").cast("bigint").alias("haddr"),
        F.shiftright("d", 10).cast("bigint").alias("file_bucket"),
    )
