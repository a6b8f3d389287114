"""§2.B.9 — similarity search over the embedding column.

- ``sim_cosine_topk``: brute-force cosine top-k against a probe vector —
  the exact baseline. One scan, no shuffle until the final top-k
  (TakeOrderedAndProject), so it parallelizes perfectly; at 100 TB the
  cost is one pass over the vectors.
- ``sim_cosine_topk_ivf``: the scale path — IVF-style candidate pruning.
  Vectors are blocked by a coarse quantizer (here: the label column as
  the cell id; in production a k-means codebook), the probe visits only
  the nearest cells, and the exact cosine runs inside those cells only.

Dot products accumulate per-element products as exact decimals (see
dedup.py) so both engines agree bit-for-bit — FP summation order can
never flip a top-k boundary against the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tpctools_spark.catalog import table
from tpctools_spark.queries._runscan import fixed_width, run_scan
from tpctools_spark.queries._util import trunc_digits
from tpctools_spark.registry import query

PROBE_VEC_ID = 0
TOP_K = 10
EMB_DIM = 64  # the embeddings fixture's dimension (FIXTURES.md)

# Exact-decimal dot product oracle fragment (a, b are double lists).
_SQL_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] * p[2] AS DECIMAL(25,16)))) AS DOUBLE)"
)

# Shared oracle CTEs: double-cast vectors and decimal-exact per-label
# (= IVF cell) centroids. The decimal mean is order-invariant, so cell
# assignment is bitwise-reproducible across engines.
_SQL_PREP = """
    prep AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )"""
_SQL_CENT = """
    comps AS (
      SELECT label, unnest(e) AS val, unnest(range(1, len(e) + 1)) AS pos
      FROM prep
    ), cent AS (
      SELECT label AS cell, list(c ORDER BY pos) AS centroid
      FROM (SELECT label, pos,
                   CAST(SUM(CAST(val AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS c
            FROM comps GROUP BY label, pos)
      GROUP BY label
    )"""


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Exact-decimal dot product of two double arrays → double.

    r13 fold-sweep verdict: stays a fold. The LSH-tier A/B of the
    SAME op class (per-row 64-term DECIMAL accumulation,
    dedup.py sq_norm, .scratch/prof_lsh13.out) measured the flat
    decimal chain 3× SLOWER than this interpreted fold (6.2 s vs
    2.0 s per 500k rows) — decimal codegen ops allocate per step, so
    chains only pay off for DOUBLE/BIGINT arithmetic. Exact-decimal
    dots are also per-corpus-row ×O(1) here (probe/centroid scoring),
    never per-pair.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("decimal(25,16)")),
        F.lit(0).cast("decimal(25,16)"),
        lambda acc, x: (acc + x).cast("decimal(25,16)"),
    ).cast("double")


def _sq_norm(col: Column) -> Column:
    e = _as_double(col)
    return _dot(e, e)


def _cell_centroids(prep: DataFrame) -> DataFrame:
    """Per-cell (label) centroids via an exact decimal component mean.

    posexplode → groupBy(cell, pos) → decimal-sum/count → re-assemble;
    shuffle-light (cells × dims rows) and order/partition-invariant, so
    centroid-based cell selection is deterministic across engines.
    """
    comps = prep.select("label", F.posexplode("e").alias("pos", "val"))
    return (
        comps.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(30,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pc", lambda s: s.getField("c")).alias("centroid"),
        )
    )


# Target within-cell occupancy of the embedding blocking cells. Each
# label splits into 2^b sign-bit sub-cells with b = ceil(log2(n/32)),
# so expected occupancy stays in (16, 32] no matter how large the
# corpus grows — the quadratic within-cell pair scan is bounded.
_EMB_CELL_TARGET = 32

# Bit-packed sign-bit sub-cell id: bit i is (e[i] >= centroid[i]).
# All-integer (shiftleft/IF) so both engines agree bitwise; b = 0
# (label at/below target size) short-circuits to one sub-cell because
# Spark's sequence(0, -1) would count DOWN, not produce an empty list.
# The interpreted fold runs exactly least(b, size(e)) steps; an
# unrolled 40-term chain measured slower (OPTIMIZATION_r13.md).
_SUBCELL_EXPR = (
    "IF(least(b, size(e)) = 0, 0L,"
    " aggregate(sequence(0, least(b, size(e)) - 1), 0L, (acc, i) -> acc"
    " + IF(element_at(e, int(i) + 1) >= element_at(centroid, int(i) + 1),"
    " shiftleft(1L, int(i)), 0L)))"
)

# The blocking cell: the scans below see each cell as one sorted run.
CELL_KEYS = ("label", "subcell")


def _embedding_cells(prep: DataFrame) -> DataFrame:
    """Tag each vector with a bounded-occupancy blocking cell.

    Input: ``(vec_id, label, e: array<double>)``. Output adds
    ``subcell`` (bigint). Within each label, b = min bits such that
    32·2^b ≥ n_label; bit i of the sub-cell is the sign of component
    i versus the label's decimal-exact mean component
    (``_cell_centroids``, so the comparison is bitwise-reproducible
    across engines). Label counts and centroids are label-cardinality
    tables — broadcast; assignment is one row-local pass, O(N·b) total,
    no candidate generation here.
    """
    bits = (
        prep.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            F.expr(
                "element_at(filter(sequence(0, 40),"
                f" i -> {_EMB_CELL_TARGET} * shiftleft(1L, int(i)) >= n), 1)"
            ).alias("b"),
        )
    )
    cents = _cell_centroids(prep).withColumnRenamed("cell", "label")
    return (
        prep.join(F.broadcast(bits), "label")
        .join(F.broadcast(cents), "label")
        .withColumn("subcell", F.expr(_SUBCELL_EXPR))
        .drop("b", "centroid")
    )


def _tagged_cells(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The embeddings as ``(vec_id, label, e: array<double>)``, and the
    same vectors as a cell scan's input ``(vec_id, label, subcell, nrm,
    e)``, ``nrm`` being the ordered-fold double norm."""
    emb = table(spark, sf_dir, "embeddings")
    prep = emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    )
    tagged = _embedding_cells(prep).withColumn(
        "nrm", F.sqrt(_dotf(F.col("e"), F.col("e")))
    )
    return prep, tagged.select("vec_id", "label", "subcell", "nrm", "e")


def _cell_cosines(tab, starts, need=None):
    """Yield ``(cell, ids, cos)`` for every cell of ≥ 2 vectors in one
    table of complete (label, subcell) runs: the cell's row slice, its
    vec_ids and its all-pairs cosine matrix. ``need(ids)`` may skip a
    cell before its cosines are computed.

    Bit-exactness: each pair dot starts at e₁ᵃ·e₁ᵇ and adds e_dᵃ·e_dᵇ in
    dim order, the IEEE double op sequence of the oracle's
    ``list_reduce``, and divides by the same norm product (one multiply
    per pair), so every cosine equals the oracle's bit for bit.
    """
    import numpy as np

    E = fixed_width(tab.column("e"), EMB_DIM, "cell scan: embedding dim")
    ids = tab.column("vec_id").to_numpy()
    nrm = tab.column("nrm").to_numpy()
    for s0, s1 in zip(starts, np.append(starts[1:], tab.num_rows)):
        cell = slice(int(s0), int(s1))
        if s1 - s0 < 2 or (need is not None and not need(ids[cell])):
            continue
        Ec = E[cell]
        acc = np.outer(Ec[:, 0], Ec[:, 0])
        for d in range(1, EMB_DIM):
            acc += np.outer(Ec[:, d], Ec[:, d])
        yield cell, ids[cell], acc / np.outer(nrm[cell], nrm[cell])


def _emb_pairs_kernel(tab, starts):
    """``dedup_embedding``: every same-cell pair at cosine ≥ 0.3 as
    (vec_a, vec_b, cosine_raw), vec_a the smaller id (the oracle's
    a < b side; the cosine is symmetric bit for bit)."""
    import numpy as np

    for _, ic, cos in _cell_cosines(tab, starts):
        iu, ju = np.triu_indices(len(ic), 1)
        cv = cos[iu, ju]
        keep = cv >= 0.3
        if keep.any():
            va, vb = ic[iu[keep]], ic[ju[keep]]
            yield np.minimum(va, vb), np.maximum(va, vb), cv[keep]


def _is_batch(ids):
    """``dedup_embedding_incremental``'s incoming batch: vec_id ≡ 0
    (mod 9), vec_id > 0."""
    return (ids % 9 == 0) & (ids > 0)


def _emb_incr_kernel(tab, starts):
    """``dedup_embedding_incremental``: (bd, n) for each batch vector
    with n ≥ 1 same-cell corpus vectors at cosine ≥ 0.3 (the oracle's
    batch×corpus probe pairs)."""
    import numpy as np

    def mixed(ic):
        return 0 < _is_batch(ic).sum() < len(ic)

    for _, ic, cos in _cell_cosines(tab, starts, need=mixed):
        b = _is_batch(ic)
        hits = (cos[np.ix_(b, ~b)] >= 0.3).sum(axis=1)
        keep = hits > 0
        if keep.any():
            yield ic[b][keep], hits[keep].astype(np.int64)


def _prune_kernel(tab, starts):
    """``dedup_semantic_prune``'s dropped vec_ids: a vector drops when a
    same-cell neighbour at cosine ≥ tau is more diverse (lower
    ``cent_cos``, ties to the lower id). A vec_id lives in exactly one
    cell, so no global distinct is needed."""
    cc = tab.column("cent_cos").to_numpy()
    for cell, ic, cos in _cell_cosines(tab, starts):
        ci = cc[cell]
        better = (ci[None, :] < ci[:, None]) | (
            (ci[None, :] == ci[:, None]) & (ic[None, :] < ic[:, None])
        )
        drop = ((cos >= _SEMANTIC_TAU) & better).any(axis=1)
        if drop.any():
            yield (ic[drop],)


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH prep AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), probe AS (
      SELECT e AS pe, {_SQL_DOT.format(a='e', b='e')} AS p_sq FROM prep
      WHERE vec_id = {PROBE_VEC_ID}
    ), scored AS (
      SELECT vec_id, label,
             {_SQL_DOT.format(a='e', b='pe')}
               / (sqrt({_SQL_DOT.format(a='e', b='e')}) * sqrt(p_sq)) AS cos_raw
      FROM prep, probe
      WHERE vec_id <> {PROBE_VEC_ID}
    )
    SELECT vec_id, label, CAST(floor(cos_raw * 10000) AS DOUBLE) / 10000 AS cosine,
           ROW_NUMBER() OVER (ORDER BY cos_raw DESC, vec_id) AS rank
    FROM scored
    ORDER BY cos_raw DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k nearest neighbours of probe vec_id=0."""
    emb = table(spark, sf_dir, "embeddings")
    prep = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
    probe = prep.filter(F.col("vec_id") == PROBE_VEC_ID).select(
        F.col("e").alias("pe"), _sq_norm(F.col("e")).alias("p_sq")
    )
    scored = (
        prep.filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .withColumn(
            "cos_raw",
            _dot(F.col("e"), F.col("pe"))
            / (F.sqrt(_dot(F.col("e"), F.col("e"))) * F.sqrt(F.col("p_sq"))),
        )
    )
    w = F.row_number().over(Window.orderBy(F.col("cos_raw").desc(), F.col("vec_id")))
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .withColumn("rank", w)
        .select(
            "vec_id", "label", trunc_digits(F.col("cos_raw"), 4).alias("cosine"), "rank"
        )
    )


@query(
    "sim_cosine_topk_ivf",
    oracle=f"""
    WITH {_SQL_PREP}, {_SQL_CENT}, probe AS (
      SELECT e AS pe FROM prep WHERE vec_id = {PROBE_VEC_ID}
    ), cellscore AS (
      SELECT cell,
             {_SQL_DOT.format(a='centroid', b='pe')}
               / (sqrt({_SQL_DOT.format(a='centroid', b='centroid')})
                  * sqrt({_SQL_DOT.format(a='pe', b='pe')})) AS cell_cos
      FROM cent, probe
    ), top_cells AS (
      SELECT cell FROM cellscore ORDER BY cell_cos DESC, cell LIMIT 3
    ), scored AS (
      SELECT p.vec_id, p.label,
             {_SQL_DOT.format(a='p.e', b='pe')}
               / (sqrt({_SQL_DOT.format(a='p.e', b='p.e')})
                  * sqrt({_SQL_DOT.format(a='pe', b='pe')})) AS cos_raw
      FROM prep p JOIN top_cells t ON p.label = t.cell, probe
      WHERE p.vec_id <> {PROBE_VEC_ID}
    )
    SELECT vec_id, label,
           CAST(floor(cos_raw * 10000) AS DOUBLE) / 10000 AS cosine
    FROM scored ORDER BY cos_raw DESC, vec_id LIMIT {TOP_K}
    """,
)
def sim_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: visit only the 3 nearest cells.

    Stage 1 builds per-cell centroids (label = coarse cell id) via a
    component-wise average — posexplode → groupBy(cell, pos) → avg →
    re-assemble, all shuffle-light since cells × dims is tiny. Stage 2
    scores the probe against centroids and keeps the best 3 cells;
    stage 3 runs the exact cosine only inside those cells. At 100 TB
    this turns a full scan into reading ~nprobe/ncells of the data.

    The centroid mean is an exact decimal sum / count (order- and
    partition-invariant), so cell selection — and therefore the whole
    pruned result — has a bitwise SQL twin despite being "approximate".
    """
    return _ivf_topk(spark, sf_dir, nprobe=3)


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """The IVF pipeline parameterized by the number of probed cells —
    shared by the nprobe=3 query and the recall-vs-nprobe curve.

    r13 A/B NEUTRAL — hoisting the probe's sqrt(dot(pe,pe)) into the
    1-row probe broadcast (stage 3 recomputes that 64-term decimal
    fold per candidate row; `sim_cosine_topk` hoists it) measured
    bit-identical and faster leg-isolated (1.61 → 1.33 s at the 50k
    fixture) but NOT sign-stable at the consumer (`sim_ivf_recall`
    full-query: faster 4/6 interleaved pairs, min 1.82 vs 1.72 s —
    the brute leg + join dominate). Left as-is under the
    sign-stability rule; re-try if the candidate set ever grows past
    ~nprobe/ncells · 50k rows (.scratch/attr_ivf.py)."""
    emb = table(spark, sf_dir, "embeddings")
    prep = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))

    # stage 1: centroids per cell (exact decimal mean → deterministic)
    centroids = _cell_centroids(prep)

    probe = prep.filter(F.col("vec_id") == PROBE_VEC_ID).select(
        F.col("e").alias("pe")
    )
    # stage 2: nearest cells by centroid cosine
    cell_scores = centroids.crossJoin(F.broadcast(probe)).withColumn(
        "cell_cos",
        _dot(F.col("centroid"), F.col("pe"))
        / (
            F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
            * F.sqrt(_dot(F.col("pe"), F.col("pe")))
        ),
    )
    top_cells = (
        cell_scores.orderBy(F.col("cell_cos").desc(), F.col("cell"))
        .limit(nprobe)
        .select("cell")
    )

    # stage 3: exact cosine within the selected cells only
    candidates = prep.join(
        F.broadcast(top_cells), prep.label == F.col("cell")
    ).filter(F.col("vec_id") != PROBE_VEC_ID)
    scored = candidates.crossJoin(F.broadcast(probe)).withColumn(
        "cos_raw",
        _dot(F.col("e"), F.col("pe"))
        / (F.sqrt(_dot(F.col("e"), F.col("e"))) * F.sqrt(_dot(F.col("pe"), F.col("pe")))),
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "label", trunc_digits(F.col("cos_raw"), 4).alias("cosine"))
    )


K_CLUSTERS = 8
KMEANS_ITERS = 3


_KM_SHIFT = 1000  # makes every quantized component positive (|e| < 1)

# Quantized-fixed-point prep, shared by kmeans and medoid oracles:
# x'_j = floor(e_j·1000) + SHIFT. floor of the identical IEEE product is
# bit-deterministic in both engines (the trunc_digits principle); the
# shift keeps everything positive so floor-division == truncating
# division in BOTH engines (they disagree on negatives).
_SQL_FX_PTS = f"""pts AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)
                    + {_KM_SHIFT}) AS x
      FROM embeddings
    )"""
_SQL_FX_D2 = (
    "list_sum(list_transform(range(1, " + str(EMB_DIM + 1) + "), "
    "j -> (1000 * {p}.x[j] - {c}.c[j]) * (1000 * {p}.x[j] - {c}.c[j])))"
)


def _kmeans_oracle() -> str:
    """Unrolled SQL twin of the fixed-point k-means: the iteration
    count is a constant, so the 'iterative' loop is KMEANS_ITERS
    mechanical CTE stages — assignment (cross join + rank-1 window over
    |points|·K rows), per-dimension integer sums, floor-div centroid
    update, with empty clusters keeping their previous centroid."""
    sql = f"""
    WITH {_SQL_FX_PTS}, c0 AS (
      SELECT vec_id AS k, list_transform(x, v -> 1000 * v) AS c
      FROM pts WHERE vec_id < {K_CLUSTERS}
    )"""
    prev = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        d2 = _SQL_FX_D2.format(p="p", c="c")
        sql += f"""
    , a{i} AS (
      SELECT vec_id, x, k FROM (
        SELECT p.vec_id, p.x, c.k,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2}, c.k) AS rn
        FROM pts p CROSS JOIN {prev} c
      ) WHERE rn = 1
    ), s{i} AS (
      SELECT k, j, SUM(x[j]) AS s, COUNT(*) AS n
      FROM a{i}, range(1, {EMB_DIM + 1}) t(j)
      GROUP BY k, j
    ), u{i} AS (
      SELECT k, list((1000 * s) // n ORDER BY j) AS c
      FROM s{i} GROUP BY k
    ), c{i} AS (
      SELECT p.k, COALESCE(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN u{i} u ON p.k = u.k
    )"""
        prev = f"c{i}"
    d2 = _SQL_FX_D2.format(p="p", c="c")
    sql += f"""
    , afinal AS (
      SELECT vec_id, k FROM (
        SELECT p.vec_id, c.k,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2}, c.k) AS rn
        FROM pts p CROSS JOIN {prev} c
      ) WHERE rn = 1
    )
    SELECT CAST(k AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM afinal GROUP BY k ORDER BY cluster
    """
    return sql


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point k-means over the embedding column
    (KMEANS_ITERS iterations).

    The iterative-algorithm pattern Spark handles with a driver-side
    loop over *tiny* state: each iteration scans the data once to
    assign points to the nearest centroid (pure row-local expressions
    against broadcast literal centroids) and recomputes centroids with
    an exact integer aggregate. Only K×dim integers ever reach the
    driver — the dataset itself never does. At 100 TB each iteration
    is one scan + one ~K·dim-row aggregate.

    All arithmetic is quantized fixed-point — components as
    floor(e·1000)+1000 (positive BIGINT), centroids as floor-div
    integer means at 1/10⁶ granularity — so the whole trajectory is
    EXACT and the fixed iteration count unrolls into a pure-SQL oracle
    (``_kmeans_oracle``): the formerly rows-only op is value-checked.
    Seeds are the first K vectors by vec_id; assignment ties break
    toward the lower cluster id.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * 1000).cast("bigint")
            + _KM_SHIFT,
        ).alias("x"),
    )
    emb = emb.cache()

    seeds = emb.filter(F.col("vec_id") < K_CLUSTERS).orderBy("vec_id").collect()
    centroids = {int(r.vec_id): [1000 * int(v) for v in r.x] for r in seeds}

    def assign_col(cents: dict[int, list[int]]) -> F.Column:
        """cluster id of the nearest centroid (squared L2, row-local,
        exact integers; ties to the lower cluster id)."""
        pairs = []
        for k in sorted(cents):
            lit_c = F.array(*[F.lit(int(v)) for v in cents[k]])
            # r13 fold sweep: stays a fold — K x 64 integer terms per
            # corpus row with K=constant clusters; exact-integer state
            # keeps both engines bit-agreed, and the corpus leg is one
            # scan per iteration, never a pair join.
            d2 = F.aggregate(
                F.zip_with(
                    F.col("x"),
                    lit_c,
                    lambda a, b: (a * 1000 - b) * (a * 1000 - b),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            pairs.append(F.struct(d2.alias("d"), F.lit(k).alias("k")))
        return F.array_min(F.array(*pairs)).getField("k").alias("cluster")

    for _ in range(KMEANS_ITERS):
        assigned = emb.select("vec_id", "x", assign_col(centroids))
        comp = (
            assigned.select("cluster", F.posexplode("x").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum("val").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        rows = comp.collect()
        new_c: dict[int, dict[int, int]] = {}
        for r in rows:
            # floor division on positive integers == both engines' //
            new_c.setdefault(r.cluster, {})[r.pos] = (1000 * r.s) // r.n
        centroids = {
            k: (
                [new_c[k][p] for p in sorted(new_c[k])]
                if k in new_c
                else centroids[k]
            )
            for k in centroids
        }

    final = emb.select("vec_id", assign_col(centroids))
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )


_MEDOID_ORACLE = f"""
    WITH {_SQL_FX_PTS.replace("SELECT vec_id,", "SELECT vec_id, label,")},
    sums AS (
      SELECT label, j, SUM(x[j]) AS s, COUNT(*) AS n
      FROM pts, range(1, {EMB_DIM + 1}) t(j)
      GROUP BY label, j
    ), cent AS (
      SELECT label, list((1000 * s) // n ORDER BY j) AS c, MAX(n) AS n
      FROM sums GROUP BY label
    ), scored AS (
      SELECT p.vec_id, p.label, c.n,
             {_SQL_FX_D2.format(p="p", c="c")} AS d2
      FROM pts p JOIN cent c USING (label)
    ), best AS (
      SELECT label, n, vec_id, d2,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY d2, vec_id) AS rn
      FROM scored
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(n AS BIGINT) AS n_vecs,
           CAST(vec_id AS BIGINT) AS medoid_vec_id,
           CAST(floor(sqrt(CAST(d2 AS DOUBLE)) / 100) / 10000 AS DOUBLE)
             AS medoid_dist
    FROM best WHERE rn = 1 ORDER BY label
    """


@query("embedding_group_medoid", oracle=_MEDOID_ORACLE)
def embedding_group_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label medoid via grouped ``applyInPandas`` + numpy.

    The grouped-UDF pattern: each label's vectors arrive as ONE pandas
    DataFrame (Arrow-batched), numpy does an O(n·d) vectorized pass
    (mean centroid → nearest member), and only a 1-row summary leaves
    Python. Rows are sorted by vec_id inside the group before any
    reduction so results are identical under any input partitioning.
    At 100 TB the label is the shuffle key; group size — not dataset
    size — bounds worker memory.

    The numpy math is the same quantized fixed-point as
    ``kmeans_embeddings`` (floor(e·1000)+1000 components, floor-div
    integer centroid, exact int64 squared distances), so the grouped
    Python path has a bit-exact SQL twin — formerly rows-only, now
    value-checked. The reported distance is sqrt of the exact integer
    (IEEE sqrt is correctly rounded, identical in both engines),
    truncated to 4 decimals.
    """
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")

    out_schema = (
        "label int, n_vecs long, medoid_vec_id long, medoid_dist double"
    )

    def medoid(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        fx = np.floor(mat * 1000).astype(np.int64) + _KM_SHIFT
        cent = (1000 * fx.sum(axis=0)) // len(fx)  # positive floor-div
        d2 = ((1000 * fx - cent) ** 2).sum(axis=1)
        i = int(d2.argmin())  # ties: lowest index = lowest vec_id
        dist = float(np.floor(np.sqrt(float(d2[i])) / 100) / 10000)
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [len(pdf)],
                "medoid_vec_id": [int(pdf["vec_id"].iloc[i])],
                "medoid_dist": [dist],
            }
        )

    return emb.groupBy("label").applyInPandas(medoid, out_schema)


KNN_NPROBE = 3


@query(
    "sim_knn_join",
    oracle=f"""
    WITH {_SQL_PREP}, {_SQL_CENT}, probes AS (
      SELECT vec_id AS probe_id, e AS pe FROM prep WHERE vec_id % 10 = 0
    ), cellscore AS (
      SELECT p.probe_id, p.pe, c.cell,
             {_SQL_DOT.format(a="c.centroid", b="p.pe")}
               / (sqrt({_SQL_DOT.format(a="c.centroid", b="c.centroid")})
                  * sqrt({_SQL_DOT.format(a="p.pe", b="p.pe")})) AS cc
      FROM probes p, cent c
    ), top_cells AS (
      SELECT probe_id, pe, cell
      FROM (SELECT probe_id, pe, cell,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cc DESC, cell) AS r
            FROM cellscore)
      WHERE r <= {KNN_NPROBE}
    ), scored AS (
      SELECT t.probe_id, x.vec_id AS neighbor_id,
             {_SQL_DOT.format(a="t.pe", b="x.e")}
               / (sqrt({_SQL_DOT.format(a="t.pe", b="t.pe")})
                  * sqrt({_SQL_DOT.format(a="x.e", b="x.e")})) AS cos
      FROM top_cells t JOIN prep x ON x.label = t.cell
      WHERE x.vec_id <> t.probe_id
    ), ranked AS (
      SELECT probe_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT probe_id, neighbor_id,
           CAST(floor(cos * 10000) AS DOUBLE) / 10000 AS cosine, rk
    FROM ranked WHERE rk <= 3
    """,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-join: top-3 cosine neighbors for EVERY probe vector (1-in-10
    subsample) via IVF-cell candidate generation — never all-pairs.

    The scale shape: (1) per-cell centroids (decimal-exact means,
    cells × dims rows — tiny); (2) every probe scores the centroid set
    (a constant-size broadcast — the ONLY cross join in the plan) and
    keeps its nprobe best cells; (3) probes equi-join the corpus on the
    cell id, so candidate scoring shuffles by cell instead of
    broadcasting the probe set or scoring O(N·P) pairs; (4) an exact
    per-probe window takes the top 3. At 100 TB the scored pairs are
    ~nprobe/ncells of all-pairs, both join sides co-partition on the
    cell key (skewed cells split by AQE), and no relation-sized
    broadcast exists anywhere. Decimal-exact dots; ties broken by
    neighbor_id; the oracle replicates the same candidate generation,
    so the pruned result is value-checked end to end.
    """
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    prep = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
    centroids = _cell_centroids(prep)
    probes = prep.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")
    )
    # stage 2: each probe picks its nprobe nearest cells (centroid set is
    # constant-size: ncells × dim — the one legitimate broadcast here)
    cellscore = probes.crossJoin(F.broadcast(centroids)).select(
        "probe_id",
        "pe",
        "cell",
        (
            _dot(F.col("centroid"), F.col("pe"))
            / (
                F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
                * F.sqrt(_dot(F.col("pe"), F.col("pe")))
            )
        ).alias("cc"),
    )
    wc = Window.partitionBy("probe_id").orderBy(F.col("cc").desc(), F.col("cell"))
    top_cells = (
        cellscore.withColumn("r", F.row_number().over(wc))
        .filter(F.col("r") <= KNN_NPROBE)
        .select("probe_id", "pe", "cell")
    )
    # stage 3: candidates via equi-join on the cell id (shuffle, not
    # broadcast — both sides co-partition on cell at any scale)
    scored = (
        top_cells.join(prep, prep.label == top_cells.cell)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("pe"), F.col("e"))
                / (
                    F.sqrt(_dot(F.col("pe"), F.col("pe")))
                    * F.sqrt(_dot(F.col("e"), F.col("e")))
                )
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "probe_id",
            "neighbor_id",
            trunc_digits(F.col("cos"), 4).alias("cosine"),
            "rk",
        )
    )


@query(
    "sim_ivf_recall",
    oracle=f"""
    WITH {_SQL_PREP}, {_SQL_CENT}, probe AS (
      SELECT e AS pe, {_SQL_DOT.format(a='e', b='e')} AS p_sq FROM prep
      WHERE vec_id = {PROBE_VEC_ID}
    ), brute AS (
      SELECT vec_id,
             {_SQL_DOT.format(a='e', b='pe')}
               / (sqrt({_SQL_DOT.format(a='e', b='e')}) * sqrt(p_sq)) AS cos_raw
      FROM prep, probe
      WHERE vec_id <> {PROBE_VEC_ID}
      ORDER BY cos_raw DESC, vec_id LIMIT {TOP_K}
    ), cellscore AS (
      SELECT cell,
             {_SQL_DOT.format(a='centroid', b='pe')}
               / (sqrt({_SQL_DOT.format(a='centroid', b='centroid')})
                  * sqrt({_SQL_DOT.format(a='pe', b='pe')})) AS cell_cos
      FROM cent, probe
    ), top_cells AS (
      SELECT cell FROM cellscore ORDER BY cell_cos DESC, cell LIMIT 3
    ), ivf AS (
      SELECT p.vec_id,
             {_SQL_DOT.format(a='p.e', b='pe')}
               / (sqrt({_SQL_DOT.format(a='p.e', b='p.e')}) * sqrt(p_sq)) AS cos_raw
      FROM prep p JOIN top_cells t ON p.label = t.cell, probe
      WHERE p.vec_id <> {PROBE_VEC_ID}
      ORDER BY cos_raw DESC, vec_id LIMIT {TOP_K}
    )
    SELECT {TOP_K} AS k,
           (SELECT COUNT(*) FROM brute b JOIN ivf i ON b.vec_id = i.vec_id)
             AS n_hits,
           (CAST((SELECT COUNT(*) FROM brute b JOIN ivf i
                   ON b.vec_id = i.vec_id) AS DOUBLE) / {TOP_K})
             AS recall_at_k
    """,
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the IVF (nprobe=3) index
    against the brute-force ground truth for the standard probe — the
    number that decides whether an approximate index is shippable, and
    the eval every index change must re-run.

    Composes the two existing retrieval pipelines (one corpus scan
    each, cell pruning on the IVF side) and joins their top-k id sets;
    the output is a single (k, hits, recall) row. At 100 TB the brute
    side runs on a sampled probe set only — the structure (two
    retrievals + id-set intersection) is unchanged.
    """
    brute = (
        sim_cosine_topk(spark, sf_dir)
        .select(F.col("vec_id").alias("b_id"))
    )
    ivf = (
        sim_cosine_topk_ivf(spark, sf_dir)
        .select(F.col("vec_id").alias("i_id"))
    )
    hits = brute.join(ivf, brute.b_id == ivf.i_id).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(TOP_K).alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / TOP_K).alias("recall_at_k"),
    )


_NPROBE_SWEEP = (1, 2, 3, 4)


def _ivf_curve_oracle() -> str:
    """SQL twin of the nprobe sweep: one brute CTE, one centroid-score
    CTE, then per-setting (cells, ivf, hit-count) chains unioned."""
    dot_e_e = _SQL_DOT.format(a="e", b="e")
    parts = []
    for n in _NPROBE_SWEEP:
        dot_pe = _SQL_DOT.format(a="p.e", b="pe")
        dot_pp = _SQL_DOT.format(a="p.e", b="p.e")
        parts.append(f"""
    , cells{n} AS (
      SELECT cell FROM cellscore ORDER BY cell_cos DESC, cell LIMIT {n}
    ), ivf{n} AS (
      SELECT p.vec_id
      FROM prep p JOIN cells{n} t ON p.label = t.cell, probe
      WHERE p.vec_id <> {PROBE_VEC_ID}
      ORDER BY {dot_pe} / (sqrt({dot_pp}) * sqrt(p_sq)) DESC, vec_id
      LIMIT {TOP_K}
    )""")
    union = "\n      UNION ALL ".join(
        f"""SELECT CAST({n} AS INTEGER) AS nprobe,
             CAST({TOP_K} AS INTEGER) AS k,
             CAST((SELECT COUNT(*) FROM brute b JOIN ivf{n} i
                    ON b.vec_id = i.vec_id) AS BIGINT) AS n_hits"""
        for n in _NPROBE_SWEEP
    )
    return f"""
    WITH {_SQL_PREP}, {_SQL_CENT}, probe AS (
      SELECT e AS pe, {dot_e_e} AS p_sq FROM prep
      WHERE vec_id = {PROBE_VEC_ID}
    ), brute AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               {_SQL_DOT.format(a="e", b="pe")} / (sqrt({dot_e_e}) * sqrt(p_sq))
                 AS cos_raw
        FROM prep, probe WHERE vec_id <> {PROBE_VEC_ID}
      ) ORDER BY cos_raw DESC, vec_id LIMIT {TOP_K}
    ), cellscore AS (
      SELECT cell,
             {_SQL_DOT.format(a="centroid", b="pe")}
               / (sqrt({_SQL_DOT.format(a="centroid", b="centroid")})
                  * sqrt({_SQL_DOT.format(a="pe", b="pe")})) AS cell_cos
      FROM cent, probe
    ){''.join(parts)}
    SELECT nprobe, k, n_hits,
           CAST(n_hits AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM ({union}) ORDER BY nprobe
    """


@query("sim_ivf_nprobe_curve", oracle=_ivf_curve_oracle())
def sim_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve: recall@k of the IVF index at nprobe =
    1..4 against the brute-force ground truth — the artifact that
    picks an operating point on the recall/cost frontier (each probed
    cell costs ~1/ncells of a full scan), rather than trusting a
    single setting.

    One brute-force leg + one centroid-scoring pass shared across the
    sweep; each setting adds only a cell-pruned exact-rescore leg and
    a 10-row id-set intersection. At 100 TB the sweep runs over a
    sampled probe set; the per-setting structure is unchanged.
    """
    brute = sim_cosine_topk(spark, sf_dir).select(F.col("vec_id").alias("b_id"))
    out = None
    for n in _NPROBE_SWEEP:
        ivf = _ivf_topk(spark, sf_dir, n).select(F.col("vec_id").alias("i_id"))
        hits = brute.join(ivf, F.col("b_id") == F.col("i_id")).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        row = hits.select(
            F.lit(n).alias("nprobe"),
            F.lit(TOP_K).alias("k"),
            "n_hits",
            (F.col("n_hits").cast("double") / TOP_K).alias("recall_at_k"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


_SEMANTIC_TAU = 0.3

# Ordered-fold double dot product: per-pair cosine work must stay in
# cheap double arithmetic (the exact-decimal fold is ~50x slower and
# made the within-cell pair join the bench's worst entry). Determinism
# holds WITHOUT decimals because both engines fold the SAME product
# list in the SAME left-to-right order (Spark `aggregate`, DuckDB
# `list_reduce`), and float*float is exact in double - every step is
# an identical IEEE operation.
_SQL_DOTF = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> p[1] * p[2]), (acc, x) -> acc + x)"
)


def _dotf(a: Column, b: Column) -> Column:
    # r13 fold-sweep verdict: stays a fold for per-VECTOR scoring.
    # The chain rewrite of semantic-prune's four per-row _dotf calls
    # measured a sign-stable 3/3 LOSS (.scratch/ab_prune13.out,
    # 4.73 → 7.09 s at 500k, identical output): fused into the wide
    # flatten, the ~600-op projection hits the JIT-size pathology.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query(
    "dedup_semantic_prune",
    oracle=f"""
    WITH {_SQL_PREP}, {_SQL_CENT},
    counts AS (
      SELECT label, COUNT(*) AS n FROM prep GROUP BY label
    ), bits AS (
      SELECT label, list_filter(range(0, 41),
               i -> 32 * (1::BIGINT << i) >= n)[1] AS b
      FROM counts
    ), tagged AS (
      SELECT p.vec_id, p.label, p.e,
             COALESCE(list_sum(list_transform(
               range(0, least(bt.b, len(p.e))),
               i -> CASE WHEN p.e[i + 1] >= ct.centroid[i + 1]
                         THEN (1::BIGINT << i) ELSE 0::BIGINT END)), 0)
               AS subcell
      FROM prep p JOIN bits bt USING (label)
                  JOIN cent ct ON p.label = ct.cell
    ), scored AS (
      SELECT t.vec_id, t.label, t.subcell,
             {_SQL_DOTF.format(a='t.e', b='c.centroid')}
               / (sqrt({_SQL_DOTF.format(a='t.e', b='t.e')})
                  * sqrt({_SQL_DOTF.format(a='c.centroid', b='c.centroid')}))
               AS cent_cos,
             sqrt({_SQL_DOTF.format(a='t.e', b='t.e')}) AS nrm,
             t.e AS e
      FROM tagged t JOIN cent c ON t.label = c.cell
    ), dropped AS (
      SELECT DISTINCT a.vec_id
      FROM scored a JOIN scored b
        ON a.label = b.label AND a.subcell = b.subcell
       AND a.vec_id <> b.vec_id
       AND {_SQL_DOTF.format(a='a.e', b='b.e')} / (a.nrm * b.nrm)
           >= {{tau}}
       AND (b.cent_cos < a.cent_cos
            OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
    )
    SELECT s.vec_id, s.label,
           CAST(floor(s.cent_cos * 10000) AS DOUBLE) / 10000 AS cent_cos
    FROM scored s
    WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)
    """.replace("{tau}", str(_SEMANTIC_TAU)),
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: within each cluster cell, drop
    the redundant member of every near-duplicate pair, keeping the one
    FARTHER from the cell centroid (the more diverse example).

    Complements dedup_embedding (which reports pairs): this op makes
    the keep/drop decision. A vector is dropped iff some same-cell
    neighbor is within cosine >= tau AND is strictly more diverse
    (lower centroid-cosine; ties broken by id) - the greedy
    one-pass approximation of SemDeDup's per-cluster sweep, expressible
    entirely as joins (no iteration).

    Scale: centroids are |cells|xdim - broadcast, and the pair join is
    blocked on (label, sign-bit subcell) via the same bounded-occupancy
    ``_embedding_cells`` tagging as dedup_embedding: a raw label is a
    FIXED-cardinality key (within-cell pairs grow quadratically with
    the corpus), so each label sub-splits into 2^b sign cells with b
    chosen per label to keep expected occupancy <= 32 — total pair work
    is O(N·occupancy), linear in the corpus (the 500k bench tier
    measures it). Near-dup pairs straddling a sub-cell boundary are
    missed — the inherent blocking trade; at 100 TB the cells would be
    real k-means cells and b seeded hyperplanes. Per-pair cost is ONE
    ordered-fold double dot against precomputed norms (norms and
    centroid-cosines are per-VECTOR work); the fold order is pinned on
    both engines, so the drop decision stays bitwise-reproducible
    without per-pair decimal arithmetic.
    """
    emb = table(spark, sf_dir, "embeddings")
    prep = emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    )
    tagged = _embedding_cells(prep)
    cent = _cell_centroids(prep)
    cent_norm = F.sqrt(_dotf(F.col("centroid"), F.col("centroid")))
    scored = (
        tagged.join(F.broadcast(cent), tagged.label == cent.cell)
        .select(
            "vec_id",
            "label",
            "subcell",
            "e",
            (
                _dotf(F.col("e"), F.col("centroid"))
                / (F.sqrt(_dotf(F.col("e"), F.col("e"))) * cent_norm)
            ).alias("cent_cos"),
            F.sqrt(_dotf(F.col("e"), F.col("e"))).alias("nrm"),
        )
    )
    # The dropped set comes from the Arrow within-cell pair scan: one
    # shuffle, bounded numpy pair dots (OPTIMIZATION_r13.md §6).
    scored = scored.select(
        "vec_id", "label", "subcell", "cent_cos", "nrm", "e"
    ).cache()
    dropped = run_scan(scored, CELL_KEYS, _prune_kernel, "vec_id bigint")
    return scored.join(dropped, "vec_id", "left_anti").select(
        "vec_id",
        "label",
        trunc_digits(F.col("cent_cos"), 4).alias("cent_cos"),
    )


_MRL_DIMS = 8  # prefix dimensions retained by the truncated index


@query(
    "sim_matryoshka_eval",
    oracle=f"""
    WITH prep AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), pfx AS (
      SELECT vec_id, e[1:{_MRL_DIMS}] AS e FROM prep
    ), probe AS (
      SELECT e AS pe FROM prep WHERE vec_id = {PROBE_VEC_ID}
    ), probe_p AS (
      SELECT e AS pe FROM pfx WHERE vec_id = {PROBE_VEC_ID}
    ), full_top AS (
      SELECT vec_id FROM prep, probe
      WHERE vec_id <> {PROBE_VEC_ID}
      ORDER BY {_SQL_DOT.format(a='e', b='pe')}
               / (sqrt({_SQL_DOT.format(a='e', b='e')})
                  * sqrt({_SQL_DOT.format(a='pe', b='pe')})) DESC, vec_id
      LIMIT {TOP_K}
    ), pfx_top AS (
      SELECT vec_id FROM pfx, probe_p
      WHERE vec_id <> {PROBE_VEC_ID}
      ORDER BY {_SQL_DOT.format(a='e', b='pe')}
               / (sqrt({_SQL_DOT.format(a='e', b='e')})
                  * sqrt({_SQL_DOT.format(a='pe', b='pe')})) DESC, vec_id
      LIMIT {TOP_K}
    )
    SELECT CAST({TOP_K} AS INT) AS k,
           CAST({_MRL_DIMS} AS INT) AS prefix_dims,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM full_top f JOIN pfx_top p USING (vec_id)) AS n_overlap,
           CAST((SELECT COUNT(*) FROM full_top f JOIN pfx_top p
                 USING (vec_id)) AS DOUBLE) / {TOP_K} AS recall_at_k
    """,
)
def sim_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: how much top-k recall survives
    when retrieval uses only the first 8 of 16 dimensions?

    The modern index-shrinking question (MRL embeddings are trained so
    prefixes remain usable): run the SAME brute-force cosine top-k with
    full vectors and with the prefix slice, and report the overlap.
    Production uses the truncated index for candidate retrieval and
    full vectors only for rescoring the shortlist — this op measures
    exactly the recall that trade costs, the same way sim_ivf_recall
    and sim_pq_recall audit their index structures.

    Scale: two probe-broadcast scans (same shape as sim_cosine_topk —
    TakeOrderedAndProject, no global sort) and a k-row overlap join.
    Exact-decimal dots keep both rankings bit-deterministic.
    """
    emb = table(spark, sf_dir, "embeddings")
    prep = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    pfx = prep.select(
        "vec_id", F.slice("e", 1, _MRL_DIMS).alias("e")
    )

    def topk(base: DataFrame) -> DataFrame:
        probe = base.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("e").alias("pe"), _sq_norm(F.col("e")).alias("p_sq")
        )
        return (
            base.filter(F.col("vec_id") != PROBE_VEC_ID)
            .crossJoin(F.broadcast(probe))
            .withColumn(
                "cos_raw",
                _dot(F.col("e"), F.col("pe"))
                / (
                    F.sqrt(_dot(F.col("e"), F.col("e")))
                    * F.sqrt(F.col("p_sq"))
                ),
            )
            .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
            .limit(TOP_K)
            .select("vec_id")
        )

    overlap = topk(prep).join(topk(pfx), "vec_id")
    return overlap.agg(
        F.lit(TOP_K).cast("int").alias("k"),
        F.lit(_MRL_DIMS).cast("int").alias("prefix_dims"),
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / TOP_K).alias("recall_at_k"),
    )
