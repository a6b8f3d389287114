"""The benchmark workloads: their operations and the check of each output.

Every workload is a closed loop driven by one client thread: the next
operation starts when the previous one has returned. A query's time has
two spans around the library's public calls, ``build`` (the query
function, which may run eager jobs) and ``exec`` (collecting its
result); a generate or convert call is one ``exec`` span. Checks run
after the spans and are not timed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

import numpy as np

from perfbench.fixtures import TPC_SF, Corpus, TpcFixture, content_hash

# A run times one pass in a cold JVM, and a full comparison of two
# commits makes about fifty runs that must finish within an hour on a
# four-core host whose speed drifts by up to half between minutes. So
# each workload keeps the share of its operations that fits in about
# half a minute: six TPC-H queries in both query forms (fixture-form Q1,
# Q3, Q5; spec-form Q9, Q11, Q21), two of the three slowest TPC-DS
# queries, every TPC-H table and the TPC-DS sales and inventory tables
# for generate/convert, and five dedup operators. Left out are
# dedup_ngram_jaccard and dedup_lsh_cosine, whose pair paths
# dedup_cluster_components and dedup_embedding already run, and
# dedup_minhash, whose Arrow tail is gated off at this corpus size.
TPCH_QUERIES = [
    "agg_group_sum",                      # TPC-H Q1
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q21_suppliers_kept_waiting",
]
TPCDS_QUERIES = [
    "tpcds_q14_cross_channel_intersect",
    "tpcds_q75_brand_yoy_decline",
]
TPCDS_TABLES = ["store_sales", "catalog_sales", "web_sales", "inventory"]
# Recall floors of bench.py's dedup tiers; dedup_exact and the exact
# top-k must match their ground truth completely.
DEDUP_FLOORS = {
    "dedup_exact": 1.0,
    "dedup_cluster_components": 0.95,
    "dedup_embedding": 0.85,
    "dedup_semantic_prune": 0.85,
    "sim_cosine_topk": 1.0,
}


@dataclass
class OpResult:
    name: str
    layer: str
    start: float
    build_s: float
    exec_s: float
    cpu_s: float
    ok: bool = True
    detail: str = ""
    result_rows: int = 0
    # per-table timings the library returns (generate / convert)
    tables: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


class Workload:
    """One workload. ``ops()`` lists one pass; ``run_op`` times one
    operation and checks it.

    The order of a pass is fixed. A run is one pass in a cold JVM, where
    each operation pays for the compilation of the code paths it is the
    first to use, so the order alone moved a pass's wall time by up to
    15% when it was drawn from the seed.
    """

    name: str
    input_rows: int
    stored_bytes: int

    def __init__(self, ctx) -> None:
        import tpctools_spark.queries  # noqa: F401 - registers every query

        self.ctx = ctx

    def _time(self, name, layer, build, execute, tree):
        """Run ``build()`` then ``execute(handle)`` under the job group
        ``name``; return the timed result, the handle and the output. A
        call that raises gives a failed result (and None, None)."""
        sc = self.ctx.spark.sparkContext
        sc.setJobGroup(name, name)
        cpu0, t0 = tree.cpu_s(), time.time()
        try:
            handle = build()
            t1 = time.time()
            out = execute(handle)
        except Exception as exc:  # noqa: BLE001 - a failing operation is reported and counted
            detail = f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:300]}"
            return OpResult(name, layer, t0, time.time() - t0, 0.0, 0.0, False, detail), None, None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t2 = time.time()
        return OpResult(name, layer, t0, t1 - t0, t2 - t1, tree.cpu_s() - cpu0), handle, out

    def inputs_under(self, df, roots) -> str:
        """Why ``df`` reads files outside ``roots``, or ''."""
        stray = [
            f for f in df.inputFiles()
            if not any(urlparse(f).path.startswith(r + os.sep) for r in roots)
        ]
        return f"reads outside the fixture: {stray[:2]}" if stray else ""


class TpcQuery(Workload):
    """TPC-H and TPC-DS queries over the fixture, read-only; each result
    is collected and compared with the DuckDB oracle's answer."""

    def __init__(self, ctx) -> None:
        from perfbench.fixtures import _normalize

        super().__init__(ctx)
        self.fx: TpcFixture = ctx.tpc
        m = ctx.manifest
        self.input_rows = sum(t["rows"] for t in m["tables"].values())
        self.stored_bytes = sum(
            size for path, size in m["files"].items() if path.endswith(".parquet")
        )
        self.answers = self.fx.answers(m["fingerprint"])
        self.normalize = _normalize()

    def ops(self) -> list[str]:
        return TPCH_QUERIES + TPCDS_QUERIES

    def run_op(self, op: str, tree) -> OpResult:
        from tpctools_spark.registry import QUERIES

        layer = "tpch" if op in TPCH_QUERIES else "tpcds"
        res, df, pdf = self._time(
            op, layer, lambda: QUERIES[op](self.ctx.spark, self.fx.tpch),
            lambda df: df.toPandas(), tree,
        )
        if res.ok:
            res.result_rows = len(pdf)
            res.detail = self.inputs_under(df, [self.fx.tpch, self.fx.tpcds]) or self.check(op, pdf)
            res.ok = not res.detail
        return res

    def check(self, op: str, pdf) -> str:
        want = self.answers[op]
        cols = list(pdf.columns)
        if sorted(cols) != want["columns"]:
            return f"columns {sorted(cols)} != oracle {want['columns']}"
        rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        got = [list(r) for r in self.normalize(rows, cols)]
        if got != want["rows"]:
            return f"result differs from the oracle ({len(got)} vs {len(want['rows'])} rows)"
        return ""


class GenConvert(Workload):
    """The reference pipeline: generate pipe-delimited text for TPC-H
    and TPC-DS, then convert each to snappy Parquet."""

    def __init__(self, ctx) -> None:
        from tpctools_spark import TpcDs, TpcH

        super().__init__(ctx)
        self.bench = {"tpch": TpcH(), "tpcds": TpcDs()}
        self.tables = {"tpch": TpcH().table_names(), "tpcds": TPCDS_TABLES}
        self.expected = ctx.manifest["tables"]
        self.input_rows = sum(
            self.expected[f"{b}/{t}"]["rows"] for b, ts in self.tables.items() for t in ts
        )
        self.stored_bytes = 0
        self.out = os.path.join(ctx.run_dir, "gen_convert")

    def ops(self) -> list[str]:
        return ["generate.tpch", "convert.tpch", "generate.tpcds", "convert.tpcds"]

    def begin_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.stored_bytes = 0

    def run_op(self, op: str, tree) -> OpResult:
        from tpctools_spark.convert import convert_to_parquet

        step, b = op.split(".")
        tpc, tables = self.bench[b], self.tables[b]
        raw = os.path.join(self.out, f"{b}_text")
        pq_dir = os.path.join(self.out, f"{b}_parquet")
        spark = self.ctx.spark
        if step == "generate":
            def call(_):
                return tpc.generate(
                    spark, TPC_SF, self.ctx.cpus, raw,
                    tables=tables, fmt="csv", compression="none",
                )
        else:
            # Tpc.convert always converts every table of the benchmark;
            # this is its body restricted to the generated tables.
            def call(_):
                return convert_to_parquet(
                    spark, raw, pq_dir, tables=tables,
                    schemas={t: tpc.schema(t) for t in tables},
                    table_ext=".csv", parallel=self.ctx.cpus,
                )
        res, _, timings = self._time(op, op, lambda: None, call, tree)
        if res.ok:
            res.tables = timings
            if step == "convert":
                res.detail = self.check(b, pq_dir)
                res.ok = not res.detail
        return res

    def check(self, b: str, pq_dir: str) -> str:
        """Each converted table must hold exactly the generator's rows:
        the spec row count and the fixture's content hash."""
        from tpctools_spark.generate import ROWS_PER_SF
        from tpctools_spark.generate_tpcds import rows_for

        spec = {t: int(n * TPC_SF) for t, n in ROWS_PER_SF.items()}
        spec.update(region=5, nation=25, partsupp=4 * spec["part"])
        bad = []
        for t in self.tables[b]:
            path = os.path.join(pq_dir, f"{t}.parquet")
            rows, h = content_hash(self.ctx.duck, path)
            self.stored_bytes += sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path) if f.endswith(".parquet")
            )
            want = self.expected[f"{b}/{t}"]
            # lineitem's size is a property of the generated orders
            # (1-7 lines each), not a spec constant
            spec_rows = rows_for(t, TPC_SF) if b == "tpcds" else spec.get(t, want["rows"])
            if rows != spec_rows or rows != want["rows"] or h != want["hash"]:
                bad.append(f"{t}: {rows} rows (spec {spec_rows}, fixture {want['rows']}), "
                           f"content {'matches' if h == want['hash'] else 'differs'}")
        return "; ".join(bad)


class LlmDedup(Workload):
    """The LLM-pipeline dedup and similarity operators over the seeded
    corpus."""

    name = "llm_dedup"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.corpus: Corpus = ctx.corpus
        self.input_rows = self.corpus.rows
        self.stored_bytes = sum(self.corpus.files.values())
        self.recall: dict[str, float] = {}

    def ops(self) -> list[str]:
        return list(DEDUP_FLOORS)

    def run_op(self, op: str, tree) -> OpResult:
        from tpctools_spark.registry import QUERIES

        layer = "similarity" if op.startswith("sim_") else "dedup"
        spark = self.ctx.spark
        res, df, pdf = self._time(
            op, layer, lambda: QUERIES[op](spark, self.corpus.root),
            lambda df: df.toPandas(), tree,
        )
        # Operators may cache intermediate results and leave the release
        # to the caller (the repository's harness convention).
        spark.catalog.clearCache()
        recall = self.recall_of(op, pdf) if res.ok else 0.0
        self.recall[op] = min(recall, self.recall.get(op, recall))
        if res.ok:
            res.result_rows = len(pdf)
            res.detail = self.inputs_under(df, [self.corpus.root])
            if not res.detail and recall < DEDUP_FLOORS[op]:
                res.detail = f"recall {recall:.4f} below floor {DEDUP_FLOORS[op]}"
            res.ok = not res.detail
        return res

    def recall_of(self, op: str, pdf) -> float:
        """Share of the planted answer ``op`` found (dedup_exact: the
        share of duplicate groups, 0 unless every group is exact)."""
        c = self.corpus
        if op == "dedup_exact":
            groups: dict[str, list[int]] = {}
            for i, t in enumerate(c.texts):
                key = hashlib.sha256(t.strip(" ").lower().encode()).hexdigest()
                groups.setdefault(key, []).append(i)
            want = {(k, min(v), len(v)) for k, v in groups.items()}
            got = set(zip(pdf["content_hash"], pdf["keep_id"], pdf["n_copies"]))
            dups = {g for g in want if g[2] > 1}
            return len(dups & got) / len(dups) if want == got else 0.0
        if op == "dedup_cluster_components":
            multi = pdf[pdf["cluster_size"] >= 2]
            cid = dict(zip(multi["doc_id"], multi["cluster_id"]))
            hit = sum(
                1 for a, b in c.near_dup_pairs
                if a in cid and cid.get(a) == cid.get(b)
            )
            return hit / len(c.near_dup_pairs)
        if op == "dedup_embedding":
            got = set(zip(pdf["vec_a"], pdf["vec_b"]))
            return len(c.vec_pairs & got) / len(c.vec_pairs)
        if op == "dedup_semantic_prune":
            kept = set(pdf["vec_id"])
            caught = sum(1 for a, b in c.vec_pairs if a not in kept or b not in kept)
            return caught / len(c.vec_pairs)
        if op == "sim_cosine_topk":
            from tpctools_spark.queries.similarity import PROBE_VEC_ID, TOP_K

            e = c.vecs.astype(np.float64)
            p = e[PROBE_VEC_ID]
            cos = e @ p / (np.linalg.norm(e, axis=1) * np.linalg.norm(p))
            ids = [i for i in np.lexsort((np.arange(len(e)), -cos)) if i != PROBE_VEC_ID]
            want = ids[:TOP_K]
            return len(set(want) & set(pdf["vec_id"])) / TOP_K
        raise KeyError(op)


class TpcPipeline(Workload):
    """What the TPC data is for, end to end: generate and convert it
    (``GenConvert``), then query it (``TpcQuery``, over the cached
    fixture, whose content the conversion must reproduce exactly). The
    write phase runs first and takes the cold JVM's warm-up."""

    name = "tpc_pipeline"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.phases = (GenConvert(ctx), TpcQuery(ctx))
        self.input_rows = sum(p.input_rows for p in self.phases)

    @property
    def stored_bytes(self) -> int:
        # per input row: Parquet written by convert plus the fixture's
        return sum(p.stored_bytes for p in self.phases)

    def ops(self) -> list[str]:
        return [op for p in self.phases for op in p.ops()]

    def begin_pass(self) -> None:
        self.phases[0].begin_pass()

    def run_op(self, op: str, tree) -> OpResult:
        phase = self.phases[0] if op in self.phases[0].ops() else self.phases[1]
        return phase.run_op(op, tree)


WORKLOADS = {w.name: w for w in (TpcPipeline, LlmDedup)}
