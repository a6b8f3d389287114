"""Benchmark inputs: the cached TPC fixture and the seeded LLM corpus.

The TPC fixture (TPC-H and TPC-DS at ``TPC_SF``) is written once per
checkout by the library's own generators and reused by every later run;
building it is a preparation step outside every timed figure. Its
manifest records per-table row counts and a content hash (the
fingerprint) and the file listing that each run's set-up verifies.

The LLM corpus is generated by this module from the run's seed, in the
library's fixture schema, with near-duplicates planted at known ids, so
the dedup operators can be held to recall floors.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One scale serves both phases of tpc_pipeline: its queries read this
# fixture, and its conversion must reproduce the fixture's content
# through text and Parquet.
TPC_SF = 0.01

# LLM corpus size and planted structure (the same strides as the
# library's corpus generators, so bench.py's recall floors carry over).
N_DOCS = 4_000
N_VECS = 4_000
DIM = 64
NEAR_DUP_STRIDE = 7      # doc i (i % 7 == 0) = doc i-1 + one word
EXACT_DUP_STRIDE = 14    # doc i (i % 14 == 3) = doc i-1, re-cased and padded
VEC_DUP_STRIDE = 70      # vec i (i % 70 == 0) = vec i-10 + noise <= 0.01


def content_hash(con, path: str) -> tuple[int, str]:
    """(rows, order-independent hash of every row) of a Parquet dataset."""
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash(t)), 0) "
        f"FROM read_parquet('{path}/*.parquet') t"
    ).fetchone()
    return int(n), str(h)


def listing(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``
    (symlinks are part of the layout, not data, and are skipped)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def fingerprint(tables: dict[str, dict]) -> str:
    blob = json.dumps(tables, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


@contextmanager
def _locked(path: str):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


class TpcFixture:
    """TPC-H (``tpch/<t>``, plus ``<t>.parquet`` links for the
    fixture-form queries) and TPC-DS (``tpcds/<t>``) at ``TPC_SF``."""

    def __init__(self, work: str) -> None:
        self.root = os.path.join(work, "fixtures", f"tpc-sf{TPC_SF}")
        self.tpch = os.path.join(self.root, "tpch")
        self.tpcds = os.path.join(self.root, "tpcds")
        self.manifest_path = os.path.join(self.root, "manifest.json")
        self.oracle_path = os.path.join(self.root, "oracle.json")

    def ready(self, oracle_ops: list[str]) -> bool:
        """Whether the tables and the answers of ``oracle_ops`` exist."""
        if not os.path.exists(self.manifest_path):
            return False
        with open(self.oracle_path) as f:
            return set(oracle_ops) <= set(json.load(f)["answers"])

    def build(self, spark, partitions: int, oracle_ops: list[str]) -> None:
        """Generate the tables, write the manifest and the DuckDB answers
        of ``oracle_ops``. Safe against a concurrent or interrupted
        build: it runs under a lock and the manifest is written last."""
        import duckdb

        from tpctools_spark.generate import build_table
        from tpctools_spark.generate_tpcds import build_tpcds_table
        from tpctools_spark.schemas import TPCH_TABLE_NAMES
        from tpctools_spark.schemas_tpcds import TPCDS_TABLE_NAMES

        with _locked(self.root + ".lock"):
            if self.ready(oracle_ops):
                return
            shutil.rmtree(self.root, ignore_errors=True)
            for name in TPCH_TABLE_NAMES:
                build_table(spark, name, TPC_SF, partitions).write.parquet(
                    os.path.join(self.tpch, name)
                )
                os.symlink(name, os.path.join(self.tpch, f"{name}.parquet"))
            for name in TPCDS_TABLE_NAMES:
                build_tpcds_table(spark, name, TPC_SF, partitions).write.parquet(
                    os.path.join(self.tpcds, name)
                )
            con = duckdb.connect()
            tables = {}
            for bench, d, names in (
                ("tpch", self.tpch, TPCH_TABLE_NAMES),
                ("tpcds", self.tpcds, TPCDS_TABLE_NAMES),
            ):
                for name in names:
                    rows, h = content_hash(con, os.path.join(d, name))
                    tables[f"{bench}/{name}"] = {"rows": rows, "hash": h}
            manifest = {
                "scale": TPC_SF,
                "tables": tables,
                "fingerprint": fingerprint(tables),
                "files": listing(self.root),
            }
            answers = oracle_answers(con, self, oracle_ops)
            with open(self.oracle_path, "w") as f:
                json.dump({"fingerprint": manifest["fingerprint"], "answers": answers}, f)
            with open(self.manifest_path, "w") as f:
                json.dump(manifest, f)

    def manifest(self) -> dict:
        with open(self.manifest_path) as f:
            return json.load(f)

    def verify(self) -> dict:
        """Check the files on disk against the manifest; return it."""
        manifest = self.manifest()
        found = listing(self.root)
        found.pop("manifest.json", None)
        found.pop("oracle.json", None)
        if found != manifest["files"]:
            raise RuntimeError(
                f"fixture {self.root} differs from its manifest; delete the "
                "directory to rebuild it"
            )
        return manifest

    def answers(self, fp: str) -> dict:
        with open(self.oracle_path) as f:
            data = json.load(f)
        if data["fingerprint"] != fp:
            raise RuntimeError("oracle answers belong to another fixture")
        return data["answers"]


def _normalize():
    """``normalize`` of scripts/check_oracle.py, the repository's oracle
    comparison, loaded without keeping that script's path changes."""
    import importlib.util
    import sys

    path = os.path.join(os.getcwd(), "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.normalize


def oracle_answers(con, fx: TpcFixture, ops: list[str]) -> dict:
    """DuckDB answers of ``ops`` over the fixture, normalized. The
    oracle SQL reads the spec-form tables from the generators' default
    directories; those paths are rewritten to the fixture's."""
    from tpctools_spark.queries import tpcds_demo, tpch_generated
    from tpctools_spark.registry import ORACLES
    from tpctools_spark.schemas import TPCH_TABLE_NAMES

    normalize = _normalize()
    for name in TPCH_TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{fx.tpch}/{name}/*.parquet')"
        )
    out = {}
    for op in ops:
        sql = ORACLES[op].replace(tpch_generated._GEN_DIR, fx.tpch).replace(
            tpcds_demo._GEN_DIR, fx.tpcds
        )
        rel = con.sql(sql)
        cols = rel.columns
        pdf = rel.arrow().to_pandas()
        rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        out[op] = {"columns": sorted(cols), "rows": normalize(rows, cols)}
    return out


class Corpus:
    """documents and embeddings in the library's fixture schema, made
    from ``seed``, with the planted answers: ``near_dup_pairs`` (doc
    ids), ``vec_pairs`` (vector ids), and ``texts``/``vecs`` for the
    exact checks."""

    def __init__(self, root: str, seed: int, parts: int) -> None:
        self.root, self.seed, self.parts = root, seed, parts
        rng = np.random.default_rng(seed)
        vocab = [f"w{i}" for i in range(max(1_000, N_DOCS // 5))]
        lens = rng.integers(20, 80, size=N_DOCS)
        words = rng.integers(0, len(vocab), size=int(lens.sum())).tolist()
        ends = np.cumsum(lens).tolist()
        texts, start = [], 0
        for end in ends:
            texts.append(" ".join(vocab[w] for w in words[start:end]))
            start = end
        for i in range(3, N_DOCS, EXACT_DUP_STRIDE):
            texts[i] = "  " + texts[i - 1].upper() + " "
        markers = rng.integers(0, len(vocab), size=N_DOCS)
        for i in range(NEAR_DUP_STRIDE, N_DOCS, NEAR_DUP_STRIDE):
            texts[i] = texts[i - 1] + " " + vocab[markers[i]]
        self.texts = texts
        self.near_dup_pairs = {
            (i - 1, i) for i in range(NEAR_DUP_STRIDE, N_DOCS, NEAR_DUP_STRIDE)
        }

        vecs = np.round(rng.uniform(-0.5, 0.5, size=(N_VECS, DIM)), 3)
        for i in range(VEC_DUP_STRIDE, N_VECS, VEC_DUP_STRIDE):
            vecs[i] = vecs[i - 10] + rng.integers(-10, 11, size=DIM) / 1000.0
        self.vecs = vecs.astype(np.float32)
        self.vec_pairs = {
            (i - 10, i) for i in range(VEC_DUP_STRIDE, N_VECS, VEC_DUP_STRIDE)
        }
        self.langs = rng.choice(["en", "de", "fr", "es"], size=N_DOCS)

    @property
    def rows(self) -> int:
        return N_DOCS + N_VECS

    def write(self) -> dict:
        """Write both tables as ``parts`` files each; return the tables'
        row counts and content hashes."""
        shutil.rmtree(self.root, ignore_errors=True)
        ids = np.arange(N_DOCS, dtype=np.int64)
        docs = pa.table({
            "doc_id": ids,
            "text": pa.array(self.texts, pa.string()),
            "lang": pa.array(self.langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in self.texts], pa.int64()),
        })
        flat = pa.array(self.vecs.reshape(-1), pa.float32())
        offsets = pa.array(np.arange(0, N_VECS * DIM + 1, DIM, dtype=np.int32))
        embs = pa.table({
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(np.arange(N_VECS) % 10, pa.int32()),
        })
        tables = {}
        for name, table in (("documents", docs), ("embeddings", embs)):
            d = os.path.join(self.root, f"{name}.parquet")
            os.makedirs(d)
            digest = hashlib.sha256()
            step = -(-table.num_rows // self.parts)
            for k in range(self.parts):
                part = table.slice(k * step, step)
                path = os.path.join(d, f"part-{k:05d}.parquet")
                pq.write_table(part, path, compression="snappy")
                with open(path, "rb") as f:
                    digest.update(f.read())
            tables[name] = {"rows": table.num_rows, "hash": digest.hexdigest()[:16]}
        self.files = listing(self.root)
        return tables

    def verify(self) -> None:
        if listing(self.root) != self.files:
            raise RuntimeError(f"corpus {self.root} changed after it was written")
