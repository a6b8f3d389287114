"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload tpc_pipeline --seed 1 --seconds 30 --trace 0

Workloads: ``tpc_pipeline`` (generate TPC-H/TPC-DS text and convert it
to Parquet, checked against the spec row counts and the fixture's
content, then run TPC-H and TPC-DS queries, checked against the DuckDB
oracles) and ``llm_dedup`` (dedup/similarity operators over a corpus
made from the seed, checked against planted recall floors). The session runs on
``local[N]`` with N = the CPUs this process may use.

The run sets up (JVM, session, fixture verification) several times and
reports the median as ``setup_s``, then times whole passes of the
workload's operations, starting another pass only while it should end
within ``--seconds``; at least one pass. With ``--trace 1`` the last
session writes a Spark event log and the run reports per-layer metrics
instead of the end-to-end ones. The last line of standard output is one JSON object;
the full record, with the fixture fingerprint and host load, goes to
``.perfbench_work/results/``. The exit code is 1 when an output check
failed and 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "cpu_s": "s", "stored_bytes_per_row": "B/row",
}


def _process_start() -> float:
    """Epoch time at which this process started."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def _host() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024,
            "driver_mem": f"{mem_kb // 1024 // 4}m"}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class Context:
    """What one run shares between set-up, the workload and teardown."""

    def __init__(self, args, host) -> None:
        from perfbench.fixtures import TpcFixture

        self.args, self.cpus = args, host["cpus"]
        self.tmp = os.path.join(WORK, "tmp")
        self.run_dir = os.path.join(
            WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        self.eventlog = os.path.join(self.run_dir, "eventlog")
        self.tpc = TpcFixture(WORK)
        self.spark = self.corpus = self.manifest = None
        self._duck = None
        for d in (self.tmp, self.eventlog):
            os.makedirs(d, exist_ok=True)
        pypath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(host["cpus"]),
            "SPARK_GRAFT_DRIVER_MEM": host["driver_mem"],
            "PYTHONPATH": pypath,
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": self.tmp,
            "TPCTOOLS_TPCH_DIR": self.tpc.tpch,
            "TPCTOOLS_TPCDS_DIR": self.tpc.tpcds,
        })
        self.conf = {
            "spark.executorEnv.PYTHONPATH": pypath,
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }

    @property
    def duck(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
        return self._duck

    def start(self, traced: bool = False) -> float:
        """Start a session; return the seconds ``get_spark`` took."""
        from tpctools_spark.session import get_spark

        conf = dict(self.conf)
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
            })
        t0 = time.time()
        self.spark = get_spark("perfbench", extra_conf=conf)
        return time.time() - t0

    def stop(self, jvm: bool) -> None:
        """Stop the session; with ``jvm`` also end the JVM and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if jvm and gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def verify(self) -> None:
        if self.args.workload == "llm_dedup":
            self.corpus.verify()
        self.manifest = self.tpc.verify()


def _reap(tree) -> None:
    """End any process this run left behind and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = tree.descendants()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while pids and time.time() < deadline:
            time.sleep(0.1)
            pids = tree.descendants()
        if not pids:
            return


def _untraced_wall(args, key: str) -> float:
    """Median untraced ``wall_s`` of this workload and input, from the
    records of earlier runs, or from an untraced run of the same seed
    made now when there is none."""
    walls = []
    results = os.path.join(WORK, "results")
    for name in sorted(os.listdir(results)) if os.path.isdir(results) else ():
        with open(os.path.join(results, name)) as f:
            rec = json.load(f)
        if rec["workload"] == args.workload and not rec["trace"] and rec["input_key"] == key:
            walls.append(rec["metrics"]["wall_s"]["value"])
    if not walls:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=150, check=False,
        )
        walls.append(json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"])
    return statistics.median(walls)


def run(args) -> int:
    """Measure one run; whatever happens, stop the JVM, end every process
    the run started and remove its run directory."""
    from perfbench.procstat import ProcTree

    t_proc = _process_start()
    host = _host()
    ctx = Context(args, host)
    tree = ProcTree()
    try:
        return _measure(args, ctx, tree, t_proc, host)
    finally:
        try:
            ctx.stop(jvm=True)
        finally:
            _reap(tree)
            shutil.rmtree(ctx.run_dir, ignore_errors=True)


def _measure(args, ctx, tree, t_proc, host) -> int:
    from perfbench import workloads
    from perfbench.fixtures import DIM, N_DOCS, N_VECS, Corpus, fingerprint
    from perfbench.procstat import PeakRss

    load_start = _loadavg()
    prep_s = 0.0
    oracle_ops = workloads.TPCH_QUERIES + workloads.TPCDS_QUERIES
    if not ctx.tpc.ready(oracle_ops):
        t0 = time.time()
        ctx.start()
        ctx.tpc.build(ctx.spark, ctx.cpus, oracle_ops)
        ctx.stop(jvm=True)
        prep_s += time.time() - t0
    corpus_tables = None
    if args.workload == "llm_dedup":
        t0 = time.time()
        ctx.corpus = Corpus(os.path.join(ctx.run_dir, "corpus"), args.seed, ctx.cpus)
        corpus_tables = ctx.corpus.write()
        prep_s += time.time() - t0

    setups, session_s = [], []
    for k in range(SETUPS):
        if k:
            ctx.stop(jvm=False)
        t0 = time.time()
        session_s.append(ctx.start(traced=bool(args.trace) and k == SETUPS - 1))
        ctx.verify()
        setups.append(time.time() - (t_proc + prep_s if k == 0 else t0))

    wl = workloads.WORKLOADS[args.workload](ctx)
    passes: list[list] = []
    t_begin = time.time()
    with PeakRss(tree) as rss:
        while not passes or time.time() - t_begin + sum(
            r.wall_s for r in passes[-1]
        ) <= args.seconds:
            if hasattr(wl, "begin_pass"):
                wl.begin_pass()
            passes.append([wl.run_op(op, tree) for op in wl.ops()])
    ctx.stop(jvm=True)  # also completes the event log

    ops = [r for p in passes for r in p]
    failed = [r for r in ops if not r.ok]
    wall_s = statistics.median(sum(r.wall_s for r in p) for p in passes)
    # generate and convert report one timing per table: those are their samples
    samples = [t for r in ops for t in (r.tables.values() if r.tables else [r.wall_s])]
    if args.workload == "llm_dedup":
        fp_tables, input_key = corpus_tables, f"corpus-{N_DOCS}x{N_VECS}x{DIM}"
    else:
        fp_tables, input_key = ctx.manifest["tables"], ctx.manifest["fingerprint"]
    if args.trace:
        metrics = _layers(ctx, wl, passes, setups, session_s, rss.peak)
        metrics["trace.overhead_s"] = wall_s - _untraced_wall(args, input_key)
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "wall_s": wall_s,
            "rows_per_s": wl.input_rows / wall_s,
            "op_p50_s": statistics.median(samples),
            "cpu_s": statistics.median(sum(r.cpu_s for r in p) for p in passes),
            "stored_bytes_per_row": wl.stored_bytes / wl.input_rows,
        }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "passes": len(passes), "op_samples": len(samples),
        "host": host, "loadavg_start": load_start, "loadavg_end": _loadavg(),
        "input_key": input_key,
        "fingerprint": {"id": fingerprint(fp_tables), "tables": fp_tables},
        "failed_ops": [f"{r.name}: {r.detail}" for r in failed],
        "metrics": {
            k: {"value": v, "unit": END_TO_END.get(k) or LAYER_UNITS.get(k, "ratio")}
            for k, v in metrics.items()
        },
        "process_start": t_proc, "setups": setups, "session_s": session_s,
        "ops": [vars(r) | {"wall_s": r.wall_s} for r in ops],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", os.path.basename(ctx.run_dir) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for line in record["failed_ops"]:
        print(f"FAILED {line}", file=sys.stderr)
    summary = {k: record[k] for k in (
        "workload", "seed", "passes", "op_samples", "host", "loadavg_start",
        "loadavg_end", "failed_ops")}
    print("perfbench " + json.dumps(summary | {"fingerprint": record["fingerprint"]["id"]}))
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": record["metrics"],
    }))
    return 1 if failed else 0


LAYER_UNITS = {
    "session.start_s": "s", "setup.cold_s": "s", "trace.overhead_s": "s",
    "memory.peak_rss_mb": "MB",
    "generate.tpch_s": "s", "generate.tpcds_s": "s", "generate.rows_per_s": "rows/s",
    "convert.tpch_s": "s", "convert.tpcds_s": "s", "convert.rows_per_s": "rows/s",
    "queries.tpch.build_s": "s", "queries.tpch.exec_s": "s",
    "queries.tpcds.build_s": "s", "queries.tpcds.exec_s": "s",
    "queries.dedup.build_s": "s", "queries.dedup.exec_s": "s",
    "queries.similarity.build_s": "s", "queries.similarity.exec_s": "s",
    "io.records_read_per_result_row": "ratio", "fail_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.stages_retried": "count",
    "spark.driver_gap_s": "s", "spark.task_wait_s": "s", "spark.straggler_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "shuffle.bytes_written": "B", "shuffle.records_written": "count",
    "shuffle.fetch_wait_s": "s", "memory.spill_bytes": "B",
    "memory.peak_execution_bytes": "B", "io.bytes_read": "B", "io.records_read": "count",
    "io.bytes_written": "B", "io.records_written": "count", "result.bytes": "B",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "python.worker_start_s": "s", "python.worker_init_s": "s",
    "python.worker_run_s": "s", "python.init_per_run": "ratio",
}


def _layers(ctx, wl, passes, setups, session_s, peak_rss) -> dict:
    """Per-layer metrics of a traced run, per timed pass."""
    from perfbench import eventlog, workloads

    n = len(passes)
    ops = [r for p in passes for r in p]

    def span(layer: str, attr: str) -> float:
        return statistics.median(
            sum(getattr(r, attr) for r in p if r.layer == layer) for p in passes
        )

    m = {
        "session.start_s": statistics.median(session_s),
        "setup.cold_s": setups[0],
        "memory.peak_rss_mb": peak_rss / 2**20,
    }
    for layer in ("tpch", "tpcds", "dedup", "similarity"):
        m[f"queries.{layer}.build_s"] = span(layer, "build_s")
        m[f"queries.{layer}.exec_s"] = span(layer, "exec_s")
    for step in ("generate", "convert"):
        for b in ("tpch", "tpcds"):
            m[f"{step}.{b}_s"] = span(f"{step}.{b}", "exec_s")
        total = m[f"{step}.tpch_s"] + m[f"{step}.tpcds_s"]
        m[f"{step}.rows_per_s"] = wl.input_rows / total if total else 0.0
    windows = [(r.start, r.start + r.wall_s) for r in ops]
    for k, v in eventlog.fold(eventlog.read_events(ctx.eventlog), windows).items():
        # totals per pass; a peak and a ratio are not divided
        m[k] = v if k in ("memory.peak_execution_bytes", "python.init_per_run") else v / n
    result_rows = sum(r.result_rows for r in ops) / n
    m["io.records_read_per_result_row"] = (
        m["io.records_read"] / result_rows if result_rows else 0.0
    )
    recall = getattr(wl, "recall", {})
    for op in workloads.DEDUP_FLOORS:
        m[f"dedup.recall.{op}"] = recall.get(op, 0.0)
    m["fail_ratio"] = sum(not r.ok for r in ops) / len(ops)
    return m


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    # A terminated run still stops its JVM (run's finally clause).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("tpctools_spark") is None:
        print(
            f"perfbench: no tpctools_spark package under {ROOT}; run from the "
            "repository root", file=sys.stderr,
        )
        sys.exit(2)
    sys.exit(main())
