"""Restart recovery of the streaming queries.

Each test stops or crashes a query mid-drain, restarts it from the same
checkpoint, and checks the result against the batch answer.
foreachBatch is at-least-once, so the in-flight batch replays on
restart; the foreachBatch tests run the library's committer
(``streaming_demo._commit_batches``), and the crash-injected ones
assert row-count equality so a double-counted replay fails.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from tpctools_spark.catalog import read_table, table
from tpctools_spark.queries.streaming_demo import (
    _commit_batches,
    _committed,
    _drain,
    _file_batches,
    _merge_view,
    _read_batches,
)

SF = "/root/testdata/sf0.001"
N_FILES = 12


def test_committed_orders_batches_by_id(tmp_path):
    """Batch dirs sort by number (``batch-10`` after ``batch-2``), and
    uncommitted ``tmp-*`` dirs and the checkpoint are skipped."""
    for d in ("batch-2", "batch-10", "tmp-11", "ckpt"):
        (tmp_path / d).mkdir()
    assert _committed(str(tmp_path)) == [
        str(tmp_path / "batch-2"),
        str(tmp_path / "batch-10"),
    ]


def test_foreach_batch_view_survives_mid_drain_restart(spark, tmp_path):
    """Stop the merge view mid-drain, resume it from the same
    checkpoint, and check the newest committed generation against the
    batch aggregate. 12 one-file batches, so batch ids pass 9 and the
    newest generation is only found by numeric order."""
    ev = table(spark, SF, "events").select("event_id", "ts", "event_type", "value")
    landing = str(tmp_path / "landing")
    ev.repartition(N_FILES).write.parquet(landing)
    want = {
        r.event_type: (r.n, r.v)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("v"),
        )
        .collect()
    }

    out = str(tmp_path / "view")
    stream = _file_batches(spark, ev.schema, landing).withWatermark(
        "ts", "10 minutes"
    )
    fn = _commit_batches(out, _merge_view(out))
    ckpt = os.path.join(out, "ckpt")
    _stop_mid_drain(_drain(stream, fn, ckpt, "append"))
    _drain(stream, fn, ckpt, "append").awaitTermination()

    got = {
        r.event_type: (r.n_events, r.value_dec)
        for r in read_table(spark, _committed(out)[-1]).collect()
    }
    assert got == want


def _cdc_agg(stream):
    """The stream_cdc_compact aggregation applied to an arbitrary
    event stream (same expressions as the registered query)."""
    last = F.expr(
        "max_by(struct(event_id, event_type, value, unix_micros(ts) AS ts_us),"
        " struct(ts, event_id))"
    )
    return (
        stream.groupBy("user_id")
        .agg(
            last.alias("last"),
            F.count(F.lit(1)).cast("bigint").alias("n_ops"),
        )
        .filter(F.col("last.event_type") != "error")
        .select(
            "user_id",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_op"),
            F.col("last.value").alias("last_value"),
            F.col("last.ts_us").alias("last_ts_us"),
            "n_ops",
        )
    )


def _stop_mid_drain(q, deadline_s: float = 120.0) -> None:
    """Stop a running stream as soon as at least one micro-batch has
    committed (recentProgress non-empty)."""
    deadline = time.monotonic() + deadline_s
    while time.monotonic() < deadline:
        if q.recentProgress:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    assert q.recentProgress, "no batch committed before the kill"


def test_cdc_compact_resumes_from_checkpoint(spark, tmp_path):
    """stream_cdc_compact's aggregation is stateful (per-key max_by);
    killing the query mid-drain and restarting from the SAME
    checkpoint must restore the state store and converge the snapshot
    to the batch answer — the durability contract a CDC compactor
    actually relies on."""
    from pyspark.sql import Window

    ev = table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    landing = str(tmp_path / "cdc_landing")
    ev.repartition(N_FILES).write.parquet(landing)
    ckpt = str(tmp_path / "cdc_ckpt")

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_ops", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    want = {
        (r.user_id, r.event_id, r.event_type, r.value, int(r.n_ops))
        for r in ranked.filter(
            (F.col("rn") == 1) & (F.col("event_type") != "error")
        ).collect()
    }

    def start(name: str):
        return (
            _cdc_agg(_file_batches(spark, ev.schema, landing))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start("cdc_rec_run1")
    _stop_mid_drain(q)

    q2 = start("cdc_rec_run2")
    q2.awaitTermination()
    got = {
        (r.user_id, r.last_event_id, r.last_op, r.last_value, int(r.n_ops))
        for r in spark.table("cdc_rec_run2").collect()
    }
    assert got == want


def test_python_datasource_stream_resumes_from_checkpoint(spark, tmp_path):
    """The custom Python streaming source's offset contract under
    interrupted-drain recovery: with advanceperpoll=1 each availableNow
    run consumes exactly one more micro-batch, so stopping after 3 of
    10 batches and restarting from the same checkpoint must resume
    from the COMMITTED offset (the restarted reader re-learns its
    position from Spark's commit/partitions callbacks, never from
    initialOffset) and converge the aggregate to the full feed."""
    from tpctools_spark.sources import SensorStreamSource

    try:
        spark.dataSource.register(SensorStreamSource)
    except Exception:  # noqa: BLE001 — already registered
        pass

    want: dict[int, tuple[int, float]] = {}
    for rid in range(1000):
        h = (rid * 654435747) % 1000000007
        sid = h % 16
        n, tot = want.get(sid, (0, 0.0))
        want[sid] = (n + 1, tot + (h % 10000) / 100.0)
    want_set = {(s, n, round(t, 2)) for s, (n, t) in want.items()}

    ckpt = str(tmp_path / "sensor_ckpt")

    def drain_once(name: str):
        feed = (
            spark.readStream.format("sensor_feed_stream")
            .option("rowsperbatch", "100")
            .option("batches", "10")
            .option("sensors", "16")
            .option("advanceperpoll", "1")
            .load()
        )
        agg = feed.groupBy("sensor_id").agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.round(
                F.sum(F.col("reading").cast("decimal(12,2)")).cast("double"),
                2,
            ).alias("total_reading"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(r.n_readings for r in spark.table(name).collect())

    # Interrupted drain: 3 one-batch runs, then "crash" (stop running).
    seen = 0
    for i in range(3):
        seen = drain_once(f"sensor_rec_a{i}")
    assert seen == 300, seen  # 3 of 10 batches — mid-feed by design

    # Resume from the same checkpoint until the feed is exhausted; the
    # cap is loud: >7 more runs means offsets regressed or stalled.
    for i in range(7):
        seen = drain_once(f"sensor_rec_b{i}")
        if seen == 1000:
            break
    assert seen == 1000, seen

    got = {
        (r.sensor_id, r.n_readings, r.total_reading)
        for r in spark.table(f"sensor_rec_b{i}").collect()
    }
    assert got == want_set


def test_jsonl_sink_exactly_once_under_task_retry(tmp_path):
    """Kill-and-retry proof for the custom write path: the FIRST
    attempt of one write task stages a partial file and crashes; the
    retry succeeds. After commit the directory must hold exactly one
    copy of every row — no duplicates, no partial-file rows, no staged
    garbage. Runs in a subprocess because task retries need a
    ``local[2,2]`` master (the shared test session is local[4] =
    maxFailures 1) and a SparkContext is a process singleton."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import json, os, sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        from tpctools_spark.sources import JsonDirSinkSource, JsonDirWriter

        out = sys.argv[1]
        marker = sys.argv[2]

        class FaultyWriter(JsonDirWriter):
            def write(self, iterator):
                rows = list(iterator)
                ids = [r[0] for r in rows]
                if ids and min(ids) == 0 and not os.path.exists(marker):
                    # First attempt of the partition holding id 0:
                    # stage a PARTIAL file (the mid-write crash
                    # residue a retry must not expose), then die.
                    os.makedirs(self._staging(), exist_ok=True)
                    part = os.path.join(self._staging(), "attempt-dead.jsonl")
                    with open(part, "w", encoding="utf-8") as fh:
                        for r in rows[: len(rows) // 2]:
                            fh.write(
                                json.dumps(dict(zip(self._cols, tuple(r))))
                                + "\\n"
                            )
                    open(marker, "w").close()
                    raise RuntimeError("planted first-attempt failure")
                return super().write(iter(rows))

        class FaultySink(JsonDirSinkSource):
            @classmethod
            def name(cls):
                return "jsonl_dir_faulty"

            def writer(self, schema, overwrite):
                return FaultyWriter(self.options, schema)

        spark = (
            SparkSession.builder.master("local[2,2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.dataSource.register(FaultySink)
        df = spark.range(0, 1000, 1, 4).selectExpr(
            "id AS event_id", "id % 7 AS user_id"
        )
        df.write.format("jsonl_dir_faulty").option("path", out).mode(
            "append"
        ).save()
        back = spark.read.schema("event_id BIGINT, user_id BIGINT").json(out)
        rows = back.collect()
        got = sorted(r.event_id for r in rows)
        assert os.path.exists(marker), "fault was never planted"
        assert len(rows) == 1000, f"row count {len(rows)} != 1000"
        assert got == list(range(1000)), "duplicate or missing ids"
        assert not os.path.exists(os.path.join(out, "_staging")), (
            "staged garbage survived commit"
        )
        print("EXACTLY_ONCE_OK")
        spark.stop()
        """
    )
    out = str(tmp_path / "sink")
    marker = str(tmp_path / "killed_once")
    proc = subprocess.run(
        [sys.executable, "-c", script, out, marker],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "EXACTLY_ONCE_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )


def test_stream_reader_offset_monotone_under_hostile_restart_order():
    """The sources.py offset-clamp contract, pinned as
    a pure protocol test — no Spark session needed.

    An incremental ``SensorStreamReader`` re-learns its position from
    the commit/partitions callbacks Spark replays on restart. The
    hazard: a Spark version that polls latestOffset on a FRESH reader
    BEFORE replaying those callbacks would see ``_seen == 0`` and
    could hand out an offset BELOW the checkpointed start. The reader
    floors ``_seen`` from partitions' START offset (not just
    end/commit), so the first planned range re-floors it and every
    later poll is monotone and ≥ the checkpointed position.
    """
    from tpctools_spark.sources import SensorStreamReader

    opts = {"rowsperbatch": "10", "batches": "20", "advanceperpoll": "2"}

    # Incarnation 1: normal protocol up to a committed offset of 4.
    r1 = SensorStreamReader(dict(opts))
    assert r1.initialOffset() == {"batch": 0}
    assert r1.latestOffset() == {"batch": 2}
    parts = r1.partitions({"batch": 0}, {"batch": 2})
    assert [p.value for p in parts] == [(0, 1), (1, 2)]
    r1.commit({"batch": 2})
    assert r1.latestOffset() == {"batch": 4}
    r1.partitions({"batch": 2}, {"batch": 4})
    r1.commit({"batch": 4})

    # Incarnation 2 (restart): HOSTILE order — latestOffset polled
    # before any callback replay. The fresh reader knows nothing yet,
    # so the poll may expose less than the checkpoint (2 here), but it
    # must never make Spark go backwards: Spark plans from ITS
    # checkpointed start, and that plan call re-floors the reader.
    r2 = SensorStreamReader(dict(opts))
    early = r2.latestOffset()["batch"]
    assert early == 2  # below checkpoint: harmless, Spark ignores it
    # Spark replays the checkpointed range (start=4) before reading on.
    r2.partitions({"batch": 4}, {"batch": 4})
    assert r2.latestOffset()["batch"] == 6  # re-floored: 4 + advance
    # Monotone from here on, interleaved with commits.
    seen = 0
    for _ in range(12):
        nxt = r2.latestOffset()["batch"]
        assert nxt >= seen, f"latestOffset regressed {seen} -> {nxt}"
        r2.partitions({"batch": seen}, {"batch": nxt})
        r2.commit({"batch": nxt})
        seen = nxt
    # Capped at the feed size, never beyond.
    assert seen <= 20
    r3 = SensorStreamReader(dict(opts))
    r3.partitions({"batch": 20}, {"batch": 20})
    assert r3.latestOffset()["batch"] == 20


def test_dsir_router_resumes_from_checkpoint(spark, tmp_path):
    """Crash the DSIR ingest router between a batch's commit and its
    offset commit, restart from the same checkpoint, and check the
    routed output against the same scoring of all documents at once.

    The crash is injected, not raced: a plain stop() mid-drain rarely
    opens this window, because the offset commit usually wins. The
    first run's committer raises after its first batch has committed,
    so that batch's offset never commits and the restart replays it.
    """
    from tpctools_spark.queries.pipeline import _dsir_hashed, _dsir_lam
    from tpctools_spark.queries.streaming_demo import _dsir_score

    docs = table(spark, SF, "documents").select("doc_id", "text", "lang")
    is_in = F.col("doc_id") % 7 == 0
    lam = _dsir_lam(_dsir_hashed(docs.filter(~is_in))).cache()
    lam.count()
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs.filter(is_in).repartitionByRange(8, "doc_id").write.parquet(in_dir)

    build = _dsir_score(lam)
    want_rows = build(docs.filter(is_in)).collect()
    _drive_with_crash(
        _file_batches(spark, docs.schema, in_dir), out_dir, build, tmp_path,
        "append",
    )
    got_rows = _read_batches(spark, out_dir).collect()
    lam.unpersist()
    _assert_same_rows(got_rows, want_rows)


def test_incremental_dedup_resumes_from_checkpoint(spark, tmp_path):
    """The admission stream's twin of the DSIR-router recovery test:
    decisions depend only on (document, standing index), so the drained
    output must equal the same build over all incoming documents at
    once, row for row. The probe caches nothing, so the run leaves the
    shared session's persisted blocks as it found them."""
    from tpctools_spark.generate_corpus import gen_documents
    from tpctools_spark.queries.dedup import _admission_probe

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    docs = gen_documents(spark, 500)
    is_batch = (F.col("doc_id") % 7 == 0) & (F.col("doc_id") > 0)
    incoming = docs.filter(is_batch)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    incoming.repartitionByRange(8, "doc_id").write.parquet(in_dir)

    _, build = _admission_probe(docs.filter(~is_batch))
    want_rows = build(incoming).collect()
    _drive_with_crash(
        _file_batches(spark, docs.schema, in_dir), out_dir, build, tmp_path,
        "append",
    )
    _assert_same_rows(_read_batches(spark, out_dir).collect(), want_rows)
    assert jsc.getPersistentRDDs().size() == before


def test_incremental_dedup_releases_its_index(spark):
    """The admission stream caches its standing index for the drain;
    the returned plan reads only committed output, so no cached block
    outlives the call in the caller's session."""
    from tpctools_spark.queries.streaming_demo import stream_incremental_dedup

    # An identical plan cached earlier in the session would turn the
    # call's cache() into a no-op and hide a leak.
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    stream_incremental_dedup(spark, SF)
    assert jsc.getPersistentRDDs().size() == before


def _stage_ts_ordered_chunks(df, in_dir: str, n: int = 8) -> None:
    """Write *df* as *n* ascending-ts range-partitioned files and stamp
    strictly increasing mtimes so FileStreamSource (which orders by
    modification time) delivers them oldest-ts-first. Time-ordered
    arrival means no event is ever behind the watermark, so the drained
    streaming result must equal the one-shot batch answer exactly."""
    import glob

    df.repartitionByRange(n, "ts").write.parquet(in_dir)
    parts = sorted(glob.glob(os.path.join(in_dir, "part-*")))
    assert len(parts) >= 2, "need multiple files for multiple batches"
    base = time.time() - 3600
    for i, p in enumerate(parts):
        os.utime(p, (base + i * 10, base + i * 10))


def _crash_once_after(fn, out: str, marker: str):
    """*fn*, crashing once: after the first batch whose commit under
    *out* holds rows, so its replay could double-count them."""

    def faulty(bdf, batch_id):
        fn(bdf, batch_id)  # the batch commits...
        done = os.path.join(out, f"batch-{batch_id}")
        if os.path.exists(marker) or read_table(bdf.sparkSession, done).isEmpty():
            return
        with open(marker, "w") as f:
            f.write("x")
        # ...then the "process dies" before the offset commit.
        raise RuntimeError("injected crash after write, before commit")

    return faulty


def _drive_with_crash(stream, out, build, tmp_path, mode):
    """Drain *stream* through ``_commit_batches(out, build)`` with a
    crash injected after the first batch that commits rows, assert the
    crash surfaced, then restart from the SAME checkpoint without the
    fault and drain to completion."""
    import pyspark.errors

    fn = _commit_batches(out, build)
    ckpt = str(tmp_path / "ckpt")
    marker = str(tmp_path / "crashed_once")
    q = _drain(stream, _crash_once_after(fn, out, marker), ckpt, mode)
    try:
        q.awaitTermination()
        raise AssertionError("injected crash did not surface")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    assert os.path.exists(marker), "fault was never injected"
    _drain(stream, fn, ckpt, mode).awaitTermination()


def _assert_same_rows(got_rows, want_rows):
    """Row-count equality as well as set equality: a replay that
    duplicates rows would still pass a set compare."""
    assert len(got_rows) == len(want_rows), (
        f"{len(got_rows)} rows for {len(want_rows)} — replayed batch "
        "double-counted or lost"
    )
    assert {tuple(r) for r in got_rows} == {tuple(r) for r in want_rows}


def test_stream_stream_join_resumes_from_checkpoint(spark, tmp_path):
    """Crash the purchase×click stream-stream join between a batch's
    commit and its offset commit, restart from the checkpoint, and
    check the union of committed batches against the one-shot batch
    join — the dual-watermark join state must replay the in-flight
    batch without duplicating its matches."""
    from tpctools_spark.queries.streaming_demo import _purchase_click_join

    ev = table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _stage_ts_ordered_chunks(ev, in_dir)

    want_rows = _purchase_click_join(ev).collect()
    assert want_rows, "fixture yields no purchase-click matches"
    _drive_with_crash(
        _purchase_click_join(_file_batches(spark, ev.schema, in_dir)),
        out_dir, lambda bdf: bdf, tmp_path, "append",
    )
    _assert_same_rows(_read_batches(spark, out_dir).collect(), want_rows)


def test_session_window_resumes_from_checkpoint(spark, tmp_path):
    """The session-window twin: crash mid-drain, restart from the
    checkpoint, and check the newest complete-mode commit against the
    batch sessionization — the session-MERGE state (sessions spanning
    micro-batch boundaries get merged in the store) must survive the
    replay."""
    from tpctools_spark.queries.streaming_demo import _session_window_agg

    ev = table(spark, SF, "events").select("user_id", "ts")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _stage_ts_ordered_chunks(ev, in_dir)

    want_rows = _session_window_agg(ev).collect()
    assert want_rows, "fixture yields no sessions"
    _drive_with_crash(
        _session_window_agg(_file_batches(spark, ev.schema, in_dir)),
        out_dir, lambda bdf: bdf, tmp_path, "complete",
    )
    got_rows = read_table(spark, _committed(out_dir)[-1]).collect()
    _assert_same_rows(got_rows, want_rows)
