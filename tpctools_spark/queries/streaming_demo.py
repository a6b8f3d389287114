"""§2.B.8 — Structured Streaming demos (rows-only checks).

Each query runs a real Structured Streaming job over the events parquet
with ``Trigger.AvailableNow`` (drain everything, then stop), sinks to an
in-memory table, and returns that table as a batch DataFrame. The same
code with a live source and a different trigger is the production
stream — that symmetry is the point of Structured Streaming.

The three foreachBatch queries (``stream_foreach_batch_view``,
``stream_incremental_dedup``, ``stream_dsir_router``) instead commit
each micro-batch's output as a parquet dir through one committer,
``_commit_batches``, start through ``_drain`` and read their output back
typed from its footer.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpctools_spark.catalog import read_schema, read_table, table, typed_read
from tpctools_spark.queries.dedup import _admission_probe
from tpctools_spark.queries.mining import _PSI_ORACLE_SQL
from tpctools_spark.queries.scans import _scratch_dir
from tpctools_spark.queries._util import trunc_digits
from tpctools_spark.registry import query


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, typed like the batch reader
    (streaming sources never infer).

    The file source wants a directory, so the single parquet file is
    staged into a scratch dir (in production this is the landing
    directory new files arrive into).
    """
    stage = _scratch_dir("stream")  # pid-tagged: swept once its owner dies
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(stage, "part-0.parquet")
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return typed_read(spark.readStream, stage)


def _drain_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run the stream with availableNow into a memory sink; return the
    materialized result as a batch DataFrame."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique_events
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: drop duplicate event_ids within a 10-minute
    watermark — the bounded-state streaming dedup pattern. State per key
    expires once the watermark passes, so memory is bounded at any rate.

    Oracle: ``availableNow`` drains the whole backlog, so the streaming
    result equals the batch distinct count per type.
    """
    ev = _stream_events(spark, sf_dir)
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    counted = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_events")
    )
    return _drain_to_memory(counted, "complete")


@query(
    "stream_stateful_count",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful running aggregation: tumbling 1-hour event-time windows
    with a watermark, per event type — the canonical streaming agg.

    Oracle: with ``availableNow`` + complete mode the drained stream
    equals the batch tumbling-window aggregate.
    """
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )
    return _drain_to_memory(agg, "complete")


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             -- session_window range is [start, last + gap): an event at
             -- exactly last+gap starts a NEW session, hence >=
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows: 30-minute gap sessions per user via
    ``session_window`` — the native streaming twin of the batch
    gaps-and-islands query (eventtime.window_session).

    Oracle: the drained stream equals the batch gaps-and-islands
    sessionization (session start = first event of each island).
    Recovery: the session-merge state survives a mid-drain crash —
    injected-crash test in tests/test_streaming_recovery.py.
    """
    return _drain_to_memory(
        _session_window_agg(_stream_events(spark, sf_dir)), "complete"
    )


def _session_window_agg(ev: DataFrame) -> DataFrame:
    """The session-window transform, factored out so the
    checkpoint-recovery test (tests/test_streaming_recovery.py) can run
    the SAME plan over a chunked file source with an injected crash."""
    return (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@query(
    "stream_custom_state_gap",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(COALESCE(MAX(gap_us), 0) AS DOUBLE) / 1000000 AS max_gap_seconds
    FROM (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
      FROM events
    )
    GROUP BY user_id
    """,
)
def stream_custom_state_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per user, track event count and the maximum inter-event gap.

    This is the operator class Spark has no builtin for — arbitrary
    per-key state (here: last timestamp, running max gap) updated per
    micro-batch with Arrow-vectorized Python, bounded by group-state
    semantics. With a live source the same code maintains state across
    batches; ``availableNow`` drains the backlog in one pass.

    State is held in integer MICROSECONDS so gap arithmetic is exact —
    the emitted seconds value is a single division of the same integer
    the SQL oracle computes (bitwise-identical doubles, no rounding
    mode in play).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _stream_events(spark, sf_dir).select("user_id", "ts")

    out_schema = "user_id long, n_events long, max_gap_seconds double"
    state_schema = "last_ts_us long, n long, max_gap_us long"

    def track_gaps(key, pdfs, state: GroupState):
        last_us, n, max_gap_us = state.get if state.exists else (None, 0, 0)
        for pdf in pdfs:
            ts_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist()
            for t in sorted(ts_us):
                if last_us is not None:
                    max_gap_us = max(max_gap_us, t - last_us)
                last_us = t
                n += 1
        state.update((last_us, n, max_gap_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_gap_seconds": [max_gap_us / 1_000_000],
            }
        )

    tracked = ev.groupBy("user_id").applyInPandasWithState(
        track_gaps,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(tracked, "update")


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
           p.value AS purchase_value
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases matched to the same user's
    clicks within the preceding hour.

    Both sides are unbounded, so Spark buffers each in watermarked state
    and joins as rows arrive; the interval condition plus both
    watermarks bound the state (rows age out once no future match can
    satisfy the time range) — the canonical funnel/attribution shape.
    A time-range equi-join like this never devolves to nested-loop: the
    user_id equality keys the state store.
    Recovery: the dual-watermark join state survives a mid-drain crash —
    injected-crash test in tests/test_streaming_recovery.py.
    """
    return _drain_to_memory(
        _purchase_click_join(_stream_events(spark, sf_dir)), "append"
    )


def _purchase_click_join(ev: DataFrame) -> DataFrame:
    """The stream-stream join transform, factored out for the
    checkpoint-recovery test (same reason as ``_session_window_agg``)."""
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR
            """
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        "purchase_value",
    )
    return joined


def _drain(stream: DataFrame, fn, ckpt: str, output_mode: str):
    """Start draining *stream* (availableNow) through the foreachBatch
    function *fn*, checkpointed at *ckpt*; returns the query handle."""
    return (
        stream.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def _file_batches(spark: SparkSession, schema, in_dir: str) -> DataFrame:
    """File stream over *in_dir* that makes one micro-batch per file."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def _committed(out: str) -> list[str]:
    """The committed ``batch-<id>`` dirs under *out*, in batch-id
    order (numeric: ``batch-10`` follows ``batch-9``)."""
    ids = sorted(
        int(d[6:])
        for d in os.listdir(out)
        if d.startswith("batch-") and d[6:].isdigit()
    )
    return [os.path.join(out, f"batch-{i}") for i in ids]


def _commit_batches(out: str, build):
    """foreachBatch function committing ``build(batch)`` exactly once
    per batch id, as the parquet dir ``<out>/batch-<id>``.

    foreachBatch is at-least-once: a batch whose offset commit never
    landed runs again on restart. The output is written to ``tmp-<id>``
    and renamed to ``batch-<id>``, so a crash leaves either no commit or
    a whole one. A replayed id whose ``batch-<id>`` exists writes
    nothing, but is still drained through the ``noop`` sink: stateful
    operators upstream must re-commit their state for that id, or
    Spark fails the batch (``STATE_STORE_COMMIT_VALIDATION_FAILED``).
    """
    os.makedirs(out, exist_ok=True)

    def commit(bdf: DataFrame, batch_id: int) -> None:
        done = os.path.join(out, f"batch-{batch_id}")
        if os.path.exists(done):
            bdf.write.format("noop").mode("overwrite").save()
            return
        tmp = os.path.join(out, f"tmp-{batch_id}")
        build(bdf).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, done)

    return commit


def _read_batches(spark: SparkSession, out: str) -> DataFrame:
    """Every committed batch's output as one relation, typed by the
    first commit's footer (a commit always holds one part file, even
    for an empty batch)."""
    dirs = _committed(out)
    return spark.read.schema(read_schema(dirs[0])[0]).parquet(*dirs)


def _merge_view(out: str):
    """The merge view's per-batch build: the batch's (count, decimal
    sum) per event type, merged into the newest committed generation.

    Older generations are superseded, so they are deleted first; the
    newest stays until the next batch commits, so a crash never leaves
    the view without a committed generation.
    """

    def merge(bdf: DataFrame) -> DataFrame:
        part = bdf.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("value_dec"),
        )
        gens = _committed(out)
        for d in gens[:-1]:
            shutil.rmtree(d, ignore_errors=True)
        if not gens:
            return part
        return (
            read_table(bdf.sparkSession, gens[-1])
            .unionByName(part)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.sum("value_dec").cast("decimal(12,2)").alias("value_dec"),
            )
        )

    return merge


@query(
    "stream_foreach_batch_view",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreach_batch_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view through ``foreachBatch``: each
    micro-batch's partial (count, decimal sum) per event type is merged
    into a parquet-backed view by key — the canonical "stream keeps an
    aggregate table fresh" deployment, with the sink logic free to run
    arbitrary batch DataFrame code (MERGE, multi-table writes, ...).

    Counts and decimal sums are associative/commutative partials, so
    merge order cannot change the result — the final view equals the
    batch aggregate, which is exactly what the oracle checks. State
    lives in the sink table, not executor memory: per-batch work is
    O(batch + |view|), and at scale the read-merge-write becomes a
    key-partitioned MERGE on the same plan.

    Each merged generation commits through ``_commit_batches``, so a
    replayed batch id leaves the view as it was. Restart recovery is
    tested in ``tests/test_streaming_recovery.py``, which stops the
    query mid-drain and resumes it from the same checkpoint.
    """
    out = _scratch_dir("febview")  # pid-tagged: swept once its owner dies
    stream = _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    _drain(
        stream,
        _commit_batches(out, _merge_view(out)),
        os.path.join(out, "ckpt"),
        "append",
    ).awaitTermination()
    return read_table(spark, _committed(out)[-1]).select(
        "event_type",
        "n_events",
        F.round(F.col("value_dec").cast("double"), 2).alias("total_value"),
    )


@query(
    "stream_ohlc_bars",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           arg_min(value, (epoch_us(ts) % 900000000) * 8589934592
                          + (event_id % 8589934592)) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, (epoch_us(ts) % 900000000) * 8589934592
                          + (event_id % 8589934592)) AS close,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous OHLC aggregation: the streaming twin of
    ``events_downsample_ohlc`` — 15-minute bars maintained incrementally
    with a watermark.

    min_by/max_by are declarative aggregates, so the streaming state
    per open bar is four scalars + count, merged on every micro-batch —
    the continuous-aggregate pattern time-series stores call a rolling
    materialized view. The packed-long order key (see the batch twin)
    keeps tie-breaks deterministic, which makes the drained
    ``availableNow`` stream bit-equal to the batch SQL oracle.
    """
    ev = _stream_events(spark, sf_dir)
    okey = F.pmod(F.unix_micros(F.col("ts")), F.lit(900_000_000)) * F.lit(
        8589934592
    ) + F.pmod(F.col("event_id"), F.lit(8589934592))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.min_by("value", okey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", okey).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return _drain_to_memory(agg, "complete")


@query("stream_drift_psi", oracle=_PSI_ORACLE_SQL)
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitor: the streaming twin of
    ``quality_drift_psi``. The live half of the events (event_id
    parity stands in for post-deploy traffic) streams through a
    complete-mode per-(type, bin) count — the state Structured
    Streaming maintains incrementally forever — and each drain
    combines those counts with the static baseline histogram to score
    PSI per event_type. In production the combination step runs in
    ``foreachBatch`` on every trigger; here availableNow drains the
    stream and the same combination runs on the final counts, so the
    result equals the batch screen exactly.

    Oracle: shares ``quality_drift_psi``'s batch SQL — the streamed
    counts are the only stateful part and complete mode makes them
    equal the batch GROUP BY.
    """
    from tpctools_spark.queries.mining import _psi_bin, _psi_from_counts


    ev = _stream_events(spark, sf_dir)
    cur = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select("event_type", _psi_bin())
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    cur_counts = _drain_to_memory(cur, "complete")
    batch = table(spark, sf_dir, "events")
    base_counts = (
        batch.filter(F.col("event_id") % 2 == 0)
        .select("event_type", _psi_bin())
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    bc = base_counts.join(cur_counts, ["event_type", "bin"], "full_outer").fillna(
        0, ["cb", "cc"]
    )
    return _psi_from_counts(batch.select("event_type").distinct(), bc)



@query(
    "stream_heavy_hitters",
    oracle="""
    WITH h(i, a, b) AS (VALUES (0, 654435747, 283521),
                               (1, 308871487, 324024),
                               (2, 963307234, 364527)),
    sketch AS (
      SELECT h.i,
             ((e.user_id * h.a + h.b) % 1000000007) % 4096 AS bucket,
             COUNT(*) AS cnt
      FROM events e CROSS JOIN h
      GROUP BY 1, 2
    ),
    keys AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
    ),
    probe AS (
      SELECT k.user_id, MIN(s.cnt) AS est_count
      FROM keys k CROSS JOIN h
      JOIN sketch s
        ON s.i = h.i
       AND s.bucket = ((k.user_id * h.a + h.b) % 1000000007) % 4096
      GROUP BY 1
    )
    SELECT user_id, est_count
    FROM probe
    ORDER BY est_count DESC, user_id
    LIMIT 20
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-talkers: the count-min sketch maintained AS
    STREAMING STATE — the sketch's (row, bucket) counts are a running
    aggregation over the event stream, bounded at d·W rows forever no
    matter the stream rate (contrast with per-key counting, whose state
    grows with cardinality).

    The drained sketch is then probed batch-side for the top-20
    estimated-heaviest users. Same hash family as
    ``agg_count_min_sketch`` (aggregates.py), so the streaming and
    batch sketches are value-identical — that equivalence is what the
    oracle checks end-to-end.
    """
    from tpctools_spark.queries.aggregates import _CMS_P, _CMS_ROWS, _CMS_W

    ev = _stream_events(spark, sf_dir)
    hashes = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(a).alias("a"), F.lit(b).alias("b"))
            for i, a, b in _CMS_ROWS
        ]
    )
    votes = ev.select("user_id", F.explode(hashes).alias("h")).select(
        F.col("h.i").alias("i"),
        F.pmod(
            F.pmod(F.col("user_id") * F.col("h.a") + F.col("h.b"), F.lit(_CMS_P)),
            F.lit(_CMS_W),
        ).alias("bucket"),
    )
    sketch_stream = votes.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    sketch = _drain_to_memory(sketch_stream, "complete")

    keys = (
        table(spark, sf_dir, "events").select("user_id").distinct()
    )
    probes = keys.select("user_id", F.explode(hashes).alias("h")).select(
        "user_id",
        F.col("h.i").alias("i"),
        F.pmod(
            F.pmod(F.col("user_id") * F.col("h.a") + F.col("h.b"), F.lit(_CMS_P)),
            F.lit(_CMS_W),
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_count"))
        .orderBy(F.desc("est_count"), F.asc("user_id"))
        .limit(20)
    )


# NOTE: Spark 4's transformWithStateInPandas (arbitrary-state v2, the
# successor to applyInPandasWithState) is present in this PySpark build
# but NON-FUNCTIONAL in this container: its state-server protocol
# requires google.protobuf, which is not installed (verified: the TWS
# driver worker crashes with ImportError on pyspark.sql.streaming.proto
# at init). Custom stateful processing is therefore covered by
# ``stream_custom_state_gap`` (applyInPandasWithState, fully supported);
# a real deployment with protobuf swaps APIs without changing the
# state-per-key design.


@query(
    "stream_cdc_compact",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, event_type AS last_op,
           value AS last_value, epoch_us(ts) AS last_ts_us, n_ops
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``reshape_cdc_compact``: the change log arrives
    as a stream and the compacted snapshot is maintained continuously —
    latest surviving row per key, tombstones (`error`) suppressing keys.

    State per key is ONE struct + a count: ``max_by`` over the packed
    (ts, event_id) order key is a declarative aggregate, so every
    micro-batch folds its rows into the running per-key maximum — the
    Kafka-compacted-topic materialization without a custom stateful
    operator. The tombstone filter runs on the aggregate stream, so
    deleted keys never reach the sink. Drained with ``availableNow``
    the snapshot is bit-equal to the batch window formulation (same
    deterministic (ts, event_id) tie-break).
    """
    ev = _stream_events(spark, sf_dir)
    last = F.expr(
        "max_by(struct(event_id, event_type, value, unix_micros(ts) AS ts_us),"
        " struct(ts, event_id))"
    )
    snap = (
        ev.groupBy("user_id")
        .agg(last.alias("last"), F.count(F.lit(1)).cast("bigint").alias("n_ops"))
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
    return _drain_to_memory(snap, "complete")


@query(
    "stream_python_datasource",
    oracle="""
    WITH feed AS (
      SELECT rid AS reading_id,
             ((rid * 654435747) % 1000000007) % 16 AS sensor_id,
             CAST(((rid * 654435747) % 1000000007) % 10000 AS DOUBLE) / 100.0
               AS reading
      FROM (SELECT unnest(range(0, 1000)) AS rid)
    )
    SELECT sensor_id, COUNT(*) AS n_readings,
           ROUND(CAST(SUM(CAST(reading AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS total_reading
    FROM feed GROUP BY sensor_id
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector via the Spark 4 Python DataSource
    API: the deterministic sensor feed exposed through the
    offset-range stream contract (initialOffset → latestOffset →
    partitions(start, end) → read → commit) that a Kafka-like Python
    connector implements — the streaming half of
    `scan_python_datasource`'s extension point.

    10 offset steps × 100 readings drain under ``availableNow`` (one
    micro-batch of 10 partitions, since the default reader exposes the
    whole feed at once; ``advanceperpoll=1`` makes it genuinely
    incremental — the crash-recovery test in
    ``tests/test_streaming_recovery.py`` drains it batch-at-a-time
    across restarts) into a complete-mode per-sensor aggregate; rows
    are the same pure function of reading id as the batch source, so
    the drained stream is value-equal to the batch feed prefix and
    DuckDB rebuilds it from a range(). Offsets advance with no driver
    data — a real connector maps them to partition/offset ranges the
    same way.
    """
    from tpctools_spark.sources import SensorStreamSource

    try:
        spark.dataSource.register(SensorStreamSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    feed = (
        spark.readStream.format("sensor_feed_stream")
        .option("rowsperbatch", "100")
        .option("batches", "10")
        .option("sensors", "16")
        .load()
    )
    agg = feed.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.round(
            F.sum(F.col("reading").cast("decimal(12,2)")).cast("double"), 2
        ).alias("total_reading"),
    )
    return _drain_to_memory(agg, "complete")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_nationkey,
           CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS revenue
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_nationkey, date_trunc('day', e.ts)
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: live events enriched against a static
    dimension, then windowed-aggregated — THE canonical production
    streaming topology (clickstream × user-profile table).

    Semantics that matter: a stream-static join needs NO watermark on
    the static side and holds NO join state — each micro-batch probes
    the (broadcast) dimension as a plain hash join, so the only
    stateful operator is the downstream window aggregate. The static
    side re-resolves per batch, which is what lets production swap the
    dimension under a running query.

    Oracle: draining with availableNow makes the result equal the
    batch join+aggregate, which is the SQL twin verbatim.

    Scale: dimension broadcast (customers fit; else a shuffled
    stream-static join, still stateless); stream side shuffles once
    into the window aggregate keyed by (nation, day).
    """

    ev = _stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    joined = ev.join(
        F.broadcast(cust), ev.user_id == cust.c_custkey
    )
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy(
            "c_nationkey",
            F.window("ts", "1 day").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"),
                2,
            ).alias("revenue"),
        )
        .select(
            "c_nationkey",
            F.col("w.start").alias("day"),
            "n_purchases",
            "revenue",
        )
    )
    return _drain_to_memory(agg, "complete")


@query(
    "stream_approx_distinct_window",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS INT) AS approx_ok
    FROM events GROUP BY date_trunc('day', ts)
    """,
)
def stream_approx_distinct_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window distinct-user estimation via HLL.

    Exact COUNT(DISTINCT) is unsupported (and unbounded-state) in
    streaming aggregation, so production counts uniques with
    approx_count_distinct: mergeable constant-size HLL state per
    window. The drained stream's estimate is then audited against the
    exact batch count — the oracle pins ``approx_ok`` (relative error
    within HLL's configured 5% rsd bound, wide margin 15%) plus the
    exact count itself, so the check stays deterministic while the
    estimator stays approximate.

    Scale: per-window state is one HLL register set regardless of user
    cardinality — the whole point versus the exact distinct's
    per-window user set.
    """
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.05).alias("approx_users"))
        .select(F.col("w.start").alias("day"), "approx_users")
    )
    drained = _drain_to_memory(agg, "complete")

    exact = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return drained.join(exact, "day").select(
        "day",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.15 * F.col("exact_users")
        )
        .cast("int")
        .alias("approx_ok"),
    )


def _stream_incr_dedup_sql() -> str:
    """Oracle for the STREAMING incremental dedup: identical shape to
    pipeline_incremental_dedup's, except the df-cap is computed over
    the CORPUS postings only — the production semantics, since at
    ingest time the standing index's document frequencies are all the
    admitter has (the batch twin caps over corpus+batch because it
    sees both at once)."""
    from tpctools_spark.queries.corpusgen import sql_docs_words

    return f"""
    WITH {sql_docs_words()},
    grams AS (
      SELECT DISTINCT i AS doc_id, g AS gram
      FROM words,
           unnest([concat_ws(' ', w[k], w[k+1], w[k+2])
                   for k in range(1, len(w) - 1)]) AS t(g)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id),
    cg AS (SELECT * FROM grams WHERE NOT (doc_id % 7 = 0 AND doc_id > 0)),
    bg AS (SELECT * FROM grams WHERE doc_id % 7 = 0 AND doc_id > 0),
    capped AS (SELECT gram FROM cg GROUP BY gram HAVING COUNT(*) <= 50),
    pc AS (SELECT c.doc_id, c.gram FROM cg c JOIN capped USING (gram)),
    pb AS (SELECT b.doc_id, b.gram FROM bg b JOIN capped USING (gram)),
    exact_hit AS (
      SELECT DISTINCT b.i AS doc_id
      FROM words b JOIN words c ON b.fp = c.fp
      WHERE b.i % 7 = 0 AND b.i > 0 AND NOT (c.i % 7 = 0 AND c.i > 0)
    ),
    near_hit AS (
      SELECT DISTINCT a.doc_id
      FROM pb a JOIN pc c ON a.gram = c.gram
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sc ON sc.doc_id = c.doc_id
      GROUP BY a.doc_id, c.doc_id, sa.ng, sc.ng
      HAVING CAST(COUNT(*) AS DOUBLE)
             / (sa.ng + sc.ng - COUNT(*)) >= 0.5
    )
    SELECT i AS doc_id,
           CASE WHEN i IN (SELECT doc_id FROM exact_hit) THEN 'exact_dup'
                WHEN i IN (SELECT doc_id FROM near_hit) THEN 'near_dup'
                ELSE 'accept' END AS decision
    FROM ids WHERE i % 7 = 0 AND i > 0
    ORDER BY doc_id
    """


@query("stream_incremental_dedup", oracle=_stream_incr_dedup_sql())
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup as a CONTINUOUS admission stream: incoming
    documents arrive in micro-batches and each batch is probed against
    the standing corpus index built ONCE — the streaming form of
    `pipeline_incremental_dedup`, which is how a 100 TB ingest pipeline
    actually runs (per-ingest admission, never full re-dedup).

    The decision for a document depends only on (document, standing
    index) — batch-internal pairs are excluded by design — so the
    result is INVARIANT to how the stream is micro-batched; the drain
    here forces 4 separate batches (maxFilesPerTrigger=1) and the
    output still equals the one-shot oracle. The index's df-cap is
    computed over CORPUS postings only (at ingest time the standing
    index's document frequencies are all the admitter has) — the one
    deliberate semantic difference from the batch twin, encoded in
    both engines. Each foreachBatch probe is ingest-sized: exact
    fingerprint semi-join, then batch-postings × corpus-postings on the
    shared gram key (``dedup._admission_probe``) — the cached standing
    index (postings with gram-set sizes, fingerprints; corpus-bounded)
    serves every batch without recompute.
    """
    from tpctools_spark.generate_corpus import gen_documents

    docs = gen_documents(spark, 500)
    is_batch = (F.col("doc_id") % 7 == 0) & (F.col("doc_id") > 0)
    corpus = docs.filter(~is_batch)
    incoming = docs.filter(is_batch)

    stage = _scratch_dir("incrdedup")
    in_dir = os.path.join(stage, "in")
    out_dir = os.path.join(stage, "out")
    incoming.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(
        in_dir
    )
    index, admit = _admission_probe(corpus)
    for part in index:
        part.cache()
    _drain(
        _file_batches(spark, docs.schema, in_dir),
        _commit_batches(out_dir, admit),
        os.path.join(stage, "ckpt"),
        "append",
    ).awaitTermination()
    # The returned plan reads only the committed output, so the standing
    # index is released instead of left cached in the caller's session.
    for part in index:
        part.unpersist()
    return _read_batches(spark, out_dir).select("doc_id", "decision").orderBy(
        "doc_id"
    )


def _dsir_score(lam):
    """The router's per-batch build: each document's bigram count and
    importance against the broadcast λ table."""
    from tpctools_spark.queries.pipeline import _dsir_hashed

    def score(bdf: DataFrame) -> DataFrame:
        return (
            _dsir_hashed(bdf)
            .join(F.broadcast(lam), "bucket")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.sum(F.col("lam").cast("decimal(25,16)"))
                .cast("double")
                .alias("imp"),
            )
        )

    return score


@query(
    "stream_dsir_router",
    oracle="""
    WITH bg AS (
      SELECT doc_id, lang,
             UNNEST(list_transform(range(1, greatest(len(w), 1)),
               i -> w[i] || ' ' || w[i+1])) AS gram
      FROM (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w
            FROM documents)
    ), hashed AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT)
               % 256 AS bucket
      FROM bg WHERE gram IS NOT NULL
    ), stat AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS c_r,
             CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS c_t
      FROM hashed WHERE doc_id % 7 <> 0 GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
             CAST(SUM(c_t) AS BIGINT) AS n_t
      FROM stat
    ), lam AS (
      SELECT bucket,
             ln((CAST(c_t + 1 AS DOUBLE) * CAST(n_r + 256 AS DOUBLE))
                / (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + 256 AS DOUBLE)))
               AS lam
      FROM stat CROSS JOIN tot
    ), scored AS (
      SELECT h.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(l.lam AS DECIMAL(25,16))) AS DOUBLE) AS imp
      FROM hashed h JOIN lam l ON h.bucket = l.bucket
      WHERE h.doc_id % 7 = 0
      GROUP BY h.doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(floor(imp * 10000) AS DOUBLE) / 10000 AS importance,
           CASE WHEN imp > 0.0 THEN 'target'
                WHEN imp > -5.0 THEN 'general'
                ELSE 'reject' END AS route
    FROM scored
    """,
)
def stream_dsir_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring as a LIVE ingest router: incoming documents arrive
    in micro-batches and each batch is scored against a STATIC λ table
    built ONCE from the standing corpus (docs with doc_id % 7 != 0 —
    the ingest split mirrors ``stream_incremental_dedup``), then routed
    target / general / reject by importance thresholds — the streaming
    form of ``pipeline_dsir_importance``, which is how a 100 TB
    pipeline actually consumes selection weights: score-at-ingest
    against a frozen reference LM, never a full-corpus re-score.

    A document's score depends only on (document, static λ), so the
    result is INVARIANT to micro-batching — the drain forces 4 separate
    batches (maxFilesPerTrigger=1) and still equals the one-shot
    oracle. Each foreachBatch probe is ingest-sized: row-local bigram
    explode, broadcast λ hash join (256 rows, built once and cached),
    per-doc partial aggregation. Buckets absent from the corpus LM
    drop (inner join) on both engines.
    """
    from tpctools_spark.queries.pipeline import _dsir_hashed, _dsir_lam

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    is_in = F.col("doc_id") % 7 == 0
    lam = _dsir_lam(_dsir_hashed(docs.filter(~is_in))).cache()
    lam.count()  # materialize the static LM once, before the stream

    stage = _scratch_dir("dsirroute")
    in_dir = os.path.join(stage, "in")
    out_dir = os.path.join(stage, "out")
    docs.filter(is_in).repartitionByRange(4, "doc_id").write.mode(
        "overwrite"
    ).parquet(in_dir)

    _drain(
        _file_batches(spark, docs.schema, in_dir),
        _commit_batches(out_dir, _dsir_score(lam)),
        os.path.join(stage, "ckpt"),
        "append",
    ).awaitTermination()
    # Every batch has joined the broadcast λ table by now and the
    # returned plan reads only the committed output, so the cache is
    # released instead of left in the session.
    lam.unpersist()
    scored = _read_batches(spark, out_dir)
    return scored.select(
        "doc_id",
        "n_bigrams",
        trunc_digits(F.col("imp"), 4).alias("importance"),
        F.when(F.col("imp") > 0.0, "target")
        .when(F.col("imp") > -5.0, "general")
        .otherwise("reject")
        .alias("route"),
    )
