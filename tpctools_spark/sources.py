"""Custom Python DataSource (Spark 4 DataSource V2 Python API).

A deterministic partitioned "sensor feed" source, written entirely in
Python against ``pyspark.sql.datasource`` — the API that lets a team
ship a custom connector (internal service, proprietary format, REST
feed) without touching the JVM. The reference's only sources are CSV
and Parquet (``/root/reference/src/lib.rs:55-58, 181-205``); this
demonstrates the extension point a Spark-native engine offers beyond
that fixed menu.

Scale design: the source reports N independent ``InputPartition``s and
each executor reads only its own partition's rows (a pure function of
(partition id, row offset) — no driver-side data, no state). Readers
on a real connector would map partitions to shards/offset ranges the
same way; filter pushdown arrives via ``pushFilters`` in newer APIs.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
)

SENSOR_SCHEMA = "reading_id BIGINT, sensor_id BIGINT, reading DOUBLE"

# Deterministic reading: pure integer arithmetic, replicable in SQL.
_P = 1_000_000_007
_A = 654_435_747


class SensorFeedReader(DataSourceReader):
    def __init__(self, options):
        self._n_parts = int(options.get("partitions", "4"))
        self._rows_per_part = int(options.get("rowsperpartition", "250"))
        self._n_sensors = int(options.get("sensors", "16"))

    def partitions(self):
        return [InputPartition(i) for i in range(self._n_parts)]

    def read(self, partition):
        base = partition.value * self._rows_per_part
        for off in range(self._rows_per_part):
            rid = base + off
            h = (rid * _A) % _P
            yield (rid, h % self._n_sensors, float(h % 10_000) / 100.0)


class SensorFeedSource(DataSource):
    """``spark.read.format("sensor_feed")`` after
    ``spark.dataSource.register(SensorFeedSource)``."""

    @classmethod
    def name(cls) -> str:
        return "sensor_feed"

    def schema(self) -> str:
        return SENSOR_SCHEMA

    def reader(self, schema) -> SensorFeedReader:
        return SensorFeedReader(self.options)


class SensorStreamReader(DataSourceStreamReader):
    """Streaming reader for the same deterministic feed: each
    micro-batch is one offset step emitting ``rowsperbatch`` readings,
    up to ``batches`` total — the offset-range contract (initialOffset
    → latestOffset → partitions(start, end) → read) that a real
    Kafka-like Python connector implements. Rows are the SAME pure
    function of global reading id as the batch reader, so a drained
    stream equals the batch feed prefix exactly.
    """

    def __init__(self, options):
        self._rows_per_batch = int(options.get("rowsperbatch", "100"))
        self._n_batches = int(options.get("batches", "10"))
        self._n_sensors = int(options.get("sensors", "16"))
        # advanceperpoll > 0 makes the feed INCREMENTAL: each
        # latestOffset poll exposes only that many more micro-batches
        # beyond the highest position this reader has been shown —
        # the Kafka-like "data keeps arriving" shape, used by the
        # crash-recovery test. The position re-seeds itself across
        # restarts because Spark calls commit(committed-offset) /
        # partitions(start, end) with checkpointed offsets before the
        # next poll. Default 0 = expose everything at once, so an
        # availableNow drain consumes the whole feed in one run.
        self._advance = int(options.get("advanceperpoll", "0"))
        self._seen = 0

    def initialOffset(self):
        return {"batch": 0}

    def latestOffset(self):
        if self._advance <= 0:
            return {"batch": self._n_batches}
        # _seen re-learns the checkpointed position from the
        # commit/partitions callbacks Spark replays on restart. Should
        # a Spark version ever poll latestOffset on a fresh reader
        # BEFORE those callbacks, _seen would still be 0 and a naive
        # min(_seen + advance, n) could regress below the checkpointed
        # start; because _seen is also raised from partitions' START
        # offset (not just end/commit), the first planned range
        # re-floors it, and every subsequent poll is monotone — the
        # recovery test (tests/test_streaming_recovery.py) pins the
        # drained-rows invariant either way.
        return {"batch": min(self._seen + self._advance, self._n_batches)}

    def partitions(self, start, end):
        # Learn from BOTH ends: `end` advances the poll window, and
        # `start` (the checkpointed offset on restart) floors it so a
        # fresh reader can never plan or report a range below what a
        # previous incarnation already committed.
        self._seen = max(self._seen, start["batch"], end["batch"])
        return [
            InputPartition((b, b + 1))
            for b in range(start["batch"], end["batch"])
        ]

    def read(self, partition):
        lo, hi = partition.value
        for b in range(lo, hi):
            base = b * self._rows_per_batch
            for off in range(self._rows_per_batch):
                rid = base + off
                h = (rid * _A) % _P
                yield (rid, h % self._n_sensors, float(h % 10_000) / 100.0)

    def commit(self, end):
        self._seen = max(self._seen, end["batch"])

    def stop(self):
        pass


class SensorStreamSource(DataSource):
    """``spark.readStream.format("sensor_feed_stream")`` after
    ``spark.dataSource.register(SensorStreamSource)``."""

    @classmethod
    def name(cls) -> str:
        return "sensor_feed_stream"

    def schema(self) -> str:
        return SENSOR_SCHEMA

    def streamReader(self, schema):
        return SensorStreamReader(self.options)


# ---------------------------------------------------------------------------
# Write path: a JSON-lines directory sink on the same Python API.


class JsonDirWriter(DataSourceWriter):
    """Executor-side writer with a staged exactly-once commit protocol.

    Each task serializes ITS partition's rows to a uniquely-named
    attempt file under ``<dir>/_staging/`` and reports that path in its
    commit message; nothing funnels through the driver. Readers never
    see staged files (Spark's file listing hides ``_``/``.``-prefixed
    paths), so a task attempt that fails mid-write — or succeeds but
    loses the race to a speculative twin — leaves only invisible
    garbage. ``commit()`` then publishes EXACTLY the files named by the
    per-partition winning attempts (one ``os.replace`` each — atomic on
    a POSIX/HDFS-semantics filesystem) and sweeps the staging area;
    ``abort()`` sweeps without publishing. Net effect: readers observe
    either none of the job's output or exactly one copy of every row,
    regardless of task retries (``tests/test_streaming_recovery.py``
    plants a first-attempt crash and asserts it). On an object store
    without atomic rename the same skeleton publishes via a manifest
    instead; the task/driver split is identical."""

    def __init__(self, options, schema):
        self._dir = options.get("path")
        self._cols = [f.name for f in schema.fields]

    def _staging(self) -> str:
        import os

        return os.path.join(self._dir, "_staging")

    def write(self, iterator):
        import json
        import os
        import uuid

        from pyspark.sql.datasource import WriterCommitMessage  # noqa: PLC0415

        os.makedirs(self._staging(), exist_ok=True)
        tmp = os.path.join(
            self._staging(), f"attempt-{uuid.uuid4().hex}.jsonl"
        )
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(
                    json.dumps(dict(zip(self._cols, tuple(row)))) + "\n"
                )
                n += 1
        msg = WriterCommitMessage()
        msg.path = tmp
        msg.n_rows = n
        return msg

    def commit(self, messages):
        # Driver-side finalize: publish exactly the winning attempts'
        # files, then drop every orphaned (failed/retried) attempt.
        import os
        import shutil

        for m in messages:
            if m is not None and getattr(m, "path", None):
                final = os.path.join(
                    self._dir,
                    "part-" + os.path.basename(m.path).removeprefix("attempt-"),
                )
                os.replace(m.path, final)
        shutil.rmtree(self._staging(), ignore_errors=True)
        return None

    def abort(self, messages):
        import shutil

        shutil.rmtree(self._staging(), ignore_errors=True)


class JsonDirSinkSource(DataSource):
    """``df.write.format("jsonl_dir").option("path", dir).save()`` after
    ``spark.dataSource.register(JsonDirSinkSource)``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def writer(self, schema, overwrite: bool):
        return JsonDirWriter(self.options, schema)
