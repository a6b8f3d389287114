"""Sorted-run Arrow scans: the one worker-side shape behind every pair
scan over a two-column blocking key (the embedding cells of
``similarity``, the minhash band buckets of ``dedup``).

``run_scan`` builds the plan: shuffle on the two run keys, sort within
each partition on the same keys in the JVM (spillable, no second
shuffle), then ``mapInArrow``. In the Python worker ``split_runs``
streams the sorted batches as tables of complete runs and hands each,
with its run starts, to a numpy kernel. ``run_pairs`` enumerates the
pairs inside each run, for the minhash bucket scan and for the
single-task components kernel of ``dedup``. ``fixed_width`` is the one
list-column → n×w matrix read, with a loud arity check.

Memory: the worker holds at most ``min_rows`` rows plus one batch plus
the one run that straddles the buffer's end, whatever the partition
size; a single run larger than that stays whole until it closes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Spark DDL type → Arrow type name, for the columns a kernel emits.
_ARROW_TYPES = {"bigint": "int64", "int": "int32", "double": "float64"}


def fixed_width(col, width: int, what: str):
    """The list column ``col`` (Array or ChunkedArray) as an n×``width``
    numpy matrix of its value type. A null row or a row of any other
    length raises ``ValueError`` naming ``what`` and the first bad
    length: reshaping a ragged column would silently misalign rows."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = np.diff(col.offsets.to_numpy())
    if col.null_count or (lens != width).any():
        got = "null" if col.null_count else int(lens[lens != width][0])
        raise ValueError(f"{what} != {width} (got {got})")
    return col.flatten().to_numpy(zero_copy_only=False).reshape(
        len(col), width
    )


def split_runs(batches, key_a: str, key_b: str, min_rows: int = 65536):
    """Yield ``(table, starts)`` from Arrow batches sorted by
    (``key_a``, ``key_b``): each table holds only complete runs of equal
    keys, and ``starts`` is the ascending array of its run start rows.

    Batches accumulate until ``min_rows`` rows, which amortizes the
    kernels' per-table numpy conversions (a flush per 10k-row batch
    measured ~7% slower at the 500k minhash tier); then
    every run but the last is yielded and the last is carried over, as
    it may continue in the next batch. A buffer that is one run keeps
    accumulating. The end of the stream closes the last run.
    """
    import numpy as np
    import pyarrow as pa

    buf: list = []
    nbuf = 0

    def runs(tab):
        ka = tab.column(key_a).to_numpy(zero_copy_only=False)
        kb = tab.column(key_b).to_numpy(zero_copy_only=False)
        change = (ka[1:] != ka[:-1]) | (kb[1:] != kb[:-1])
        return np.concatenate(([0], np.flatnonzero(change) + 1))

    def concat():
        if len(buf) == 1:
            return buf[0]
        return pa.concat_tables(buf).combine_chunks()

    for b in batches:
        if b.num_rows == 0:
            continue
        buf.append(pa.Table.from_batches([b]))
        nbuf += b.num_rows
        if nbuf < min_rows:
            continue
        tab = concat()
        starts = runs(tab)
        if len(starts) == 1:
            buf = [tab]
            continue
        yield tab.slice(0, int(starts[-1])), starts[:-1]
        buf = [tab.slice(int(starts[-1]))]
        nbuf = buf[0].num_rows
    if buf:
        tab = concat()
        yield tab, runs(tab)


# Pairs per ``run_pairs`` yield: bounds its index buffers whatever one
# run's O(m²) pair count.
_PAIR_CHUNK = 4_000_000


def run_pairs(starts, n: int, rows=None):
    """Yield ``(ii, jj)``: the row indices of every pair ``ii < jj``
    inside one run of a table of ``n`` rows whose runs begin at the
    ascending ``starts``, at most ``_PAIR_CHUNK`` pairs per yield.
    With ``rows``, only the pairs whose right element ``jj`` is in
    ``rows`` are enumerated, in the order of ``rows``.

    Vectorized, no per-run Python loop: row r (position pos[r] in its
    run) pairs, as the right element, with the pos[r] rows before it;
    cumpos[k] = #pairs whose right element is one of the first k + 1
    enumerated rows, so pair id p maps to the first k with
    cumpos[k] > p, j = that row, and i = run start + offset in j's
    run."""
    import numpy as np

    if n == 0:
        return
    starts_per_row = np.repeat(starts, np.diff(np.append(starts, n)))
    pos = np.arange(n) - starts_per_row
    if rows is None:
        rows = np.arange(n)
    cumpos = np.cumsum(pos[rows])
    total = int(cumpos[-1]) if len(rows) else 0
    for s in range(0, total, _PAIR_CHUNK):
        pid = np.arange(s, min(s + _PAIR_CHUNK, total), dtype=np.int64)
        k = np.searchsorted(cumpos, pid, side="right")
        jj = rows[k]
        yield starts_per_row[jj] + (pid - (cumpos[k] - pos[jj])), jj


def run_scan(df: DataFrame, keys: tuple[str, str], kernel, schema: str):
    """``df`` shuffled and sorted on ``keys``, then scanned run by run:
    ``kernel(table, starts)`` yields tuples of numpy arrays, one per
    output column of ``schema`` (a flat DDL string of bigint, int and
    double columns); each sorted table's tuples become one batch."""
    k1, k2 = keys
    cols = [c.split() for c in schema.split(",")]
    names = [n for n, _ in cols]
    types = [_ARROW_TYPES[t] for _, t in cols]

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        for tab, starts in split_runs(batches, k1, k2):
            parts = list(kernel(tab, starts))
            if parts:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(c), type=t)
                        for c, t in zip(zip(*parts), types)
                    ],
                    names=names,
                )

    return (
        df.repartition(F.col(k1), F.col(k2))
        .sortWithinPartitions(k1, k2)
        .mapInArrow(gen, schema)
    )
