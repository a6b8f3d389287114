"""The sorted-run splitter, the within-run pair enumeration and the
list→matrix read of ``_runscan``, in pure pyarrow and numpy: no Spark
session."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from tpctools_spark.queries import _runscan
from tpctools_spark.queries._runscan import fixed_width, run_pairs, split_runs


def _batches(keys, sizes):
    """Batches of sizes ``sizes`` over the sorted (a, b) ``keys``, each
    row tagged with its input position ``i``."""
    a = np.array([k[0] for k in keys], dtype=np.int64)
    b = np.array([k[1] for k in keys], dtype=np.int64)
    assert sum(sizes) == len(keys)
    out, lo = [], 0
    for n in sizes:
        out.append(
            pa.RecordBatch.from_pydict(
                {
                    "a": a[lo : lo + n],
                    "b": b[lo : lo + n],
                    "i": np.arange(lo, lo + n),
                }
            )
        )
        lo += n
    return out


def _check(keys, sizes, min_rows):
    """Split, then assert: every yielded table holds whole runs only,
    its starts are exactly its run starts, and the tables concatenate
    back to the input. Returns the yielded tables' row counts."""
    got = list(split_runs(iter(_batches(keys, sizes)), "a", "b", min_rows))
    seen_runs: set = set()
    for tab, starts in got:
        k = list(zip(*(tab.column(c).to_pylist() for c in "ab")))
        want = [r for r in range(len(k)) if r == 0 or k[r] != k[r - 1]]
        assert list(starts) == want
        runs = {k[s] for s in starts}
        assert len(runs) == len(starts), "a run split inside one table"
        assert not runs & seen_runs, "a run split across tables"
        seen_runs |= runs
    rows = [i for tab, _ in got for i in tab.column("i").to_pylist()]
    assert rows == list(range(len(keys)))
    return [tab.num_rows for tab, _ in got]


def test_runs_straddling_batch_boundaries_stay_whole():
    # Runs of 3 rows over batches of 4: most batch boundaries cut a run.
    keys = [(r // 3, 0) for r in range(36)]
    sizes = _check(keys, [4] * 9, min_rows=5)
    assert len(sizes) > 2


def test_a_run_larger_than_min_rows_is_held_until_it_closes():
    keys = [(0, 0)] * 2 + [(1, 7)] * 50 + [(2, 0)] * 3
    # The 50-row run keeps accumulating past min_rows and arrives
    # whole, once the first batch of the next run closes it.
    assert _check(keys, [5] * 11, min_rows=8) == [2, 50, 3]


def test_second_key_alone_splits_runs():
    keys = [(0, b) for b in (1, 1, 2, 2, 2, 3)]
    sizes = _check(keys, [2, 2, 2], min_rows=1)
    assert sum(sizes) == 6


def test_empty_batches_are_skipped():
    keys = [(r // 2, 0) for r in range(10)]
    empty = _batches([], [0])
    full = _batches(keys, [5, 5])
    stream = empty + full[:1] + empty + full[1:] + empty
    got = list(split_runs(iter(stream), "a", "b", 3))
    assert [tab.num_rows for tab, _ in got] == [4, 4, 2]
    assert [list(s) for _, s in got] == [[0, 2], [0, 2], [0]]


def test_end_of_stream_flushes_the_buffer():
    # Below min_rows nothing flushes until the stream ends; then the
    # whole buffer is one table with all its runs.
    keys = [(0, 0), (0, 0), (1, 0), (2, 0), (2, 0)]
    got = list(split_runs(iter(_batches(keys, [2, 3])), "a", "b", 100))
    assert len(got) == 1
    tab, starts = got[0]
    assert tab.num_rows == 5 and list(starts) == [0, 2, 3]
    assert _check(keys, [1, 1, 1, 1, 1], min_rows=1) == [2, 1, 2]


def test_no_batches_yields_nothing():
    assert list(split_runs(iter([]), "a", "b")) == []
    assert list(split_runs(iter(_batches([], [0])), "a", "b")) == []


def test_fixed_width_reads_a_matrix_and_rejects_drift():
    col = pa.array([[1, 2], [3, 4], [5, 6]], type=pa.list_(pa.int64()))
    assert fixed_width(col, 2, "w").tolist() == [[1, 2], [3, 4], [5, 6]]
    chunked = pa.chunked_array([col.slice(0, 1), col.slice(1)])
    assert fixed_width(chunked, 2, "w").tolist() == [[1, 2], [3, 4], [5, 6]]
    assert fixed_width(col.slice(1), 2, "w").tolist() == [[3, 4], [5, 6]]
    # Lengths 1 + 3 sum to 2 rows × 2: a bare reshape would accept it.
    ragged = pa.array([[1], [2, 3, 4]], type=pa.list_(pa.int64()))
    with pytest.raises(ValueError, match=r"^q dim != 2 \(got 1\)$"):
        fixed_width(ragged, 2, "q dim")
    nulls = pa.array([[1, 2], None], type=pa.list_(pa.int64()))
    with pytest.raises(ValueError, match=r"\(got null\)"):
        fixed_width(nulls, 2, "q dim")
    assert fixed_width(col.slice(0, 0), 2, "w").shape == (0, 2)


def _pairs(starts, n, rows=None):
    return [
        p for ii, jj in run_pairs(np.array(starts), n, rows) for p in zip(ii, jj)
    ]


def test_run_pairs_enumerates_each_within_run_pair_once(monkeypatch):
    """Runs [0, 3), [3, 4) and [4, 7): every i < j inside one run, in
    order of the right element, whatever the chunk size; with ``rows``,
    only the pairs whose right element is listed, in ``rows`` order."""
    want = [(0, 1), (0, 2), (1, 2), (4, 5), (4, 6), (5, 6)]
    assert _pairs([0, 3, 4], 7) == want
    monkeypatch.setattr(_runscan, "_PAIR_CHUNK", 2)
    assert _pairs([0, 3, 4], 7) == want
    assert _pairs([0, 3, 4], 7, np.array([6, 3, 1])) == [
        (4, 6), (5, 6), (0, 1)
    ]
    assert _pairs([0], 1) == [] and _pairs([], 0) == []
