"""Tests for the benchmark's pure-Python references (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import reference as ref  # noqa: E402

COLS = ["id", "qty", "note"]


def _row(k, qty, note="x"):
    return {"id": k, "qty": qty, "note": note}


# -- percentile ------------------------------------------------------------


def test_percentile_linear_interpolation():
    xs = [10, 20, 30, 40]
    assert ref.percentile(xs, 0) == 10
    assert ref.percentile(xs, 100) == 40
    assert ref.percentile(xs, 50) == 25
    assert ref.percentile(xs, 90) == pytest.approx(37.0)


def test_percentile_matches_numpy_rule_and_ignores_order():
    np = pytest.importorskip("numpy")
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
    for p in (0, 10, 25, 50, 75, 90, 99, 100):
        assert ref.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_single_sample_and_errors():
    assert ref.percentile([4.2], 90) == 4.2
    with pytest.raises(ValueError):
        ref.percentile([], 50)
    with pytest.raises(ValueError):
        ref.percentile([1, 2], 101)


# -- reference fold ----------------------------------------------------------


def test_fold_last_write_wins_by_lsn_not_arrival_order():
    events = [
        (3, "U", 1, _row(1, 30)),
        (1, "I", 1, _row(1, 10)),
        (2, "U", 1, _row(1, 20)),
    ]
    assert ref.fold(events, columns=COLS) == {1: (_row(1, 30), False)}


def test_fold_soft_delete_keeps_last_known_values():
    events = [
        (1, "I", 1, _row(1, 10, "a")),
        (2, "U", 1, _row(1, 11, None)),
        (3, "D", 1, None),
    ]
    # the U nulled ``note``; the tombstone keeps the last non-null note
    assert ref.fold(events, columns=COLS) == {1: (_row(1, 11, "a"), True)}


def test_fold_update_row_is_taken_verbatim():
    events = [(1, "I", 1, _row(1, 10, "a")), (2, "U", 1, _row(1, 11, None))]
    assert ref.fold(events, columns=COLS) == {1: (_row(1, 11, None), False)}


def test_fold_applies_events_over_a_snapshot_base():
    base = {1: _row(1, 1), 2: _row(2, 2)}
    events = [(5, "U", 2, _row(2, 22)), (6, "D", 1, None), (7, "I", 3, _row(3, 3))]
    assert ref.fold(events, base, COLS) == {
        1: (_row(1, 1), True),
        2: (_row(2, 22), False),
        3: (_row(3, 3), False),
    }


def test_diff_states_compares_canonical_text():
    import datetime as dt

    expected = {1: ({"id": 1, "d": "2024-01-02"}, False)}
    same = {1: ({"id": 1.0, "d": dt.date(2024, 1, 2)}, False)}
    assert ref.diff_states(expected, same, ["id", "d"]) == []
    other = {1: ({"id": 1, "d": "2024-01-02"}, True)}
    assert ref.diff_states(expected, other, ["id", "d"])
    assert ref.diff_states(expected, {}, ["id", "d"])


# -- statement -> WAL file -> micro-batch lag mapping -------------------------


def _write_source_log(tmp_path, entries_by_file):
    """A synthetic ``<checkpoint>/sources/0`` log: numbered batch files
    plus a ``.compact`` file, as Spark's file source writes them."""
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    for fname, entries in entries_by_file.items():
        lines = ["v1"] + [
            json.dumps({"path": f"file:///w/wal/{p}", "timestamp": 1, "batchId": b})
            for p, b in entries
        ]
        (d / fname).write_text("\n".join(lines) + "\n")
    (d / ".1.crc").write_text("ignored")
    return str(d)


def test_file_batches_reads_numbered_and_compacted_logs(tmp_path):
    src = _write_source_log(tmp_path, {
        "9.compact": [("a.parquet", 0), ("b.parquet", 3)],
        "10": [("c.parquet", 10), ("d.parquet", 10)],
    })
    got = ref.file_batches(ref.read_source_log(src))
    assert got == {"a.parquet": 0, "b.parquet": 3, "c.parquet": 10, "d.parquet": 10}


def test_statement_files_and_lag_samples(tmp_path):
    wal = {
        "ins.parquet": [(1, "I", 100, _row(100, 1)), (2, "I", 101, _row(101, 1))],
        "upd1.parquet": [(3, "U", 100, {"id": 100, "quantity": 7})],
        "upd2.parquet": [(5, "U", 100, {"id": 100, "quantity": 7})],
        "del.parquet": [(4, "D", 101, None)],
    }
    statements = [
        {"op": "I", "keys": [100, 101], "sent": 0.0, "acked": 1.0},
        {"op": "U", "keys": [100], "quantity": 7, "sent": 2.0, "acked": 3.0},
        {"op": "D", "keys": [101], "sent": 2.5, "acked": 3.5},
        {"op": "U", "keys": [100], "quantity": 7, "sent": 4.0, "acked": 5.0},
        {"op": "U", "keys": [999], "quantity": 1, "sent": 4.0, "acked": 5.0},  # UPDATE 0
    ]
    stmt_file = ref.statement_files(statements, wal)
    # same key and SET value: paired with files in LSN order by send time
    assert stmt_file == {0: "ins.parquet", 1: "upd1.parquet", 2: "del.parquet", 3: "upd2.parquet"}

    src = _write_source_log(tmp_path, {
        "0": [("ins.parquet", 0)],
        "1": [("upd1.parquet", 1), ("del.parquet", 1)],
        "2": [("upd2.parquet", 2)],
    })
    batch_of_file = ref.file_batches(ref.read_source_log(src))
    commit = {0: 1.5, 1: 4.0}  # batch 2 not committed: no sample
    lags = ref.lag_samples(statements, stmt_file, batch_of_file, commit)
    assert sorted(lags) == pytest.approx(sorted([500.0, 1000.0, 500.0]))


def test_batch_states_fold_incrementally():
    events_of_file = {
        "a": [(1, "I", 1, _row(1, 1))],
        "b": [(2, "U", 1, _row(1, 2))],
        "c": [(3, "D", 1, None)],
    }
    states = dict(ref.batch_states({0: ["a"], 1: ["b", "c"]}, events_of_file))
    assert states[0] == {1: (_row(1, 1), False)}
    assert states[1] == {1: (_row(1, 2), True)}
