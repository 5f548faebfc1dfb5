"""Pure-Python references the benchmark checks the engine against.

Nothing here imports Spark, so the benchmark's own tests exercise it
directly:

* ``percentile`` / ``median`` — the one percentile rule every metric
  uses (linear interpolation between closest ranks).
* ``fold`` / ``diff_states`` — the mirror's expected target state
  (last write wins by LSN; a soft delete keeps the row's last known
  column values) and its comparison with what the engine returned.
* ``file_batches`` / ``statement_files`` / ``lag_samples`` — map a
  statement to the WAL file it wrote and the file to the micro-batch
  that applied it (from the streaming checkpoint's source log), giving
  acknowledgement → batch-commit replication lag; ``batch_states``
  gives the expected state after each micro-batch, for stale reads.
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict


# -- percentiles ---------------------------------------------------------


def percentile(values, p: float) -> float:
    """``p``-th percentile (0..100) with linear interpolation between
    closest ranks (NumPy's default rule). Raises on an empty input."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile out of range: {p}")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


# -- reference fold ------------------------------------------------------


def fold(events, base: dict | None = None, columns=None) -> dict:
    """Expected mirror state after applying ``events``.

    ``events``: iterable of (lsn, op, key, after) with op in I/U/D and
    ``after`` a full row dict (None for deletes). ``base``: key → row
    dict of a snapshot, applied before every event. Returns key →
    (row dict, is_deleted). Last write wins by LSN; a delete keeps the
    key's last known non-null value of each column, as the engine's
    soft-delete model does. ``columns`` names the data columns (taken
    from the first row seen when omitted)."""
    state: dict = {}
    known: dict = defaultdict(dict)  # key -> column -> last non-null value
    for key, row in (base or {}).items():
        state[key] = (dict(row), False)
        known[key].update({c: v for c, v in row.items() if v is not None})
        if columns is None:
            columns = list(row)
    for _lsn, op, key, after in sorted(events, key=lambda e: e[0]):
        if op == "D":
            cols = columns or list(known[key])
            state[key] = ({c: known[key].get(c) for c in cols}, True)
            continue
        row = dict(after)
        if columns is None:
            columns = list(row)
        state[key] = (row, False)
        known[key].update({c: v for c, v in row.items() if v is not None})
    return state


def canon(v) -> str | None:
    """Text form used to compare engine output with the reference."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def diff_states(expected: dict, actual: dict, columns) -> list[str]:
    """Human-readable differences between two key → (row, deleted)
    states (values compared in ``canon`` form); empty when equal."""
    out = []
    for key in sorted(set(expected) | set(actual)):
        e, a = expected.get(key), actual.get(key)
        if e is None or a is None:
            out.append(f"key {key}: expected {e}, got {a}")
            continue
        ev = tuple(canon(e[0].get(c)) for c in columns) + (e[1],)
        av = tuple(canon(a[0].get(c)) for c in columns) + (a[1],)
        if ev != av:
            out.append(f"key {key}: expected {ev}, got {av}")
        if len(out) >= 20:
            break
    return out


# -- statement → WAL file → micro-batch ----------------------------------


def read_source_log(source_dir: str) -> list[str]:
    """JSON entry lines of a streaming file-source metadata log dir
    (``<checkpoint>/sources/0``): numbered batch files and compacted
    ``.compact`` files, version header lines dropped."""
    lines = []
    for name in sorted(os.listdir(source_dir)):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(source_dir, name)) as fh:
            lines.extend(ln for ln in fh.read().splitlines() if ln.startswith("{"))
    return lines


def file_batches(source_log_lines) -> dict[str, int]:
    """WAL file basename → id of the micro-batch that read it, from the
    file source log's JSON entries ({"path", "timestamp", "batchId"})."""
    out = {}
    for line in source_log_lines:
        entry = json.loads(line)
        name = entry["path"].rstrip("/").rsplit("/", 1)[-1]
        out[name] = int(entry["batchId"])
    return out


def statement_files(statements, wal_files) -> dict[int, str]:
    """Map each acknowledged statement to the WAL file it wrote.

    ``statements``: list of dicts with ``op`` (I/U/D), ``keys`` and,
    for updates, ``quantity`` (the SET value). ``wal_files``: file
    name → list of (lsn, op, key, after). An INSERT is found by its
    first key, a DELETE by its key (each key is deleted at most once);
    updates of one key with one SET value pair up with that key's
    matching files in LSN order. Returns statement index → file name."""
    by_ins, by_del = {}, {}
    upd = defaultdict(list)  # (key, quantity) -> [(first lsn, file)]
    for name, events in wal_files.items():
        if not events:
            continue
        first = min(events, key=lambda e: e[0])
        op, key = first[1], first[2]
        if op == "I":
            by_ins[key] = name
        elif op == "D":
            by_del[key] = name
        else:
            upd[(key, (first[3] or {}).get("quantity"))].append((first[0], name))
    for v in upd.values():
        v.sort()
    out = {}
    pending = defaultdict(list)
    for i, st in enumerate(statements):
        if st["op"] == "I":
            name = by_ins.get(st["keys"][0])
        elif st["op"] == "D":
            name = by_del.get(st["keys"][0])
        else:
            pending[(st["keys"][0], st["quantity"])].append(i)
            continue
        if name is not None:
            out[i] = name
    for k, idxs in pending.items():
        idxs.sort(key=lambda i: statements[i]["sent"])
        for i, (_lsn, name) in zip(idxs, upd.get(k, [])):
            out[i] = name
    return out


def lag_samples(statements, stmt_file, batch_of_file, commit_time) -> list[float]:
    """Replication lag in ms per statement: commit time of the batch
    that applied the statement's WAL file minus the statement's
    acknowledgement time (both wall-clock seconds)."""
    out = []
    for i, name in stmt_file.items():
        b = batch_of_file.get(name)
        if b is None or b not in commit_time:
            continue
        out.append((commit_time[b] - statements[i]["acked"]) * 1000.0)
    return out


def batch_states(batches, events_of_file):
    """Yield (batch_id, state) after each micro-batch in id order;
    ``batches``: batch id → list of WAL file names."""
    applied = []
    for b in sorted(batches):
        for name in batches[b]:
            applied.extend(events_of_file.get(name, []))
        yield b, fold(applied)
