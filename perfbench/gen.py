"""Seeded input generators for the two workloads.

Every table is made from ``numpy.random.default_rng([seed, stream])``
alone, so one seed always gives byte-identical Parquet files and the
engine sees nothing but those files. Value domains follow the schemas
the registry's queries and oracles are written against (FIXTURES.md):
the same column names and types, the same categorical values, date
ranges and key ranges, at a size chosen by the caller.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])

_US = 1_000_000
_EPOCH_US = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) \
    // dt.timedelta(microseconds=1)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def file_digest(paths) -> str:
    """sha256 over the bytes of `paths` (sorted), short form."""
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# events: seeded tick history
# --------------------------------------------------------------------------

def tick_history(seed: int, n_rows: int, n_users: int, days: int) -> pa.Table:
    """A tick history with the `events` schema: per-user random-walk
    prices with 2 decimal places, microsecond timestamps spread over
    `days` days from 2024-01-01, `props` as ``{"k": n}``. event_id
    follows time order, as in the reference feed."""
    rng = _rng(seed, 1)
    ts = np.sort(rng.integers(0, days * 86_400 * _US, n_rows)) + _EPOCH_US
    users = rng.permutation(n_users)[rng.integers(0, n_users, n_rows)]
    steps = np.round(rng.normal(0.0, 1.5, n_rows), 2)
    start = np.round(rng.uniform(20.0, 200.0, n_users), 2)
    value = np.empty(n_rows)
    last = start.copy()
    for i in range(n_rows):  # reflecting walk per user, kept in cents
        u = users[i]
        v = round(last[u] + steps[i], 2)
        last[u] = v if v >= 1.0 else round(2.0 - v, 2)
        value[i] = last[u]
    return pa.table({
        "event_id": pa.array(np.arange(n_rows), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n_rows)], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
                          pa.string()),
    }, schema=EVENTS_SCHEMA)


def write_dashboard_inputs(seed: int, out_dir: str, n_rows: int,
                           n_users: int, days: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    _write(tick_history(seed, n_rows, n_users, days), path)
    return [path]


# --------------------------------------------------------------------------
# tick stream: backlog + live generator
# --------------------------------------------------------------------------

#: Per period, the seeded share of keys whose ticks arrive one file late,
#: and the share of keys that re-send their latest tick.
LATE_SHARE = 0.05
RESEND_SHARE = 0.02


class TickSource:
    """Seeded tick producer for the streaming workload.

    One call to :meth:`batch` makes the rows of one file: the events
    created in one period ``[t0, t1)`` (microseconds), stamped with
    their creation time as ``ts``. Like the reference producer it
    re-sends: at the start of a period a seeded share of keys re-sends
    its latest tick (same ``user_id``, ``ts`` and value, a new, higher
    ``event_id``). A seeded share of keys lags: all of its ticks from
    the period arrive with the next file, up to two periods late, and
    every file is shuffled, so ticks arrive out of order. A lagging key
    still never overtakes itself across files — per key, file order
    equals ``(ts, event_id)`` order — because the per-key EMA state
    folds ticks in arrival order and its oracle folds them in time
    order.
    """

    def __init__(self, seed: int, n_users: int):
        self._rng = _rng(seed, 30)
        self._n_users = n_users
        self._price = np.round(self._rng.uniform(20.0, 200.0, n_users), 2)
        self._last: dict[int, tuple] = {}
        self._held: list[tuple] = []
        self._next_id = 0

    def batch(self, t0: int, t1: int, n: int, *, last: bool = False
              ) -> tuple[pa.Table, np.ndarray]:
        """Rows of the file closing period [t0, t1) and, aligned with
        them, each row's creation time in microseconds. The `last` file
        of a phase holds nothing back and re-sends nothing."""
        rng = self._rng
        lagging = set() if last else set(
            np.flatnonzero(rng.random(self._n_users) < LATE_SHARE))
        rows, held = list(self._held), []
        for u in sorted(self._last):
            if not last and rng.random() < RESEND_SHARE:
                _, ts, typ, val, props = self._last[u]
                row = (self._next_id, ts, u, typ, val, props, t0)
                self._next_id += 1
                self._last[u] = (row[0], ts, typ, val, props)
                (held if u in lagging else rows).append(row)
        created = np.sort(rng.integers(t0, t1, n))
        users = rng.integers(0, self._n_users, n)
        steps = np.round(rng.normal(0.0, 0.5, n), 2)
        types = rng.integers(0, 5, n)
        ks = rng.integers(0, 100, n)
        for i in range(n):
            u = int(users[i])
            v = round(self._price[u] + steps[i], 2)
            self._price[u] = v if v >= 1.0 else round(2.0 - v, 2)
            ts = int(created[i])
            row = (self._next_id, ts, u, EVENT_TYPES[types[i]],
                   float(self._price[u]), f'{{"k": {int(ks[i])}}}', ts)
            self._next_id += 1
            self._last[u] = (row[0], ts, row[3], row[4], row[5])
            (held if u in lagging else rows).append(row)
        self._held = held
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        cols = list(zip(*rows)) if rows else [()] * 7
        table = pa.table({
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }, schema=EVENTS_SCHEMA)
        return table, np.array(cols[6], dtype=np.int64)


def write_atomic(table: pa.Table, src_dir: str, name: str) -> str:
    """Write into the stream source directory under a hidden name, then
    rename, so the file source never lists a half-written file."""
    tmp = os.path.join(src_dir, f".{name}.tmp")
    final = os.path.join(src_dir, name)
    _write(table, tmp)
    os.rename(tmp, final)
    return final


def write_backlog(source: TickSource, src_dir: str, n_files: int,
                  per_file: int, period_us: int) -> tuple[list[str], int]:
    """The history the backfill phase replays: `n_files` periods on a
    synthetic clock from 2024-01-01. Returns (paths, rows written)."""
    os.makedirs(src_dir, exist_ok=True)
    paths, rows = [], 0
    for k in range(n_files):
        t0 = _EPOCH_US + k * period_us
        table, _ = source.batch(t0, t0 + period_us, per_file,
                                last=k == n_files - 1)
        paths.append(write_atomic(table, src_dir, f"backlog-{k:05d}.parquet"))
        rows += table.num_rows
    return paths, rows
