"""Seeded ``events`` generator for the benchmark.

Writes the ``events`` fixture schema (FIXTURES.md §A): event_id
int64, ts timestamp[ns] (µs-granular, irregular, one month from
2024-01-01), user_id int64, event_type string (5 types), value double
(non-negative, 2 decimals), props string (``{"k": n}``).  Only numpy and
pyarrow are used, never the package under test, and the row count comes
only from the size arguments.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
MONTH_START_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
MONTH_US = 30 * 86_400 * 1_000_000


def events_table(n_rows: int, seed: int, n_users: int | None = None) -> pa.Table:
    """``n_rows`` events over ``n_users`` machines (default: the
    fixtures' ratio of 15 machines per 1000 events)."""
    if n_rows < 1:
        raise ValueError("n_rows must be positive")
    rng = np.random.default_rng(seed)
    n_users = n_users or max(8, n_rows * 15 // 1000)
    ts_us = MONTH_START_US + np.sort(rng.integers(0, MONTH_US, n_rows))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts_us * 1000, type=pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype=np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_rows)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
        }
    )


def write_events(sf_dir: str, n_rows: int, seed: int, n_users: int | None = None) -> str:
    """Write ``<sf_dir>/events.parquet`` (one row group, like the fixture)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(n_rows, seed, n_users), path)
    return path
