"""Seeded input generator: the ``events`` table the benchmark feeds the program.

The base table has the shape of the repository's ``events`` test table
(TESTDATA.md) at scale factor ``sf``: ``1e6 * sf`` events over
``15000 * sf`` users, five event types, uniform timestamps over January
2024 (microsecond precision, no time zone), exponential values with mean 50
rounded to cents. The base is fixed (its own seed), so every benchmark seed
sees the same key space and row count.

``--seed`` then makes the run's table: the base replicated ``R`` times over
the ``user_id`` key space (replica ``r`` adds ``r * USER_STRIDE``), each
replica with a seeded whole-minute time shift and seeded value jitter. The
program only ever sees the written parquet file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
USER_STRIDE = 1_000_000
MONTH_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
DAY_US = 86_400_000_000
MONTH_DAYS = 30
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
MAX_SHIFT_MIN = 90

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def base_events(sf: float) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(BASE_SEED)
    n = int(round(1_000_000 * sf))
    users = int(round(15_000 * sf))
    if n < 1 or users < 1:
        raise ValueError(f"scale factor {sf} gives an empty table")
    return {
        "ts": np.sort(MONTH_START_US + rng.integers(0, MONTH_DAYS * DAY_US, n)),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def write_events(path: str, sf: float, replicas: int, seed: int) -> int:
    """Write the seeded events table to ``path``; returns its row count."""
    base = base_events(sf)
    n = base["ts"].size
    rng = np.random.default_rng(seed)
    parts = []
    for r in range(replicas):
        shift_us = int(rng.integers(-MAX_SHIFT_MIN, MAX_SHIFT_MIN + 1)) * 60_000_000
        jitter = rng.normal(0.0, 0.5, n)
        parts.append(
            {
                "ts": base["ts"] + shift_us,
                "user_id": base["user_id"] + r * USER_STRIDE,
                "event_type": base["event_type"],
                "value": np.round(np.abs(base["value"] + jitter), 2),
                "k": base["k"],
            }
        )
    cols = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
    order = np.argsort(cols["ts"], kind="stable")
    table = pa.table(
        {
            "event_id": np.arange(order.size, dtype=np.int64),
            "ts": pa.array(cols["ts"][order], pa.timestamp("us")),
            "user_id": cols["user_id"][order],
            "event_type": EVENT_TYPES[cols["event_type"][order]],
            "value": cols["value"][order],
            "props": [f'{{"k": {k}}}' for k in cols["k"][order]],
        },
        schema=SCHEMA,
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)

    meta = pq.read_metadata(path)
    if meta.num_rows != replicas * n:
        raise RuntimeError(f"{path}: {meta.num_rows} rows, expected {replicas * n}")
    if not pq.read_schema(path).remove_metadata().equals(SCHEMA):
        raise RuntimeError(f"{path}: schema {pq.read_schema(path)} != {SCHEMA}")
    return meta.num_rows
