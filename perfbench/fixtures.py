"""Deterministic inputs for the benchmark, written inside the checkout.

The feature tables mirror the sf0.1 fixtures' schema, row counts and value
distributions (``events``: 100k rows over users 0..1499 in Jan 2024;
``customer``: 15k rows). They are generated from a fixed seed, once per
checkout, so every run reads the same tables. The spines are generated from
the run's ``--seed``.

Every timestamp is written as parquet TIMESTAMP(MICROS): a pandas default
write (TIMESTAMP(NANOS)) reads back as BIGINT under the session's
``nanosAsLong`` and the as-of join then fails comparing it with TIMESTAMP
(see README.md, "Program gaps").
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
N_EVENTS = 100_000
N_EVENT_USERS = 1_500
N_CUSTOMERS = 15_000
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")

# 10k rows rather than 60k, to fit the run time: see README.md ("Inputs").
SPINE_ROWS = 10_000
# Spine keys span 0..1999 while events cover 0..1499, so about a quarter of
# the spine rows have no events and take the left-join NULL path.
SPINE_USERS = 2_000
JAN_2024_US = 1_704_067_200 * 1_000_000
DAY_US = 86_400 * 1_000_000
MONTH_US = 30 * DAY_US


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")


def _events(rng: np.random.Generator) -> pd.DataFrame:
    ts = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, N_EVENTS))
    return pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": rng.integers(0, N_EVENT_USERS, N_EVENTS),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def _customer(rng: np.random.Generator) -> pd.DataFrame:
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
        }
    )


def ensure_tables(table_dir: str) -> None:
    """Write ``events`` and ``customer`` under ``table_dir`` unless present."""
    if os.path.isdir(table_dir):
        return
    tmp = table_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(TABLE_SEED)
    _write(_events(rng), os.path.join(tmp, "events.parquet"))
    _write(_customer(rng), os.path.join(tmp, "customer.parquet"))
    os.rename(tmp, table_dir)


def write_spine(path: str, seed: int, label_events: bool) -> None:
    """Write a 60k-row entity spine (``user_id``, ``c_custkey``,
    ``event_timestamp``) as parquet.

    ``label_events=False``: each timestamp is one of 30 daily midnights, so
    rows share timestamps and the as-of join is light.
    ``label_events=True``: each row has its own microsecond timestamp, as a
    label-event spine does, so every row has its own candidate set.
    """
    rng = np.random.default_rng(seed)
    users = rng.integers(0, SPINE_USERS, SPINE_ROWS)
    if label_events:
        ts = JAN_2024_US + rng.integers(0, MONTH_US, SPINE_ROWS)
    else:
        ts = JAN_2024_US + DAY_US * rng.integers(1, 31, SPINE_ROWS)
    _write(
        pd.DataFrame(
            {
                "user_id": users,
                "c_custkey": users,
                "event_timestamp": pd.to_datetime(ts, unit="us"),
            }
        ),
        path,
    )
