"""Output checks: the program's results against an independent DuckDB
rendering of the same as-of join.

The oracle keeps the reference's compiled-join shape (candidates by key and
``ts <= entity ts``, ``ROW_NUMBER`` latest-wins on ``ts DESC, event_id
DESC``, LEFT JOIN back onto the spine), as ``queries/features.py`` does for
the registry's point-in-time entries. The program uses ``max_by`` instead,
so the two derivations are independent.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import struct
from collections import Counter

import duckdb
import numpy as np
import pyarrow.parquet as pq

from tfx_addons_feast_examplegen_spark.functions.tfexample import decode_example
from tfx_addons_feast_examplegen_spark.sources.tfrecord import read_tfrecords

COLUMNS = (
    "user_id",
    "c_custkey",
    "event_timestamp",
    "value",
    "event_type",
    "props",
    "activity_value",
    "c_acctbal",
    "c_mktsegment",
)
FLOAT_COLUMNS = ("event_timestamp", "value", "activity_value", "c_acctbal")
# TFX's default split config: two train buckets to one eval bucket.
TRAIN_SHARE = 2 / 3


def oracle_rows(spine: str, table_dir: str) -> list[tuple]:
    """Expected join output, one tuple per spine row in ``COLUMNS`` order;
    ``event_timestamp`` as epoch seconds (float)."""
    events = os.path.join(table_dir, "events.parquet")
    customer = os.path.join(table_dir, "customer.parquet")
    sql = f"""
    WITH spine AS (SELECT * FROM read_parquet('{spine}')),
    cand AS (
      SELECT s.user_id, s.event_timestamp, e.value, e.event_type, e.props,
             ROW_NUMBER() OVER (
               PARTITION BY s.user_id, s.event_timestamp
               ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM (SELECT DISTINCT user_id, event_timestamp FROM spine) s
      JOIN read_parquet('{events}') e
        ON e.user_id = s.user_id AND e.ts <= s.event_timestamp
    )
    SELECT s.user_id, s.c_custkey,
           epoch_us(s.event_timestamp) / 1e6 AS event_timestamp,
           c.value, c.event_type, c.props, c.value AS activity_value,
           cu.c_acctbal, cu.c_mktsegment
    FROM spine s
    LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      ON c.user_id = s.user_id AND c.event_timestamp = s.event_timestamp
    LEFT JOIN read_parquet('{customer}') cu ON cu.c_custkey = s.c_custkey
    """
    with duckdb.connect() as con:
        return con.sql(sql).fetchall()


def _f32(v):
    return None if v is None else float(np.float32(v))


def _example_key(row: tuple) -> tuple:
    """An oracle row as tf.Example would carry it: floats and timestamps
    as float32, strings as UTF-8 bytes."""
    out = []
    for name, v in zip(COLUMNS, row):
        if name in FLOAT_COLUMNS:
            out.append(_f32(v))
        elif isinstance(v, str):
            out.append(v.encode("utf-8"))
        else:
            out.append(v)
    return tuple(out)


def _tfrecord_files(out_dir: str) -> dict[str, list[str]]:
    return {
        split: sorted(glob.glob(os.path.join(out_dir, f"Split-{split}", "*.gz")))
        for split in ("train", "eval")
    }


def count_tfrecords(out_dir: str) -> dict[str, int]:
    """Records per split, read from the framing only (no CRC, no decode)."""
    counts = {}
    for split, paths in _tfrecord_files(out_dir).items():
        n = 0
        for path in paths:
            with gzip.open(path, "rb") as f:
                buf = f.read()
            i = 0
            while i < len(buf):
                (length,) = struct.unpack_from("<Q", buf, i)
                i += 12 + length + 4
                n += 1
        counts[split] = n
    return counts


def count_parquet(out_dir: str) -> dict[str, int]:
    counts = {}
    for split in ("train", "eval"):
        paths = glob.glob(os.path.join(out_dir, f"split={split}", "*.parquet"))
        counts[split] = sum(pq.read_metadata(p).num_rows for p in paths)
    return counts


def quick_check(out_dir: str, n_rows: int, tfrecord: bool) -> list[str]:
    """Cheap per-iteration check: every spine row was written, to both
    splits, in about the 2:1 share."""
    counts = count_tfrecords(out_dir) if tfrecord else count_parquet(out_dir)
    total = sum(counts.values())
    errors = []
    if total != n_rows:
        errors.append(f"wrote {total} examples for {n_rows} spine rows")
    elif abs(counts["train"] / total - TRAIN_SHARE) > 0.02:
        errors.append(f"train share {counts['train'] / total:.3f}, expected 2/3")
    if not tfrecord:
        errors += _check_statistics(out_dir, n_rows)
    return errors


def _check_statistics(out_dir: str, n_rows: int) -> list[str]:
    path = os.path.join(out_dir, "statistics.json")
    if not os.path.exists(path):
        return ["statistics.json missing"]
    with open(path) as f:
        rows = json.load(f)
    errors = []
    if sorted(r["column"] for r in rows) != sorted(COLUMNS):
        errors.append(f"statistics.json columns {[r['column'] for r in rows]}")
    for r in rows:
        if r["count"] + r["n_null"] != n_rows:
            errors.append(
                f"statistics.json {r['column']}: count {r['count']} + "
                f"n_null {r['n_null']} != {n_rows} spine rows"
            )
    return errors


def _diff(got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    missing = list((want - got).elements())[:2]
    extra = list((got - want).elements())[:2]
    return [f"output differs from oracle: missing {missing}, unexpected {extra}"]


def full_check_tfrecord(out_dir: str, expected: list[tuple]) -> list[str]:
    """Decode every record (CRCs verified) and compare with the oracle."""
    got = Counter()
    for paths in _tfrecord_files(out_dir).values():
        for path in paths:
            for rec in read_tfrecords(path):
                ex = decode_example(rec)
                if sorted(ex) != sorted(COLUMNS):
                    return [f"record features {sorted(ex)}"]
                got[tuple(ex[c][0] if ex[c] else None for c in COLUMNS)] += 1
    return _diff(got, Counter(_example_key(r) for r in expected))


def full_check_parquet(out_dir: str, expected: list[tuple]) -> list[str]:
    """Read every written row back and compare with the oracle."""
    cols = ", ".join(
        "epoch_us(event_timestamp) / 1e6" if c == "event_timestamp" else c
        for c in COLUMNS
    )
    pattern = os.path.join(out_dir, "split=*", "*.parquet")
    with duckdb.connect() as con:
        rows = con.sql(
            f"SELECT {cols} FROM read_parquet('{pattern}', hive_partitioning=false)"
        ).fetchall()
    return _diff(Counter(rows), Counter(expected))
