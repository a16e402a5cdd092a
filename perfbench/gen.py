"""Seeded inputs for the benchmark workloads.

Every table has the schema of the repo's testdata (``events``,
``customer``, ``nation``, ``region``), so the registry queries and
their DuckDB oracles run on it unchanged. The same seed and size give
byte-identical parquet files: the tables are built from one numpy
generator and written without pandas metadata.

Three ``events`` layouts:

- ``single``: one file with one row group (every scan is one task);
- ``row_groups``: one file with many row groups (every core scans);
- ``files``: a directory of time-contiguous files, replayed as a stream.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
N_CUSTOMERS = 15_000  # user ids must join customer.c_custkey
N_NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400 * 1_000_000
# Zipf exponent over 15k users that gives the hottest user ~15% of rows
ZIPF_S = 1.1


def events_table(seed: int, n_rows: int, n_users: int, days: int,
                 zipf: bool) -> pa.Table:
    """``n_rows`` events sorted by ``ts`` over ``days`` days from
    2024-01-01; ``event_id`` follows time order. Users are uniform, or
    Zipf-skewed over a seed-permuted id order."""
    rng = np.random.default_rng([seed, n_rows, n_users, days, int(zipf)])
    ts = np.sort(T0_US + rng.integers(0, days * DAY_US, n_rows))
    if zipf:
        p = 1.0 / np.arange(1, n_users + 1) ** ZIPF_S
        ranks = rng.choice(n_users, n_rows, p=p / p.sum())
        user = rng.permutation(n_users)[ranks]
    else:
        user = rng.integers(0, n_users, n_rows)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_rows)]
    value = np.round(rng.exponential(40.0, n_rows), 2)
    k = rng.integers(0, 100, n_rows)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value),
        "props": pa.array(props.tolist(), pa.string()),
    })


def dimension_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, N_CUSTOMERS])
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return {
        "customer": pa.table({
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{i:09d}" for i in keys]),
            "c_nationkey": pa.array(
                rng.integers(0, N_NATIONS, N_CUSTOMERS).astype(np.int32)),
            "c_acctbal": pa.array(
                np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
            "c_mktsegment": pa.array(
                SEGMENTS[rng.integers(0, len(SEGMENTS), N_CUSTOMERS)]
                .tolist(), pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array(
                (np.arange(N_NATIONS) % len(REGIONS)).astype(np.int32)),
        }),
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
    }


def _write(table: pa.Table, path: str, row_group_rows: int | None = None,
           mtime: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_rows,
                   compression="snappy")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def write_dataset(out_dir: str, seed: int, n_rows: int, n_users: int,
                  days: int, zipf: bool, layout: str, parts: int) -> None:
    """Write ``events`` in ``layout`` plus the dimension tables into
    ``out_dir`` (an ``sf_dir`` the registry queries can read).

    ``parts`` is the row-group count for ``row_groups`` and the file
    count for ``files``. Stream files get increasing mtimes, because
    the file stream source orders files by modification time.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name, table in dimension_tables(seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    ev = events_table(seed, n_rows, n_users, days, zipf)
    path = os.path.join(out_dir, "events.parquet")
    if layout == "single":
        _write(ev, path, row_group_rows=n_rows)
    elif layout == "row_groups":
        _write(ev, path, row_group_rows=-(-n_rows // parts))
    elif layout == "files":
        os.makedirs(path)
        per = -(-n_rows // parts)
        for i in range(parts):
            _write(ev.slice(i * per, per),
                   os.path.join(path, f"part-{i:05d}.parquet"),
                   mtime=1_700_000_000 + i)
    else:
        raise ValueError(f"unknown layout {layout!r}")


def cached_dataset(cache_root: str, key: str, **spec) -> str:
    """Directory holding the dataset for ``spec``, written once per
    (key, spec); datasets of other specs under ``cache_root`` with the
    same key are removed so the cache holds one seed per workload."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(spec.items()))
    out = os.path.join(cache_root, f"{key}-{tag}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(cache_root, exist_ok=True)
        for old in os.listdir(cache_root):
            if old.startswith(f"{key}-"):
                shutil.rmtree(os.path.join(cache_root, old))
        write_dataset(out, **spec)
        open(done, "w").close()
    return out
