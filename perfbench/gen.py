"""Seeded inputs for the benchmark: the events stream and the batch tables.

Everything here is numpy + pyarrow, so generation needs no Spark session
and the same seed always yields byte-identical inputs.

- ``events``: the fixture's events schema (``streaming/source.EVENTS_SCHEMA``)
  over a span of whole days (24 hourly partitions a day), monotone
  timestamps with exponential inter-arrival gaps, as in the test fixture.
- ``stage_landing``: writes events as mtime-ordered parquet landing files,
  the way a spool directory fills before the stream drains it.
- ``write_tables``: the ten fixture tables at a small scale factor, for
  the query mix, from ``scripts/gen_sf.py`` with the seeded events.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# the shipped fixture's 31-word document vocabulary
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def events(seed: int, n: int, n_users: int, span_days: int = 30) -> pa.Table:
    """``n`` events ordered by ts over ``span_days``; ``event_id`` 0..n-1,
    ts in UTC."""
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(1.0, n)
    span_us = span_days * DAY_US
    ts = T0_US + np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(
        np.int64
    )
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def sentinel(event_id: int, ts_us: int) -> pa.Table:
    """One ``user_id = -1`` event that only advances the watermark."""
    return pa.table(
        {
            "event_id": np.array([event_id], dtype=np.int64),
            "ts": pa.array([ts_us], type=pa.timestamp("us", tz="UTC")),
            "user_id": np.array([-1], dtype=np.int64),
            "event_type": ["sentinel"],
            "value": np.array([0.0]),
            "props": pa.array([None], type=pa.string()),
        }
    )


def ordered_chunks(n: int, k: int) -> list[np.ndarray]:
    """Row indices of ``k`` ts-ordered chunks (events are ts-sorted)."""
    return np.array_split(np.arange(n), k)


def scattered_chunks(seed: int, n: int, k: int) -> list[np.ndarray]:
    """Row indices of ``k`` chunks that each span the whole time range."""
    perm = np.random.default_rng(seed + 1).permutation(n)
    return [np.sort(c) for c in np.array_split(perm, k)]


def stage_landing(out: Path, tables: list[pa.Table]) -> list[Path]:
    """Write one parquet file per table, mtimes strictly increasing in
    list order, so the file source replays them in that order."""
    out.mkdir(parents=True)
    base = time.time() - 3_600
    paths = []
    for i, t in enumerate(tables):
        p = out / f"part-{i:05d}.parquet"
        pq.write_table(t, p)
        os.utime(p, (base + i, base + i))
        paths.append(p)
    return paths


def write_tables(seed: int, out: Path, sf: float, n_events: int) -> None:
    """The ten fixture tables at scale ``sf`` from the repository's own
    generator (``scripts/gen_sf.py``); events are replaced by ``n_events``
    seeded rows with naive µs timestamps, the physical type the current
    fixture ships.

    gen_sf copies region and nation from the shipped sf0.1 fixture and
    reads the document vocabulary from it. The benchmark writes those rows
    itself and points gen_sf at them, so it reads nothing outside the
    checkout.
    """
    gen_sf = importlib.import_module("scripts.gen_sf")
    dims = out.parent / "fixture_dims"
    dims.mkdir(parents=True)
    pq.write_table(
        pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        dims / "region.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        dims / "nation.parquet",
    )
    pq.write_table(pa.table({"text": [" ".join(VOCAB)]}), dims / "documents.parquet")
    gen_sf.DRIVER_SF01 = dims
    with contextlib.redirect_stdout(sys.stderr):  # gen_sf reports on stdout
        gen_sf.gen(sf, out)
    ev = events(seed, n_events, max(1, int(15_000 * sf)))
    naive_ts = ev.column("ts").cast(pa.timestamp("us"))
    pq.write_table(ev.set_column(1, "ts", naive_ts), out / "events.parquet")
