"""Seeded synthetic tables for the headline queries.

Same names, columns and value domains as the repository's TPC-H-ish test
tables (``events``, ``lineitem``, ``customer``, ``nation``, ``region``,
``documents``, ``embeddings``), generated with numpy so the benchmark needs
no external data.  One parquet file per table, one row group each, naive
microsecond timestamps -- the layout the queries and their DuckDB oracles
are written against."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = np.array(["en", "de", "fr", "es", "it"])
WORDS = np.array(
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark data row column value filter group agg "
    "query line vector customer dup".split()
)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table.
    ``scale=1.0`` is sf0.1-sized events and a third of sf0.1's lineitem."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_events = max(int(100_000 * scale), 1_000)
    n_users = max(n_events // 60, 20)
    n_line = max(int(200_000 * scale), 1_000)
    n_cust = max(int(5_000 * scale), 50)
    n_docs = max(int(2_000 * scale), 50)
    n_vecs = max(int(1_000 * scale), 50)

    # events: 30 days of activity, one row per event
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86_400 * 1_000_000, n_events
    ).astype("timedelta64[us]")
    _write(
        out_dir,
        "events",
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": pa.array(_money(rng, 0.0, 560.0, n_events)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        },
    )

    ship = np.datetime64("1995-01-01T00:00:00", "us") + (
        rng.integers(0, 2500, n_line) * 86_400 * 1_000_000
    ).astype("timedelta64[us]")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, n_line // 4 + 1, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, 2_000, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        },
    )

    _write(
        out_dir,
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, len(SEGMENTS), n_cust)]),
        },
    )
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
    )
    _write(
        out_dir,
        "region",
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
    )

    lengths = rng.integers(8, 90, n_docs)
    words = WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(words[pos : pos + n]))
        pos += n
    _write(
        out_dir,
        "documents",
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        },
    )
    return {
        "events": n_events,
        "lineitem": n_line,
        "customer": n_cust,
        "documents": n_docs,
        "embeddings": n_vecs,
    }
