"""Seeded inputs shaped like the sf0.1 ``events``/``documents``/``embeddings``
tables (plus the ``customer``/``nation`` dimensions ``zonal_stats`` joins).

The same seed gives byte-identical tables. Shapes follow the sf0.1 set:
100k events over 2024-01-01..30 (µs timestamps, 1500 users, five event
types, exponential values rounded to cents), 5000 documents over a
30-word vocabulary with 5% near-duplicates, 2000 unit 64-d float32
embeddings with ten labels.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
T0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00
DAY_US = 86400 * 10**6
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def write_tables(
    sf_dir: str,
    seed: int,
    n_events: int = 100_000,
    n_docs: int = 5000,
    n_vecs: int = 2000,
) -> dict[str, int]:
    """Write the five tables as ``<sf_dir>/<name>.parquet``; returns row
    counts by table."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    ts = np.sort(T0_US + rng.integers(0, 30 * DAY_US, n_events))
    _write(
        pa.table({
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)], pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }),
        f"{sf_dir}/events.parquet",
    )

    n_cust = 15000
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        f"{sf_dir}/customer.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        f"{sf_dir}/nation.parquet",
    )

    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: its text plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        f"{sf_dir}/documents.parquet",
    )

    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }),
        f"{sf_dir}/embeddings.parquet",
    )
    return {"events": n_events, "customer": n_cust, "nation": 25,
            "documents": n_docs, "embeddings": n_vecs}


def land_event_slice(
    drop_dir: str, seed: int, tick: int, n_rows: int, span_s: int = 3 * 3600
) -> str:
    """Land tick ``tick``'s slice of the event stream as one JSON-lines
    file: ``n_rows`` events spread over ``[tick*span_s, (tick+1)*span_s)``
    seconds after the stream epoch. Values are multiples of 1/64, so any
    summation order gives the same double, and the streamed windows can be
    compared with DuckDB exactly."""
    os.makedirs(drop_dir, exist_ok=True)
    rng = np.random.default_rng([seed, tick])
    lo = T0_US + tick * span_s * 10**6
    ts = np.sort(lo + rng.integers(0, span_s * 10**6, n_rows))
    users = rng.integers(0, 1500, n_rows)
    kinds = rng.integers(0, 5, n_rows)
    values = rng.integers(0, 64 * 200, n_rows) / 64.0
    base = tick * n_rows
    name = f"events-{tick:06d}.json"
    path = os.path.join(drop_dir, name)
    # the file source skips dot-files: write hidden, then publish atomically
    tmp = os.path.join(drop_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        for i in range(n_rows):
            sec, us = divmod(int(ts[i]), 10**6)
            f.write(json.dumps({
                "event_id": base + i,
                "ts": f"{np.datetime64(sec, 's')}.{us:06d}",
                "user_id": int(users[i]),
                "event_type": EVENT_TYPES[kinds[i]],
                "value": float(values[i]),
                "props": f'{{"k": {i % 100}}}',
            }) + "\n")
    os.replace(tmp, path)
    return path
