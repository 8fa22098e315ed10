"""Seeded input tables for the `catalog` workload.

The catalog queries read four tables: documents, embeddings, events and
orders. This module writes them as one parquet file each, with the column
names and types of the TPC-H-ish test data the queries were written
against, at a fixed size, as a pure function of the seed:

- documents: words drawn from a 30-word vocabulary, 6 to 50 words each; 5%
  are copies of an earlier document with a word changed and " dup" appended,
  and a few are exact copies;
- embeddings: 64-dim unit vectors of float32, labels 0-9;
- events: 30 days of events from 2024-01-01 with microsecond timestamps, five
  event types, values ~ exponential(50) rounded to cents;
- orders: dates 1995-01-01 .. 2001-08-01, so every event's customer has
  orders before it.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# The dedup oracles compare all pairs of the first 500 documents in SQL;
# 240 shortish documents keep that compare to a few seconds.
SIZES = {"documents": 240, "embeddings": 500, "events": 10000, "orders": 15000,
         "users": 150, "customers": 1500}
TABLES = ("documents", "embeddings", "events", "orders")


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words) + " dup")
        elif i > 20 and rng.random() < 0.003:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(6, 51))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def orders(rng, n, customers):
    start = np.datetime64("1995-01-01", "D")
    days = rng.integers(0, (np.datetime64("2001-08-01", "D") - start).astype(int) + 1, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, n).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n), 2)),
        "o_orderdate": pa.array((start + days.astype("timedelta64[D]")).astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n).tolist(), pa.string()),
    })


def write(out_dir, seed):
    """Write the four tables for `seed` into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": documents(rng, SIZES["documents"]),
        "embeddings": embeddings(rng, SIZES["embeddings"]),
        "events": events(rng, SIZES["events"], SIZES["users"]),
        "orders": orders(rng, SIZES["orders"], SIZES["customers"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
