"""Seeded generator of the benchmark's input tables.

Writes ``customer``, ``orders``, ``events`` and ``documents`` parquet
files with the column names and types of the engine's TPC-H-ish test
tables (see ``mwas_rfam_spark/plans/testdata_mwas.py``), so the engine's
own MWAS views read them unchanged. Row counts follow the scale factor
``sf`` the way the test tables do: at ``sf=0.1`` there are 15,000
customers, 150,000 orders, 100,000 events and 5,000 documents.

The same ``(seed, sf)`` always produces byte-identical tables.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
# share of documents that repeat an earlier document exactly, and share
# that repeat one with a trailing token (near duplicates for the Jaccard
# and MinHash matchers)
EXACT_DUP_FRAC = 0.02
NEAR_DUP_FRAC = 0.05

TABLES = ("customer", "orders", "events", "documents")


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(50, int(150_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
    }


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)]),
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": pa.array(np.array(ORDER_STATUS)[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(t0 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the four tables under ``out_dir`` and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = table_sizes(sf)
    # one independent stream per table, so a table's content does not
    # depend on the sizes of the others
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    rng = {t: np.random.default_rng(s) for t, s in streams.items()}
    tables = {
        "customer": _customer(rng["customer"], sizes["customer"]),
        "orders": _orders(rng["orders"], sizes["orders"], sizes["customer"]),
        "events": _events(rng["events"], sizes["events"], max(10, sizes["customer"] // 10)),
        "documents": _documents(rng["documents"], sizes["documents"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def fingerprint(out_dir: str) -> str:
    """md5 over the bytes of the generated tables."""
    h = hashlib.md5()
    for name in TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
