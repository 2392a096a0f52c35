"""Seeded input tables for the benchmark, at TPC-H scale factor 0.025.

The shapes follow the engine's sf0.1 fixtures at a quarter of their rows
(TPC-H-ish customer and orders, a word-soup ``documents`` corpus and an
``events`` stream), so the registry queries do the same kind of work
they do in the correctness gate. Everything is drawn from ``numpy`` generators seeded
by ``--seed``: the same seed writes the same bytes. On top of the
fixture shape, a fixed share of the documents carries a planted phone
number, the PII the import's inspect template has to find.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 3_750
N_ORDERS = 37_500
N_DOCUMENTS = 1_250
N_EVENTS = 25_000
N_USERS = 375

PHONE_SHARE = 0.2  # documents carrying one planted phone number

_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PHONE_MARK = " phone number: "  # precedes every planted phone number


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def customer(rng) -> pd.DataFrame:
    k = np.arange(N_CUSTOMER, dtype=np.int64)
    return pd.DataFrame(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER),
        }
    )


def orders(rng) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), N_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, N_ORDERS), 2),
            "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        }
    )


def _phone(rng) -> str:
    d = "".join(str(x) for x in rng.integers(0, 10, 10))
    d = str(rng.integers(2, 10)) + d[1:]
    return d if rng.random() < 0.5 else f"{d[:3]}-{d[3:6]}-{d[6:]}"


def documents(rng) -> pd.DataFrame:
    n = N_DOCUMENTS
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))) for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < PHONE_SHARE):
        texts[i] += PHONE_MARK + _phone(rng)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def events(rng) -> pd.DataFrame:
    n = N_EVENTS
    lo = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    hi = np.datetime64("2024-01-31T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(lo, hi, n)).astype("datetime64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


TABLES = {
    "customer": customer,
    "orders": orders,
    "documents": documents,
    "events": events,
}


def generate(seed: int, names: list[str]) -> dict[str, pd.DataFrame]:
    """Tables ``names`` for ``seed``. Each table draws from its own
    child stream, so adding a table to a workload does not change the
    others."""
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rngs = {n: np.random.default_rng(s) for n, s in zip(TABLES, streams)}
    return {n: TABLES[n](rngs[n]) for n in names}


def write_parquet(tables: dict[str, pd.DataFrame], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(directory, f"{name}.parquet"),
        )
