"""Seeded input tables for the query suite, and its DuckDB output check.

``write_tables(dir, seed)`` writes the ten parquet tables that
``film_crawler_spark.queries`` reads (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) at about 1/1000 of TPC-H
scale. Same seed, same bytes. ``Oracle(dir).check(name, cols, rows, sql)``
runs a query's SQL twin in DuckDB on the same files and compares row
count, column names and an order-insensitive value hash.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 150, 10, 200, 1500, 6000
N_EVENTS, N_USERS, N_DOCS, N_SOURCES, DIM = 1000, 15, 500, 20, 64
WORDS = ("scan column window order sort part agg value line key join merge group query a "
         "vector hash slow stream filter fast the batch spark table small data big customer "
         "row").split()
LANGS = ("en", "en", "fr", "es", "zh", "de")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
PART_TYPES = ("ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE")
ADJ = ("cold", "small", "blue", "red", "big", "light", "dark", "green")
NOUN = ("widget", "rod", "bolt", "gear", "panel", "valve", "spring", "plate")


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pa.Table:
    texts = []
    for i in range(N_DOCS):
        if i % 10 == 9:  # near duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_DOCS)
    centers = rng.normal(size=(10, DIM))
    v = centers[labels] + 0.8 * rng.normal(size=(N_DOCS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    ts = lambda a: pa.array(a, pa.timestamp("us"))  # noqa: E731
    pick = lambda vals, n: [vals[int(k)] for k in rng.integers(0, len(vals), n)]  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(np.arange(5)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": i32(np.arange(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32(np.arange(25) % 5)}),
        "customer": pa.table({
            "c_custkey": i64(np.arange(N_CUSTOMER)),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
            "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
            "c_mktsegment": pick(SEGMENTS, N_CUSTOMER)}),
        "supplier": pa.table({
            "s_suppkey": i64(np.arange(N_SUPPLIER)),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
            "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": i64(np.arange(N_PART)),
            "p_name": [f"{a} {n}" for a, n in zip(pick(ADJ, N_PART), pick(NOUN, N_PART))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, N_PART)],
            "p_type": pick(PART_TYPES, N_PART),
            "p_size": i32(rng.integers(1, 51, N_PART)),
            "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": i64(np.arange(N_ORDERS)),
            "o_custkey": i64(rng.integers(0, N_CUSTOMER, N_ORDERS)),
            "o_orderstatus": pick(("F", "O", "P"), N_ORDERS),
            "o_totalprice": _money(rng, N_ORDERS, 1000, 500000),
            "o_orderdate": ts(_days(rng, N_ORDERS, "1995-01-01", 4 * 365)),
            "o_orderpriority": pick(PRIORITIES, N_ORDERS)}),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, N_ORDERS, N_LINEITEM)),
            "l_partkey": i64(rng.integers(0, N_PART, N_LINEITEM)),
            "l_suppkey": i64(rng.integers(0, N_SUPPLIER, N_LINEITEM)),
            "l_linenumber": i32(rng.integers(1, 8, N_LINEITEM)),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, N_LINEITEM, 900, 105000),
            "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100, 2),
            "l_returnflag": pick(("A", "N", "R"), N_LINEITEM),
            "l_linestatus": pick(("F", "O"), N_LINEITEM),
            "l_shipdate": ts(_days(rng, N_LINEITEM, "1995-01-02", 4 * 365))}),
        "events": pa.table({
            "event_id": i64(np.arange(N_EVENTS)),
            "ts": ts(np.sort(np.datetime64("2024-01-01", "us")
                             + rng.integers(0, 30 * 86400 * 10**6, N_EVENTS).astype("timedelta64[us]"))),
            "user_id": i64(rng.integers(0, N_USERS, N_EVENTS)),
            "event_type": pick(EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def write_tables(directory: str, seed: int) -> str:
    """Write every table; returns the directory a file-source stream of
    ``events`` reads (it holds a copy of the events table)."""
    stream_dir = os.path.join(directory, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        if name == "events":
            pq.write_table(table, os.path.join(stream_dir, "part-0.parquet"))
    return stream_dir


# -- output check ----------------------------------------------------------


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols: list[str]) -> str:
    """Order-insensitive hash: columns by name, rows sorted, values as text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over the same parquet files."""

    def __init__(self, directory: str):
        import duckdb

        self.con = duckdb.connect()
        for name in TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(directory, name)}.parquet'")

    def check(self, name: str, cols: list[str], rows: list, sql: str) -> str | None:
        """None when DuckDB's twin gives the same rows, else the difference."""
        res = self.con.sql(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(rows) != len(drows):
            return f"{name}: {len(rows)} rows vs {len(drows)} in DuckDB"
        if sorted(cols) != sorted(dcols):
            return f"{name}: columns {sorted(cols)} vs {sorted(dcols)} in DuckDB"
        if value_hash(rows, cols) != value_hash(drows, dcols):
            return f"{name}: values differ from DuckDB"
        return None

    def close(self) -> None:
        self.con.close()
