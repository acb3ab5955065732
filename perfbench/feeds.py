"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy / pyarrow: inputs are built before any
Spark call, and the same seed always yields the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_SYMBOLS = 100
ASSET_CLASSES = ("equity", "option", "future", "forex", "crypto")
FEED_START = pd.Timestamp("2024-06-03")  # a Monday, UTC wall clock

BAR_ARROW_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.int64()),
        ("asset_class", pa.string()),
    ]
)
BAR_COLUMNS = BAR_ARROW_SCHEMA.names


def symbol_names() -> np.ndarray:
    return np.array([f"S{i:03d}" for i in range(N_SYMBOLS)])


def zipf_weights(n: int = N_SYMBOLS, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class BarFeed:
    """Deterministic OHLCV bar source. Every call draws from its own
    ``(seed, stream, index)`` generator, so a chunk's content does not
    depend on which other chunks were generated before it."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        self.symbols = symbol_names()
        self.weights = zipf_weights()
        self.base_price = np.round(rng.uniform(10, 500, N_SYMBOLS), 2)
        self.asset = np.array(
            [ASSET_CLASSES[i % len(ASSET_CLASSES)] for i in range(N_SYMBOLS)]
        )

    def bars(
        self, stream: int, index: int, n: int, start: pd.Timestamp, span_s: int
    ) -> pd.DataFrame:
        """``n`` bars with distinct timestamps in ``[start, start +
        span_s)``; Zipf-skewed symbols. Timestamps are whole
        microseconds, unique within one call."""
        rng = np.random.default_rng([self.seed, stream, index])
        offs = np.sort(rng.choice(span_s * 1000, size=n, replace=False))
        ts = start + pd.to_timedelta(offs * 1000 + rng.integers(0, 1000, n), unit="us")
        sym_idx = rng.choice(N_SYMBOLS, size=n, p=self.weights)
        o = np.round(self.base_price[sym_idx] * (1 + rng.normal(0, 0.01, n)), 2)
        c = np.round(o * (1 + rng.normal(0, 0.004, n)), 2)
        h = np.round(np.maximum(o, c) * (1 + np.abs(rng.normal(0, 0.002, n))), 2)
        lo = np.round(np.minimum(o, c) * (1 - np.abs(rng.normal(0, 0.002, n))), 2)
        return pd.DataFrame(
            {
                "symbol": self.symbols[sym_idx],
                "timestamp": ts.astype("datetime64[us]"),
                "open": o,
                "high": h,
                "low": lo,
                "close": c,
                "volume": rng.integers(100, 50_000, n).astype("int64"),
                "asset_class": self.asset[sym_idx],
            }
        )

    def break_invariants(self, df: pd.DataFrame, share: float, index: int) -> int:
        """Swap high and low on a seeded ``share`` of rows (every
        swapped row has high < low, so validation must reject it).
        Returns the number of broken rows."""
        rng = np.random.default_rng([self.seed, 99, index])
        k = max(1, int(round(len(df) * share)))
        rows = rng.choice(len(df), size=k, replace=False)
        hi = df["high"].to_numpy().copy()
        lo = df["low"].to_numpy().copy()
        hi[rows], lo[rows] = lo[rows] - 0.01, hi[rows] + 0.01
        df["high"], df["low"] = hi, lo
        return k


def write_bars(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(
        df.assign(timestamp=df["timestamp"].dt.tz_localize("UTC")),
        schema=BAR_ARROW_SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# Star schema for the analytic mix (column names and value domains of
# the TPC-H-like tables the query catalog reads).
# ---------------------------------------------------------------------------
_WORDS = (
    "key agg row scan slow fast table value part hash a the line sort "
    "window spark order data column join small customer query big batch "
    "merge filter group stream"
).split()
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


STAR_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The tables the analytic mix reads, ``scale`` = 1.0 being 60k
    lineitem rows."""
    rng = np.random.default_rng([seed, 7])
    n_orders = int(15_000 * scale)
    n_line = int(60_000 * scale)
    n_cust = int(1_500 * scale)
    n_supp = 100
    n_part = int(2_000 * scale)  # l_partkey domain; the mix reads no part table
    n_events = int(10_000 * scale)
    n_docs = int(500 * scale)
    n_vecs = int(500 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01", "us")
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        }
    )
    o_date = t0 + rng.integers(0, 2400, n_orders) * day
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
            "o_totalprice": money(1000, 500_000, n_orders),
            "o_orderdate": o_date,
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    l_order = rng.integers(0, n_orders, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": o_date[l_order] + rng.integers(1, 122, n_line) * day,
        }
    )
    ev_start = np.datetime64("2024-01-01", "us")
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * 86_400_000_000, n_events))
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, 150, n_events).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.gamma(2.0, 25.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.04:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and rng.random() < 0.06:  # near duplicate: one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 90)))))
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_star(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
