"""Seeded input generation for the benchmark.

Everything the program reads is made here from ``--seed``: the star
schema plus events/documents/embeddings tables the registry queries
scan (same column names and parquet types as the fixture tables
described in FIXTURES.md §A), and the quoted OHLCV CSV the reference
pipeline ingests. The same seed gives byte-identical files; each table
draws from its own child stream of the seed, so resizing one table
does not reshuffle another.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sp500_stock_etl_spark.schemas import TESTDATA_TABLES

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# The NULL_IF tokens of the reference loader's file format: part of the
# input description, so not taken from the program.
NULL_TOKENS = ("NULL", "null", "", "\\N")

_EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _streams(seed: int, n: int) -> list[np.random.Generator]:
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(n)]


def _write(table: pa.Table, path: str) -> None:
    # One row group, no pandas metadata: output depends on the data only.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _midnight_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem = 6M·sf)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; the last 5% repeat an earlier document
    with one extra token, so the dedup operators find near-duplicates."""
    n_dup = n // 20
    texts: list[str] = []
    words = np.array(WORDS)
    for _ in range(n - n_dup):
        length = int(rng.integers(10, 101))
        texts.append(" ".join(words[rng.integers(0, len(WORDS), length)]))
    for src in rng.integers(0, n - n_dup, n_dup):
        texts.append(texts[int(src)] + " dup")
    lang = np.array(LANGS)[
        rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten labelled centroids."""
    centroids = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vecs = centroids[label] + rng.normal(0.0, 0.6, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write every table the registry queries scan; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    rngs = dict(zip(TESTDATA_TABLES, _streams(seed, len(TESTDATA_TABLES))))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rngs["customer"]
    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, k), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, k)], pa.string()),
    })

    r = rngs["supplier"]
    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, k), 2)),
    })

    r = rngs["part"]
    k = n["part"]
    keys = np.arange(k)
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
    ]
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)], pa.string()),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, k)], pa.string()),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })

    r = rngs["orders"]
    k = n["orders"]
    lo, hi = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, k)], pa.string()),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, k), 2)),
        "o_orderdate": _midnight_us(r.integers(lo, hi + 1, k)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, k)], pa.string()),
    })

    r = rngs["lineitem"]
    k = n["lineitem"]
    lo, hi = _days(dt.date(1995, 1, 2)), _days(dt.date(2001, 11, 4))
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900.0, 105000.0, k), 2)),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, k)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, k)], pa.string()),
        "l_shipdate": _midnight_us(r.integers(lo, hi + 1, k)),
    })

    r = rngs["events"]
    k = n["events"]
    start_us = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, k)) + start_us
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n["users"], k), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, k)], pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, k), 2)),
        "props": pa.array([json.dumps({"k": int(v)}) for v in r.integers(0, 100, k)], pa.string()),
    })

    tables["documents"] = _documents(rngs["documents"], n["documents"])
    tables["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])

    paths = {}
    for name in TESTDATA_TABLES:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(tables[name], paths[name])
    return paths


def write_stock_csv(path: str, seed: int, n_symbols: int, n_days: int) -> int:
    """A quoted OHLCV history as the reference's loader receives it:
    every field quoted, ``M/d/yyyy`` dates, and about 2% of the price
    and volume fields replaced by one of the NULL_IF tokens (so the
    pipeline drops the rows whose Close is missing). Prices follow a
    per-symbol random walk and are never zero. Returns the row count."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    symbols: list[str] = []
    seen: set[str] = set()
    while len(symbols) < n_symbols:
        s = "".join(letters[rng.integers(0, 26, int(rng.integers(1, 6)))])
        if s not in seen:
            seen.add(s)
            symbols.append(s)
    start = dt.date(2020, 1, 1)
    dates = [start + dt.timedelta(days=i) for i in range(n_days)]
    steps = rng.normal(0.0, 0.02, (n_symbols, n_days))
    close = rng.uniform(10.0, 500.0, (n_symbols, 1)) * np.exp(np.cumsum(steps, axis=1))
    open_ = close * (1.0 + rng.normal(0.0, 0.01, close.shape))
    high = np.maximum(open_, close) * (1.0 + rng.uniform(0.0, 0.02, close.shape))
    low = np.minimum(open_, close) * (1.0 - rng.uniform(0.0, 0.02, close.shape))
    volume = rng.integers(1_000, 5_000_000, close.shape)
    holes = rng.random((5, n_symbols, n_days)) < 0.02
    tokens = np.array(NULL_TOKENS)[rng.integers(0, len(NULL_TOKENS), (5, n_symbols, n_days))]

    def cell(field: int, i: int, j: int, text: str) -> str:
        return tokens[field, i, j] if holes[field, i, j] else text

    lines = ['"Date","Symbol","Open","High","Low","Close","Volume"']
    for j, d in enumerate(dates):
        day = f"{d.month}/{d.day}/{d.year}"
        for i, sym in enumerate(symbols):
            row = (
                day,
                sym,
                cell(0, i, j, f"{open_[i, j]:.2f}"),
                cell(1, i, j, f"{high[i, j]:.2f}"),
                cell(2, i, j, f"{low[i, j]:.2f}"),
                cell(3, i, j, f"{close[i, j]:.2f}"),
                cell(4, i, j, str(volume[i, j])),
            )
            lines.append(",".join(f'"{v}"' for v in row))
    with open(path, "w", newline="") as f:
        f.write("\n".join(lines) + "\n")
    return n_symbols * n_days


def op_passes(seed: int, names: list[str]):
    """The op order, endless: each pass is a seeded permutation of
    ``names``, so every pass runs each query exactly once."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
    while True:
        yield [names[i] for i in rng.permutation(len(names))]
