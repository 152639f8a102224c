"""Deterministic inputs for the benchmark.

The tables follow the schemas and value domains of the project's fixtures
(FIXTURES.md): a TPC-H-like star (region .. lineitem), an ``events`` stream
table and the two LLM-pipeline tables (``documents``, ``embeddings``). The
content of a table depends only on its scale; the run seed only permutes the
row order of the fact tables (see :func:`write_tables`), which is what a
float summation-order defect depends on.

Everything is generated with NumPy and written with PyArrow, so no Spark
session is needed and the timing of the program is not disturbed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

CONTENT_SEED = 20240101
ROW_GROUP_ROWS = 65536

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_EMB_DIM = 64


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    """Uniform amounts with two decimals, built from integer cents so every
    value is the double nearest to its two-decimal literal."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size) / 100.0


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def relational(sf: float) -> dict[str, pa.Table]:
    """region .. lineitem at scale factor ``sf`` (6 M lineitem rows per 1.0)."""
    rng = np.random.default_rng([CONTENT_SEED, 1, round(sf * 1e6)])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = pa.int32()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": (9000 + pk % 1000) / 10.0,
    })
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    return out


def events(n_events: int, n_users: int) -> pa.Table:
    """Click-stream rows over January 2024, ``ts`` ascending with event_id."""
    rng = np.random.default_rng([CONTENT_SEED, 2, n_events, n_users])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def documents(n_docs: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; 5 % are near-duplicates
    (another document's text plus the token ``dup``)."""
    rng = np.random.default_rng([CONTENT_SEED, 3, n_docs])
    lengths = rng.integers(10, 101, n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lengths]
    dups = np.sort(rng.choice(n_docs, n_docs // 20, replace=False))
    for d, src in zip(dups, rng.integers(0, n_docs, len(dups))):
        texts[d] = texts[src if src != d else (src + 1) % n_docs] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(n_vecs: int) -> pa.Table:
    """Unit-norm float32 vectors, each drawn around one of 10 labelled centres."""
    rng = np.random.default_rng([CONTENT_SEED, 4, n_vecs])
    centres = rng.normal(0.0, 1.0, (10, _EMB_DIM))
    labels = rng.integers(0, 10, n_vecs)
    x = 0.5 * centres[labels] / np.sqrt(_EMB_DIM) + rng.normal(0.0, 1.0, (n_vecs, _EMB_DIM)) / np.sqrt(_EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n_vecs * _EMB_DIM + 1, _EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def build(sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Every table of one input set, in canonical (unpermuted) row order."""
    tables = relational(sf)
    tables["events"] = events(int(1_000_000 * sf), max(15, int(15_000 * sf)))
    tables["documents"] = documents(n_docs)
    tables["embeddings"] = embeddings(n_vecs)
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write each table as ``<out_dir>/<name>.parquet``. The rows of the fact
    tables are written in a ``seed``-dependent order; the set of rows never
    changes. Files are written in row groups so that Spark can split
    a large table across tasks."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        if name in ("orders", "lineitem"):
            perm = np.random.default_rng([seed, TABLES.index(name)]).permutation(table.num_rows)
            table = table.take(perm)
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=ROW_GROUP_ROWS)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def split_points(ts_us: np.ndarray, n_batches: int, seed: int) -> np.ndarray:
    """Indices cutting the ts-sorted ``ts_us`` into ``n_batches`` micro-batches
    at exact quantiles, jittered by the seed. A cut never falls inside a run of
    equal timestamps, so every batch boundary is a strict ts boundary."""
    rng = np.random.default_rng([seed, 99])
    q = (np.arange(1, n_batches) + rng.uniform(-0.3, 0.3, n_batches - 1)) / n_batches
    cuts = np.searchsorted(ts_us, ts_us[(q * len(ts_us)).astype(np.int64)], side="left")
    return np.unique(cuts[(cuts > 0) & (cuts < len(ts_us))])
