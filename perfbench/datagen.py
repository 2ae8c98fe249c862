"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the workload reads (a TPC-H-style star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the
same schemas, row counts and value distributions as the engine's sf0.1
test fixtures. The data depends only on `DATA_SEED` and `scale`, never
on the benchmark's `--seed`, so the expected digests pinned in
`families.json` hold for every run; the run seed chooses the queries.

`scale=1.0` gives sf0.1 (600,000 lineitem rows); `scale=0.01` gives the
sf0.001 sizes the smoke test uses. `nation` and `region` do not scale.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated bytes change, so cached copies are rebuilt.
VERSION = 1

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05  # documents that copy an earlier one and append "dup"
EMBED_DIM = 64


def _days(start: str, end: str) -> tuple[int, int]:
    epoch = dt.date(1970, 1, 1)
    return ((dt.date.fromisoformat(start) - epoch).days,
            (dt.date.fromisoformat(end) - epoch).days)


def _day_ts(rng, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    us = rng.integers(lo, hi + 1, n).astype("int64") * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = {k: max(1, round(v * scale)) for k, v in BASE_ROWS.items()}
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    ne, nd, nv = n["events"], n["documents"], n["embeddings"]
    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype="int64"))  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(nc)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(ns)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(np_)
    out["part"] = pa.table({
        "p_partkey": i64(keys),
        "p_name": _pick(rng, names, np_),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": i32(rng.integers(1, 51, np_)),
        "p_retailprice": np.round(900 + 0.1 * (keys % 1000), 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, np_, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _day_ts(rng, nl, "1995-01-02", "2001-11-04"),
    })
    lo, hi = _days("2024-01-01", "2024-01-31")
    ts = np.sort(rng.integers(lo * 86_400_000_000, hi * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": i64(range(ne)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 1500, ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = _documents(rng, nd)
    vec = rng.standard_normal((nv, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(nv)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, nv)),
    })
    return out


def ensure(root: str, scale: float = 1.0) -> str:
    """Return a directory holding the tables at `scale`, generating them
    under `root` unless a complete copy of this version is already there."""
    out = os.path.join(root, f"v{VERSION}_scale{scale:g}")
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, tbl in _tables(scale).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    open(done, "w").close()
    return out
