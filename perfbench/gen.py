"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine's registry reads (`region` ...
`embeddings`) as single parquet files under one directory, with the
schemas and value domains of the engine's test fixtures: a TPC-H-like
star schema, an `events` stream table and a text corpus with exact
and near duplicates. Row counts scale with `sf` the way the fixtures
do (lineitem = 6M x sf).

The same (sf, seed) always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * DAY_US).astype("datetime64[us]")


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # ~5% near duplicates (a copy of another doc with one word
    # inserted) and a handful of exact duplicates: the dedup and
    # similarity operators need both to have work to do.
    for i in rng.choice(n, size=n // 20, replace=False):
        words = texts[int(rng.integers(0, n))].split()
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts[i] = " ".join(words)
    for i in rng.choice(n, size=max(2, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (deterministic in sf and seed)."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32, i64 = np.int32, np.int64
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=i64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=i64),
            "o_custkey": rng.integers(0, nc, no).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, no)),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(i64),
            "l_partkey": rng.integers(0, npart, nl).astype(i64),
            "l_suppkey": rng.integers(0, ns, nl).astype(i64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng.uniform(900.0, 105_000.0, nl)),
            "l_discount": _cents(rng.uniform(0.0, 0.1, nl)),
            "l_tax": _cents(rng.uniform(0.0, 0.08, nl)),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * DAY_US / ne, ne).astype(i64) + 1
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=i64),
            "ts": (EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(2, int(15_000 * sf)), ne).astype(i64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": _cents(rng.exponential(50.0, ne)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(
    out_dir: str, sf: float, seed: int, only: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the tables (all, or those named in `only`) as
    `<out_dir>/<name>.parquet`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in make_tables(sf, seed).items():
        if only and name not in only:
            continue
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
