"""Seeded input generator for the benchmark.

Writes the ten tables the registry queries read (``apache_nifi_spark.io.TABLES``)
with the column names, types and value domains of the engine's test fixtures
(FIXTURES.md): a TPC-H-like star schema, an ``events`` stream table, a text
corpus and unit-norm embeddings.

The *content* of every table is a pure function of the scale factor (it is
drawn from a fixed base seed), and the benchmark seed only permutes each
table's row order.  Two seeds therefore hold the same rows, so every
order-insensitive query must give the same result on both, while the engine
still sees a differently laid-out input per seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Content seed; the benchmark seed never changes which rows exist.
BASE_SEED = 42

#: Rows per parquet row group: a multi-group file scans as several splits,
#: as a real table of several blocks does.
ROW_GROUP_ROWS = 100_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "green", "small", "large", "shiny", "old", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "widget", "spring", "valve", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The seed-independent content of every table at ``sf``."""
    n = table_rows(sf)
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), np_)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, np_)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    part = rng.integers(0, np_, nl)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": part.astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * (900.0 + (part % 1000) * 0.1) * rng.uniform(0.9, 1.1, nl), 2
            ),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_US),
        }
    )
    ne = n["events"]
    users = max(150, int(15_000 * sf))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": rng.integers(0, users, ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Random word sequences; one document in ten is a near-copy of an
    earlier one (a few words replaced), so near-duplicate detection has
    something to find."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit-norm float32 vectors around ten label centroids."""
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    vecs = centers[label] + rng.normal(0.0, 1.5, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def permute(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Shuffle each table's rows with ``seed``; content is unchanged."""
    rng = np.random.default_rng(seed)
    return {
        name: tbl.take(rng.permutation(tbl.num_rows)) for name, tbl in sorted(tables.items())
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP_ROWS)


def generate(sf: float, seed: int, out_dir: str) -> dict[str, int]:
    """Write the seeded inputs at ``sf`` to ``out_dir``; returns row counts."""
    tables = permute(base_tables(sf), seed)
    write_tables(tables, out_dir)
    return {name: tbl.num_rows for name, tbl in tables.items()}
