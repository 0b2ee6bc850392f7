"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables ``hadoop_copier_spark.tables.TABLES`` reads, one
parquet file each, with the column names, types and value domains the
engine's queries expect (TPC-H-like star schema, an ``events`` stream
table and the LLM-pipeline ``documents``/``embeddings`` tables).

The data depends only on ``scale`` and a fixed data seed, never on the
workload seed, so recorded result hashes (``expected.json``) stay valid
for every run; the workload seed only orders the mix and shapes the
generated copy tree.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (1.0 ~ TPC-H sf1 for lineitem)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "lineitem": max(6_000, int(6_000_000 * scale)),
        "events": max(10_000, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            # near-duplicate of an earlier document: a few words replaced,
            # so MinHash/SimHash/LSH operators find real candidate pairs
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[k] for k in rng.integers(0, 5, n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(0.0, 0.12, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = (centroids[labels] + rng.normal(0.0, 0.06, (n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(scale: float) -> dict[str, pa.Table]:
    """Build every fixture table in memory (deterministic for a scale)."""
    rng = np.random.default_rng(DATA_SEED)
    n = table_sizes(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array([_SEGMENTS[k] for k in rng.integers(0, 5, nc)]),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
            "p_type": pa.array([_PART_TYPES[k] for k in rng.integers(0, 6, npart)]),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
        }
    )
    no = n["orders"]
    odate_days = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, no)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts(_EPOCH_1995 + odate_days * _DAY_US),
            "o_orderpriority": pa.array([_PRIORITIES[k] for k in rng.integers(0, 5, no)]),
        }
    )
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, nl)]),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2498, nl)) * _DAY_US),
        }
    )
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, nc, ne), pa.int64()),
            "event_type": pa.array([_EVENT_TYPES[k] for k in rng.integers(0, 5, ne)]),
            "value": pa.array(_money(rng, 0.01, 490.0, ne)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_fixtures(out_dir: str, scale: float) -> str:
    """Write every fixture table as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
