"""Seeded inputs for the benchmark.

Two kinds of input, with two seeds:

- The fixture tables (``write_tables``) have the schemas of the engine's
  ten parquet tables at the sf0.01 row counts. Their contents come from
  the fixed ``DATA_SEED``, never from ``--seed``, so every query's result
  (and the row counts pinned for the unpaired queries) is the same for
  every run. They are written once per checkout and reused.
- The run plan (``plan``) comes from ``--seed``: the op order of every
  pass and the fleet's group ids. The same seed gives the same plan;
  different seeds give different ones.

The engine receives only these generated inputs: a directory of parquet
files and, for the fleet tick, a tuple of group ids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
DATA_VERSION = "sf0.01-v2"  # bump when the table generator changes

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "cold", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EMBED_DIM = 64


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables() -> dict[str, pa.Table]:
    """All ten fixture tables as Arrow tables, drawn from ``DATA_SEED``."""
    rng = np.random.default_rng(DATA_SEED)
    r = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = r["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(_SEGMENTS, n),
        }
    )
    n = r["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, n), rng.choice(_PART_NOUN, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(_PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
        }
    )
    n = r["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        }
    )
    n = r["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = r["events"]
    gaps_us = rng.exponential(260e6, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = r["documents"]
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 8 and i > 20:
            # a near-duplicate of an earlier document, as in the fixtures
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n = r["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
    vecs = centers[labels] * 0.04 + rng.normal(0.0, 1.0, (n, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in vecs.astype(np.float32)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(root: str) -> str:
    """Write the tables under ``root/DATA_VERSION`` unless already there;
    returns the directory (the engine's ``sf`` argument)."""
    sf_dir = os.path.join(root, DATA_VERSION)
    marker = os.path.join(sf_dir, ".complete")
    if os.path.exists(marker):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables().items():
        tmp = os.path.join(sf_dir, f".{name}.parquet.{os.getpid()}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(DATA_VERSION)
    return sf_dir


def plan(ops: list[str], seed: int, passes: int, fleet_groups: int) -> dict:
    """The run plan for one workload: a fresh op order per pass and the
    fleet's group ids, all drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    orders = [[ops[i] for i in rng.permutation(len(ops))] for _ in range(passes)]
    ids = rng.choice(10**6, size=fleet_groups, replace=False)
    return {
        "pass_orders": orders,
        "fleet_groups": tuple(f"grp-{i:06d}" for i in sorted(ids)),
    }

