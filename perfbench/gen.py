"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the package's catalog reads (one parquet file
each) with the schemas and value ranges of the package's test fixtures
(see FIXTURES.md): a TPC-H-shaped star (region, nation, customer,
supplier, part, orders, lineitem), an ``events`` stream table, and a
``documents`` corpus with unit-norm 64-d ``embeddings``. Every column
is drawn independently and uniformly, as in the fixtures, from a numpy
generator seeded by ``seed``; the same (sf, seed) always gives the
same bytes apart from file mtimes.

Row counts scale with ``sf`` as the fixtures do (lineitem = 6M x sf),
with the corpus tables floored at 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PART_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_US = 86_400 * 1_000_000


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, options, n, p=None) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """name -> arrow table for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    part_key = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": part_key,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (part_key % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _choice(rng, ("F", "P", "O"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _choice(rng, ("O", "F"), n_line),
            "l_shipdate": _ts(_days(rng, n_line, "1995-01-02", "2001-11-04")),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(start + offsets),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(30.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``<out_dir>/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys

    # python3 perfbench/gen.py <out_dir> <sf> <seed>
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
