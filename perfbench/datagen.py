"""Seeded synthetic tables for the benchmark.

The schemas and value domains follow the TPC-H-like star schema the engine's
query registry is written against (region, nation, customer, supplier, part,
orders, lineitem) plus the ``events``, ``documents`` and ``embeddings``
tables.  Every table is a pure function of ``(seed, scale)``: the same seed
always gives the same bytes, so runs differ only in what the seed varies.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["cold", "small", "large", "red", "blue", "heavy"]
_PART_NOUNS = ["widget", "bolt", "gear", "nut", "spring", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector dup"
).split()

_EPOCH_1995 = int(dt.datetime(1995, 1, 1).timestamp()) * 1_000_000
_EPOCH_2024 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def tpch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 would be 6 M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    words = np.asarray(_PART_WORDS, dtype=object)[rng.integers(0, 6, n_part)]
    nouns = np.asarray(_PART_NOUNS, dtype=object)[rng.integers(0, 6, n_part)]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": pa.array(words + " " + nouns),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    okey = np.sort(rng.integers(0, n_ord, n_line)).astype("int64")
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, n_line) * _DAY_US),
    })
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0.0, 330.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    n_doc = max(100, int(50_000 * scale))
    vocab = np.asarray(_WORDS, dtype=object)
    lens = rng.integers(20, 90, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    n_emb = max(100, int(20_000 * scale))
    vecs = rng.normal(0, 0.12, (n_emb, 64)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    return out


def churn_table(seed: int, file_no: int, version: int, rows: int) -> pa.Table:
    """One file of the churn working set at one version (lineitem-like)."""
    rng = np.random.default_rng([seed, file_no, version])
    qty = rng.integers(1, 51, rows).astype("float64")
    return pa.table({
        "l_orderkey": np.sort(rng.integers(0, rows * 4, rows)).astype("int64"),
        "l_linenumber": rng.integers(1, 8, rows).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], rows),
        "l_linestatus": _pick(rng, ["F", "O"], rows),
    })
