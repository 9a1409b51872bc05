"""Seeded generator for the registry queries' parquet tables.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``) with the
column names and physical types of the TPC-H-like test data the registry
was validated on, at a given scale factor.  The seed drives every value;
the row counts depend on the scale factor alone.  Documents include
near-duplicate copies and embeddings are clustered by label, so the
dedup and ANN queries have real work to find.
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
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "cold", "hot", "old", "new", "red", "blue"]
PART_NOUN = ["widget", "bolt", "rod", "ring", "anvil", "plate", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "the a data row column table key value query join filter group sort merge "
    "hash scan window batch stream spark agg part line order customer vector "
    "small big fast slow"
).split()
EMBED_DIM = 64
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


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


def _money(r: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _pick(r: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[r.integers(0, len(values), n)]


def _names(prefix: str, n: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 9))


def _documents(r: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and r.random() < 0.1:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), 3):
                words[j] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            words = list(np.array(WORDS)[r.integers(0, len(WORDS), int(r.integers(8, 90)))])
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, n),
        "source": np.char.add("src", r.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(r: np.random.Generator, n: int) -> pa.Table:
    labels = r.integers(0, 10, n).astype(np.int32)
    centers = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + r.normal(0.0, 0.6, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``out_dir/<table>.parquet`` for every table; return the row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_rows(sf)

    def rng(salt: int) -> np.random.Generator:
        return np.random.default_rng([seed, salt])

    def days(r: np.random.Generator, k: int, span_days: int) -> np.ndarray:
        return _EPOCH_1995 + r.integers(0, span_days, k) * np.timedelta64(1, "D")

    r = rng(0)
    tables: dict[str, pa.Table | dict] = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer#", n["customer"]),
            "c_nationkey": r.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(r, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(r, SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier#", n["supplier"]),
            "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(r, n["supplier"], -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": np.char.add(np.char.add(_pick(r, PART_ADJ, n["part"]), " "),
                                  _pick(r, PART_NOUN, n["part"])),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n["part"]).astype(str)),
            "p_type": _pick(r, PART_TYPES, n["part"]),
            "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2),
        },
    }

    r = rng(1)
    no = n["orders"]
    tables["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], no),
        "o_orderstatus": _pick(r, ["F", "O", "P"], no),
        "o_totalprice": _money(r, no, 1000.0, 500_000.0),
        "o_orderdate": days(r, no, 2404),
        "o_orderpriority": _pick(r, PRIORITIES, no),
    }

    r = rng(2)
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": r.integers(0, no, nl),
        "l_partkey": r.integers(0, n["part"], nl),
        "l_suppkey": r.integers(0, n["supplier"], nl),
        "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], nl),
        "l_linestatus": _pick(r, ["O", "F"], nl),
        "l_shipdate": days(r, nl, 2500),
    }

    r = rng(3)
    ne = n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, ne))
    tables["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(15, ne // 66), ne),
        "event_type": _pick(r, EVENT_TYPES, ne),
        "value": _money(r, ne, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
    }

    tables["documents"] = _documents(rng(4), n["documents"])
    tables["embeddings"] = _embeddings(rng(5), n["embeddings"])

    for name in TABLES:
        tbl = tables[name]
        if not isinstance(tbl, pa.Table):
            tbl = pa.table(tbl)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return n
