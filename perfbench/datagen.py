"""Seeded input generator for the benchmark.

Writes the star-schema tables the workloads read (region, nation,
customer, supplier, part, orders, lineitem, events, documents) as one
parquet file each, with the column names and types of the engine's
corpus, so every registry builder and every DuckDB oracle runs on them
unchanged. Row counts follow the corpus scale rule (orders =
1.5M x sf, about four lineitems per order); values are drawn from a
numpy generator seeded by ``seed``, so one seed always yields the same
bytes and another seed yields a corpus of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "large", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
#: the corpus's document vocabulary: a small shared word pool makes
#: near-duplicate pairs common, which is what the similarity join is for
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: rows per table at sf = 1
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
}

_DAY_US = 86_400 * 1_000_000
#: 1995-01-01 and 2024-01-01 as microseconds since the epoch
_ORDER_EPOCH_US = 9131 * _DAY_US
_EVENT_EPOCH_US = 19723 * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float, n_docs: int) -> dict[str, int]:
    """Write every table under ``out_dir`` and return its row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(int(r * sf), 10) for t, r in _ROWS.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })

    npart = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })

    no = n["orders"]
    odate = _ORDER_EPOCH_US + rng.integers(0, 2404, no) * _DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    # 1..7 lines per order, as in the corpus (about four on average)
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * _DAY_US),
    })

    ne = n["events"]
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(np.sort(_EVENT_EPOCH_US + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.integers(0, max(nc // 10, 10), ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, ne, 0.01, 500.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    words = np.array(WORDS)
    text = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 101, n_docs)
    ]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
