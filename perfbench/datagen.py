"""Seeded synthetic tables in the shape of the TPC-H-ish test corpus.

Writes one parquet file per table (the names and schemas
``pg_datalake_spark.catalog.TABLE_NAMES`` expects) into a directory.
Domains follow the corpus the registered queries were written for:
nation names NATION_0..24, part types ECONOMY..STANDARD, retail prices
900..1000, order/ship dates 1995..2001, documents drawn from a small
word vocabulary with planted near-duplicates, 64-d clustered unit
embeddings. The same ``(seed, sf)`` always gives the same tables.

Row counts scale with ``sf`` like the corpus (sf0.01: 60k lineitem,
15k orders); the text and vector corpora keep at least 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "filter group vector"
).split()

_DAY0 = np.datetime64("1995-01-01", "D")


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return (_DAY0 + rng.integers(lo, hi, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": 4 * max(1500, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _region(rng, n, _n) -> pa.Table:
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})


def _nation(rng, n, _n) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, n, _n) -> pa.Table:
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def _supplier(rng, n, _n) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )


def _part(rng, n, _n) -> pa.Table:
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    return pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
        }
    )


def _orders(rng, n, sizes) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, sizes["customer"], n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 1000, 500_000),
            "o_orderdate": _days(rng, n, 0, 2404),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def _lineitem(rng, n, sizes) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, sizes["orders"], n),
            "l_partkey": rng.integers(0, sizes["part"], n),
            "l_suppkey": rng.integers(0, sizes["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, 1, 2499),
        }
    )


def _events(rng, n, _n) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n)),
            "user_id": rng.integers(0, max(150, n // 66), n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n, _n) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            # near-duplicate of an earlier doc: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 90))))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{s}" for s in np.arange(n) % 20],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n, _n) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def tables(seed: int, sf: float, names: list[str] | None = None) -> dict[str, pa.Table]:
    """Every table (or just ``names``), each from its own seeded stream,
    so a subset reads the same as the full set."""
    sizes = _sizes(sf)
    return {
        name: build(np.random.default_rng([seed, i]), sizes.get(name, 0), sizes)
        for i, (name, build) in enumerate(_BUILDERS.items())
        if names is None or name in names
    }


def generate(
    out_dir: str, seed: int, sf: float, names: list[str] | None = None
) -> dict[str, int]:
    """Write the tables to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tab in tables(seed, sf, names).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tab.num_rows
    return counts
