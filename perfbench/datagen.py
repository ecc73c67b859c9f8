"""Seeded fixture generator for the benchmark.

Writes the ten tables ``catalog.TABLES`` names, as one parquet file each,
with the schemas and value laws of the engine's sf0.01 test fixture
(TESTDATA.md, FIXTURES.md): a TPC-H-like star schema, an ``events``
stream table stored as TIMESTAMP(NANOS) so that the catalog's
microsecond staging runs, a bag-of-words ``documents`` table with ~5%
planted near-duplicates, and unit-norm 64-dim ``embeddings``.

The same seed gives byte-identical tables; each table draws from its own
generator, so adding a column to one table leaves the others unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at the sf0.01 scale of the engine's fixture.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_DAY_US = 86_400 * 1_000_000
_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)


def _days(rng, n: int, first: str, span_days: int) -> pa.Array:
    d0 = np.datetime64(first, "us").astype("int64")
    return pa.array((d0 + rng.integers(0, span_days, n) * _DAY_US).astype("datetime64[us]"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _region(rng, n):
    return {
        "r_regionkey": pa.array(np.arange(n, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }


def _nation(rng, n):
    keys = np.arange(n, dtype="int32")
    return {
        "n_nationkey": pa.array(keys),
        "n_name": pa.array([f"NATION_{i}" for i in keys]),
        "n_regionkey": pa.array(keys % 5),
    }


def _customer(rng, n):
    return {
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype="int32")),
        "c_acctbal": _money(rng, -1_000, 10_000, n),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        ),
    }


def _supplier(rng, n):
    return {
        "s_suppkey": pa.array(np.arange(n, dtype="int64")),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype="int32")),
        "s_acctbal": _money(rng, -1_000, 10_000, n),
    }


def _part(rng, n):
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.char.add(
        np.char.add(np.array(adjectives)[rng.integers(0, 8, n)], " "),
        np.array(nouns)[rng.integers(0, 8, n)],
    )
    keys = np.arange(n, dtype="int64")
    return {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype="int32")),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
    }


def _orders(rng, n):
    return {
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n, dtype="int64")),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1_000, 500_000, n),
        "o_orderdate": _days(rng, n, "1995-01-01", 2404),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    }


def _lineitem(rng, n):
    return {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype="int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", 2499),
    }


def _events(rng, n):
    t0 = np.datetime64("2024-01-01T00:00:00", "ns").astype("int64")
    offsets = np.sort(rng.integers(0, 30 * _DAY_US * 1_000, n))
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array((t0 + offsets).astype("datetime64[ns]")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype="int64")),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": pa.array(np.maximum(np.round(np.abs(rng.normal(0, 62.3, n)), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    """Word soup of 10-99 words; ~5% of documents copy an earlier one and
    append " dup", the near-duplicate law of the engine's fixture."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(_VOCAB[rng.integers(0, len(_VOCAB), rng.integers(10, 100))]))
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(
            np.array(["en", "zh", "es", "de", "fr"])[
                rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
            ]
        ),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype="int32")),
    }


_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_fixture(out_dir: str, seed: int) -> str:
    """Write every table under ``out_dir`` and return it (the sf_dir that
    query builders take)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(_MAKERS.items()):
        rng = np.random.default_rng([seed, i])
        table = pa.table(make(rng, ROWS[name]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
