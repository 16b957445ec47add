"""Seeded generator of the star-schema input tables.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``) as one parquet file each, with the column names, types
and value distributions of the fixture tables (FIXTURES.md): uniform
keys, two-decimal money columns, midnight order/ship dates as
``timestamp[ms]``, a time-sorted event stream with ``timestamp[ns]``
times, a 30-word document vocabulary with 5% of documents a
near-duplicate (``<text> dup``) of another, and unit-norm 64-d float
embeddings. The same ``(sf, seed)`` always writes the same rows and
values.
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

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.14, 0.15, 0.14, 0.15]

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TPC-H proportions; the
    document and embedding corpora have a 500-row floor)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days_us(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = (np.datetime64(first, "D") - _EPOCH).astype(np.int64)
    hi = (np.datetime64(last, "D") - _EPOCH).astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(us: np.ndarray, unit: str) -> pa.Array:
    """Naive timestamps of unit ``unit`` from microseconds since 1970."""
    return pa.array(us, pa.timestamp("us")).cast(pa.timestamp(unit))


def orders_table(rng, keys: np.ndarray, n_customers: int) -> pa.Table:
    """``orders`` rows with the given keys and seeded values."""
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(_days_us(rng, n, "1995-01-01", "2001-08-01"), "ms"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(c)),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -1000, 10000, c),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(s)),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -1000, 10000, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(p)),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], p),
        "p_type": _pick(rng, _PTYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    out["orders"] = orders_table(rng, np.arange(o), c)
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _ts(_days_us(rng, li, "1995-01-02", "2001-11-04"), "ms"),
    })
    ev = n["events"]
    t0 = (np.datetime64("2024-01-01", "D") - _EPOCH).astype(np.int64) * _DAY_US
    out["events"] = pa.table({
        "event_id": i64(np.arange(ev)),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * _DAY_US, ev)), "ns"),
        "user_id": i64(rng.integers(0, max(1, round(15_000 * sf)), ev)),
        "event_type": _pick(rng, _EVENT_TYPES, ev),
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    d = n["documents"]
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, d)]
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(d)),
        "text": texts,
        "lang": _pick(rng, _LANGS, d, _LANG_P),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": i64([len(t) for t in texts]),
    })
    m = n["embeddings"]
    x = rng.standard_normal((m, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(m)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(m + 1) * 64, pa.int32()), pa.array(x.ravel())
        ),
        "label": i32(rng.integers(0, 10, m)),
    })
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``{sf_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 22)
        rows[name] = table.num_rows
    return rows
