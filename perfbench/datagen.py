"""Seeded generator for the fixture schema (FIXTURES.md), so the benchmark
needs no data outside its checkout.

Each table is drawn from its own NumPy stream keyed on ``(seed, table)``, so
the same seed and scale give identical tables whichever subset is written.
Distributions follow the shipped fixtures: uniform foreign keys, lineitem's
duplicate ``(l_orderkey, l_linenumber)`` pairs, a 30-word document
vocabulary with ~5% near-duplicate documents (an earlier text plus " dup"),
and unit-norm 64-d embeddings around ten label centres. ``fixture_stats.py``
prints these statistics for generated tables beside the fixtures'.

Each table is written with pyarrow as ONE parquet file
``<dir>/<table>.parquet`` holding one row group, the layout
``catalog.optimize_layout`` and ``ParquetSource`` expect. No JVM is
involved, so preparing inputs costs milliseconds, not Spark jobs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 1 (the fixtures at sf0.1 hold a tenth)
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DAY_US = 86_400_000_000
_1995_01_01_US = 788_918_400_000_000
_2024_01_01_US = 1_704_067_200_000_000


def n_rows(table: str, sf: float) -> int:
    if table == "region":
        return 5
    if table == "nation":
        return 25
    return max(10, int(round(ROWS_AT_SF1[table] * sf)))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def table_data(table: str, seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, TABLES.index(table)])
    n = n_rows(table, sf)
    ids = np.arange(n, dtype=np.int64)
    if table == "region":
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        return pa.table({"r_regionkey": pa.array(ids, pa.int32()), "r_name": names})
    if table == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(ids, pa.int32()),
                "n_name": [f"NATION_{i}" for i in ids],
                "n_regionkey": pa.array(ids % 5, pa.int32()),
            }
        )
    if table == "customer":
        return pa.table(
            {
                "c_custkey": ids,
                "c_name": [f"Customer#{i:09d}" for i in ids],
                "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n),
                "c_mktsegment": _pick(
                    rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n
                ),
            }
        )
    if table == "supplier":
        return pa.table(
            {
                "s_suppkey": ids,
                "s_name": [f"Supplier#{i:09d}" for i in ids],
                "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n),
            }
        )
    if table == "part":
        adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
        noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
        a, b = rng.integers(0, 8, n), rng.integers(0, 8, n)
        return pa.table(
            {
                "p_partkey": ids,
                "p_name": [f"{adj[i]} {noun[j]}" for i, j in zip(a, b)],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
                "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n),
                "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                "p_retailprice": np.round(900 + (ids % 1000) / 10, 1),
            }
        )
    if table == "orders":
        return pa.table(
            {
                "o_orderkey": ids,
                "o_custkey": rng.integers(0, n_rows("customer", sf), n),
                "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderdate": _ts(_1995_01_01_US + _DAY_US * rng.integers(0, 2404, n)),
                "o_orderpriority": _pick(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                ),
            }
        )
    if table == "lineitem":
        return pa.table(
            {
                "l_orderkey": rng.integers(0, n_rows("orders", sf), n),
                "l_partkey": rng.integers(0, n_rows("part", sf), n),
                "l_suppkey": rng.integers(0, n_rows("supplier", sf), n),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                "l_discount": rng.integers(0, 11, n) / 100,
                "l_tax": rng.integers(0, 9, n) / 100,
                "l_returnflag": _pick(rng, ["N", "A", "R"], n),
                "l_linestatus": _pick(rng, ["F", "O"], n),
                "l_shipdate": _ts(
                    _1995_01_01_US + _DAY_US * (1 + rng.integers(0, 2498, n))
                ),
            }
        )
    if table == "events":
        step = 30 * _DAY_US // n
        return pa.table(
            {
                "event_id": ids,
                "ts": _ts(_2024_01_01_US + ids * step + rng.integers(0, step, n)),
                "user_id": rng.integers(0, max(10, n // 66), n),
                "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        )
    if table == "documents":
        texts: list[str] = []
        for i in range(n):
            if i and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                words = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
                texts.append(" ".join(WORDS[w] for w in words))
        return pa.table(
            {
                "doc_id": ids,
                "text": texts,
                "lang": _pick(rng, ["en", "en", "en", "zh", "de", "es", "fr"], n),
                "source": [f"src{i % 20}" for i in ids],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
    if table == "embeddings":
        centres = rng.uniform(-0.2, 0.2, (10, 64))
        label = rng.integers(0, 10, n)
        v = centres[label] + rng.uniform(-0.05, 0.05, (n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table(
            {
                "vec_id": ids,
                "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                "label": pa.array(label, pa.int32()),
            }
        )
    raise ValueError(f"unknown table {table}")


def write_tables(out_dir: str, seed: int, sf: float, tables=TABLES) -> str:
    """Write each table as the single file ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for table in tables:
        data = table_data(table, seed, sf)
        pq.write_table(
            data,
            os.path.join(out_dir, f"{table}.parquet"),
            row_group_size=max(1, data.num_rows),
            coerce_timestamps="us",
        )
    return out_dir
