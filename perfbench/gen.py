"""Seeded input generator for the benchmark.

Writes the CRM extract: the tables of the driver star schema
(FIXTURES.md section A) that the export pipelines read -- region,
nation, customer, supplier, part, orders and lineitem -- as one
single-row-group parquet file per table, with the same column names,
types and value domains as the fixture tables the registry queries and
their DuckDB twins are written against.  The schema's other tables
(events, documents, embeddings) are written empty.

``scale`` counts units of the smallest fixture (sf0.001): one unit is
150 customers, 10 suppliers, 200 parts, 1,500 orders and 6,000
lineitems.  The same ``(seed, tag)`` always gives the same bytes; keys
are unique within each table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
_NOUNS = ["widget", "bolt", "ring", "plate", "gear", "valve", "pipe", "screw"]
_PTYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_UNREAD = {
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())]),
}
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000   # 1995-01-01


def _money(rng, lo, hi, n):
    """Uniform amounts with exactly two decimals (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def write_extract(out_dir: str, seed: int, tag: int, scale: float) -> int:
    """Write the CRM extract's tables under *out_dir* and return the
    total row count written.  *tag* separates inputs of one seed
    (for example one per pass) so each directory holds its own data."""
    rng = np.random.default_rng([seed, tag])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(10, int(200 * scale))
    n_ord = max(10, int(1500 * scale))
    n_line = max(40, int(6000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{c} {n}" for c, n in zip(
            rng.choice(_COLORS, n_part), rng.choice(_NOUNS, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part).tolist()]),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array((9000 + pk % 1000) / 10.0),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2400, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_EPOCH_1995_US + odays * _DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lpk = rng.integers(0, n_part, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(lpk),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            (qty.astype(np.int64) * (90000 + lpk % 1000 * 10)
             + rng.integers(0, 200, n_line)) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(
            _EPOCH_1995_US + (odays[lok] + rng.integers(1, 122, n_line))
            * _DAY_US, pa.timestamp("us")),
    })
    # the other fixture tables, empty: the DuckDB twins register every
    # table of the schema as a view
    for name, schema in _UNREAD.items():
        pq.write_table(schema.empty_table(),
                       os.path.join(out_dir, f"{name}.parquet"))
    return 5 + 25 + n_cust + n_supp + n_part + n_ord + n_line
