"""Deterministic fixture data for the benchmark.

The benchmark runs from a bare checkout, so it cannot rely on a
fixture directory outside it. This module regenerates the sf0.1
fixture tables the registry queries and their DuckDB oracles were
written against: the same generator (numpy's ``default_rng(42)``),
drawing in the same order, so eight tables -- the TPC-H-like star
schema and the ``events`` stream table -- come out row for row equal
to the fixtures. ``FIXTURE_DIGEST`` pins a digest of each of them,
taken from the fixtures, and a generated table that does not match it
is refused. ``documents`` and ``embeddings`` are written empty, with
the fixtures' columns: no workload reads them, but the oracle's DuckDB
connection makes a view over every catalog table.

The run's ``--seed`` does not reach this module (it only orders ops
and picks lakehouse keys), so every run of every checkout sees the
same bytes. A dataset is generated once per checkout into the cache
directory and its row counts are re-checked on every run.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change, so stale caches rebuild
GEN_VERSION = 4
GEN_SEED = 42

#: per table, ``bit_xor(hash(row number, row))`` in DuckDB over the
#: sf0.1 fixture file (see ``digest``)
FIXTURE_DIGEST = {
    "region": 3811071869568776354,
    "nation": 8030410465980634589,
    "customer": 11969151532079051424,
    "supplier": 15195875894222944599,
    "part": 16219654688547112689,
    "orders": 1656369953102367223,
    "lineitem": 16476495626019071089,
    "events": 11001504487967286277,
}

#: base row counts at sf0.1
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUSES = ["O", "F", "P"]
#: orders are dated uniformly over this many days from ORDER_DAY0
ORDER_DAY0 = "1995-01-01"
ORDER_DAYS = 2405
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: catalog tables no workload reads, written empty
PLACEHOLDERS = {
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]),
}


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _day_ts(base: str, days: np.ndarray) -> pa.Array:
    return _ts_us(base, days.astype(np.int64) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = BASE_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), p)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), p)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": np.array(ORDER_STATUSES)[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            # 1995-01-01 .. 2001-08-01
            "o_orderdate": _day_ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS, o)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, li)],
            # 1995-01-02 .. 2001-11-04
            "l_shipdate": _day_ts("1995-01-02", rng.integers(0, 2499, li)),
        }
    )
    e = n["events"]
    # seconds into the month, through nanoseconds down to microseconds
    offs = (np.sort(rng.uniform(0, 30 * 86_400, e)) * 1e9).astype(np.int64) // 1000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": _ts_us("2024-01-01", offs),
            "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    return out


def digest(path: str) -> int:
    """An order-sensitive digest of every value of a parquet file."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT bit_xor(hash(i, t)) FROM (SELECT row_number() OVER () AS i, t "
            f"FROM read_parquet('{path}') t)"
        ).fetchone()[0]
    finally:
        con.close()


def check(data_dir: str) -> None:
    """Raise unless every table has its expected row count (footers only)."""
    for t, want in BASE_ROWS.items():
        got = pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        if got != want:
            raise RuntimeError(f"{data_dir}/{t}: {got} rows, expected {want}")


def _ready(data_dir: str) -> bool:
    try:
        with open(os.path.join(data_dir, "_READY.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return False
    return meta.get("version") == GEN_VERSION


def ensure_base(cache_dir: str) -> tuple[str, float]:
    """Generate the sf0.1 tables once; returns (dir, seconds spent now)."""
    d = os.path.join(cache_dir, f"sf0.1-v{GEN_VERSION}")
    if _ready(d):
        check(d)
        return d, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, table in _tables(np.random.default_rng(GEN_SEED)).items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    for name, schema in PLACEHOLDERS.items():
        pq.write_table(schema.empty_table(), os.path.join(d, f"{name}.parquet"))
    check(d)
    for name, want in FIXTURE_DIGEST.items():
        if digest(os.path.join(d, f"{name}.parquet")) != want:
            raise RuntimeError(f"generated {name} differs from the sf0.1 fixture")
    build_s = time.perf_counter() - t0
    with open(os.path.join(d, "_READY.json"), "w") as f:
        json.dump({"version": GEN_VERSION, "build_s": build_s}, f)
    return d, build_s
