"""Deterministic sf0.1-shaped input tables for the registry workload.

The registry queries read ten parquet tables from one directory. The
benchmark builds them here from numpy and pyarrow, so a run needs no data
from outside its checkout. Row counts, column types and value domains
copy the sf0.1 test tables: a TPC-H-like star schema and an ``events``
stream table built here, and the ``documents`` corpus (planted exact and
near duplicates) and unit-norm ``embeddings`` (ten clusters) of
``tools/gen_scale_data.py`` at multiplier 1.

The data depends only on ``DATA_SEED``, never on the run's ``--seed``:
the seed permutes query order, the inputs stay fixed, so two runs with
different seeds time the same work. The tables are built once per
checkout and generator version and reused by later runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import HERE, ROOT

sys.path.insert(0, str(ROOT / "tools"))
import gen_scale_data  # noqa: E402

CACHE = ROOT / ".perfbench_cache"

DATA_SEED = 42
SF = 0.1
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": int(150_000 * SF),
    "supplier": int(10_000 * SF),
    "part": int(200_000 * SF),
    "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
    "events": int(1_000_000 * SF),
    "documents": int(50_000 * SF),
    "embeddings": int(20_000 * SF),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "pipe", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_SCALE = {"click": 20.0, "error": 60.0, "purchase": 110.0, "signup": 8.0, "view": 4.0}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    day0 = np.datetime64(start, "D")
    return (day0 + rng.integers(0, span, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tpch(rng) -> dict[str, pa.Table]:
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    pk = np.arange(n["part"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, "1995-01-02", 2499, m),
        }
    )
    return t


def _events(rng) -> pa.Table:
    n = ROWS["events"]
    types = rng.choice(EVENT_TYPES, n)
    scale = np.vectorize(EVENT_SCALE.get)(types)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(t0 + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": types,
            "value": np.round(rng.exponential(scale), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str) -> dict[str, int]:
    """Write all ten tables as ``<out_dir>/<name>.parquet``; returns the
    row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    tables = _tpch(rng)
    tables["events"] = _events(rng)
    tables["documents"] = gen_scale_data.gen_documents(ROWS["documents"], rng)
    tables["embeddings"] = gen_scale_data.gen_embeddings(ROWS["embeddings"], rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def cached_tables() -> str:
    """The directory of the ten tables, built on first use. The cache key
    hashes both generators, so a change to either builds afresh; the
    build goes to a temporary directory renamed into place."""
    h = hashlib.sha256()
    for p in (HERE / "datagen.py", ROOT / "tools" / "gen_scale_data.py"):
        h.update(p.read_bytes())
    out = CACHE / f"sf{SF}-{h.hexdigest()[:12]}"
    if all((out / f"{name}.parquet").is_file() for name in ROWS):
        return str(out)
    tmp = CACHE / f"{out.name}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(str(tmp))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return str(out)
