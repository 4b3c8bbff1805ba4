"""Deterministic TPC-H-ish warehouse tables for the kpi-query workload.

The tables have the schema and value domains of the engine's test tables
(``region nation customer supplier part orders lineitem events``): money
and measures are exact 2-dp values, order dates span 1995-2001, events
span January 2024 with microsecond timestamps. They are generated from a
fixed seed, not from ``--seed``, so the expected results recorded from the
DuckDB oracles (``expected.json``) hold for every run; ``--seed`` only
shuffles the query order.

The files are written once per checkout under ``<work>/tables-<VERSION>``
and reused; change ``VERSION`` (and re-record ``expected.json``) whenever
the generator changes.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts are those of TPC-H scale factor ``SCALE`` (lineitem ≈ 6M·SCALE).
SCALE = 0.05
VERSION = f"v1-sf{SCALE}"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["large", "small", "hot", "cold", "ring", "bolt", "nut", "gear"]


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Exact 2-dp doubles in [lo, hi] (generated as integer cents)."""
    return rng.integers(lo * 100, hi * 100 + 1, n) / 100.0


def _days(start: dt.date, rng: np.random.Generator, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def build(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = int(150_000 * SCALE)
    n_supp = max(50, int(10_000 * SCALE))
    n_part = int(200_000 * SCALE)
    n_ord = int(1_500_000 * SCALE)
    n_li = int(6_000_000 * SCALE)
    n_ev = int(1_000_000 * SCALE)
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
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999, 9999, n_supp),
    })
    words = np.array(PART_WORDS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(words[rng.integers(0, 4, n_part)], " "),
                              words[rng.integers(4, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(dt.date(1995, 1, 2), rng, 2498, n_li),
    })
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return out


def ensure(work: str) -> str:
    """Return the table directory under ``work``, generating it first if a
    complete copy is not there yet."""
    path = os.path.join(work, f"tables-{VERSION}")
    done = os.path.join(path, "_COMPLETE")
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build(np.random.default_rng(20240101)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, path)
    open(done, "w").close()
    return path


def footer_rows(paths: list[str]) -> int:
    """Rows of the given parquet files, read from their footers."""
    return sum(pq.ParquetFile(p.removeprefix("file://")).metadata.num_rows
               for p in paths)
