"""Seeded generator for the driver-layout tables that driver_suite reads.

The ten tables (region nation customer supplier part orders lineitem
events documents embeddings) have the column names, types and value
shapes of the spark-graft driver's fixtures, and like them are written as
ONE parquet row group per table, with no NULLs.  Row counts follow the
driver's scale factor `sf` (events 1M*sf, lineitem 6M*sf, ...).  Every
value is a pure function of (seed, sf): one numpy Generator per table,
seeded from (seed, table index).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
_DAY_US = 86_400 * 10**6
_T1995 = np.datetime64("1995-01-01", "us").astype("int64")
_T2024 = np.datetime64("2024-01-01", "us").astype("int64")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, sf):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names}


def _nation(rng, sf):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def _customer(rng, sf):
    n = max(1, int(150_000 * sf))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    return {
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": segs[rng.integers(0, 5, n)],
    }


def _supplier(rng, sf):
    n = max(1, int(10_000 * sf))
    return {
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


def _part(rng, sf):
    n = max(1, int(200_000 * sf))
    adj = np.array(["small", "red", "blue", "hot", "green", "large", "cold",
                    "shiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate",
                     "nut", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                        noun[rng.integers(0, 8, n)])
    return {
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2),
    }


def _orders(rng, sf):
    n = max(1, int(1_500_000 * sf))
    n_cust = max(1, int(150_000 * sf))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    days = rng.integers(0, 2404, n)
    return {
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _ts(_T1995 + days * _DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    }


def _lineitem(rng, sf):
    n = max(1, int(6_000_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    return {
        "l_orderkey": rng.integers(0, n_ord, n).astype("int64"),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n).astype("int64"),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": np.round(rng.uniform(0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_T1995 + rng.integers(0, 2500, n) * _DAY_US),
    }


def _events(rng, sf):
    n = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    # strictly increasing microsecond timestamps over January 2024
    gaps = rng.exponential(30 * _DAY_US / n, n).astype("int64") + 1
    types = np.array(["click", "error", "purchase", "signup", "view"])
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(_T2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": types[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, sf):
    n = max(500, int(50_000 * sf))
    n_tok = rng.integers(10, 100, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_tok.sum()))]
    bounds = np.r_[0, np.cumsum(n_tok)]
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # 5% planted near-duplicates: another doc's text, sometimes one word
    # short, with " dup" appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = texts[int(rng.integers(0, n))].split(" ")
        if rng.random() < 0.5 and len(src) > 2:
            src = src[:-1]
        texts[i] = " ".join(src) + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng, sf):
    n = min(2000, max(500, int(20_000 * sf)))
    v = rng.normal(size=(n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


_BUILDERS = {name: globals()[f"_{name}"] for name in TABLES}


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all ten tables as ``<out_dir>/<table>.parquet``; returns the
    row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        table = pa.table(_BUILDERS[name](rng, sf))
        # one row group per table, as the driver writes them
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows
