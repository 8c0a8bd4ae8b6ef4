"""Seeded input tables for the benchmark.

Writes the ten tables ``__spark_entry__._register`` reads, as one
parquet file (and one row group) each, from the engine's sf0.1 test
data:

* ``documents`` (5,000 rows) and ``embeddings`` (2,000 rows) are the
  sf0.1 tables themselves, kept in ``perfbench/data/``;
* the lineitem keys (``l_orderkey``, ``l_linenumber``; 600,000 rows) are
  regenerated exactly: the test-data generator draws them from numpy's
  ``default_rng(42)`` after 1,062,995 draws of ``integers(0, 150000)``
  for the tables before it, with ``l_partkey`` and ``l_suppkey`` drawn
  between the two;
* ``orders`` and ``customer`` keys are the dense 0..N-1 keys of the
  test data.

The seed does two things:

* it salts the integer key space every derived point comes from
  (``o_orderkey``, ``c_custkey`` and the lineitem order keys are offset
  by :func:`key_salt`), so the D48/GK, WGS84 and parcel geometry the
  geo workloads derive differ per seed;
* it picks the document and embedding subset: a seeded 90 % of the rows,
  in their original order.

Seed 0 has salt 0 and keeps every row, so its inputs are the sf0.1 test
data's (``flagship_out_rows`` is 12,536 at ×1).  Only the columns the
benchmark's operations read are written; the other tables carry their
key column so that registration sees every view it expects.  At another
scale ``sf`` the tables are the first rows of the sf0.1 ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SALT_SPAN = 1 << 20     # keeps key * mix multiplier inside int64
SUBSET = 0.9            # share of documents and embeddings a seed keeps
LINEITEM_SEED = 42
LINEITEM_SKIP = 1_062_995
SF01 = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000,
        "documents": 5_000, "embeddings": 2_000}


def key_salt(seed: int) -> int:
    return (seed * 104729) % SALT_SPAN


def sizes(sf: float) -> dict[str, int]:
    # the ANN operators' codebooks want a few hundred vectors
    floor = {"embeddings": 500}
    return {t: min(n, max(floor.get(t, 1), round(n * sf / 0.1))) for t, n in SF01.items()}


def lineitem_keys() -> tuple[np.ndarray, np.ndarray]:
    """(l_orderkey, l_linenumber) of the sf0.1 test data."""
    n = SF01["lineitem"]
    rng = np.random.default_rng(LINEITEM_SEED)
    rng.integers(0, SF01["orders"], LINEITEM_SKIP)
    orderkey = rng.integers(0, SF01["orders"], n)
    rng.integers(0, 20_000, n)      # l_partkey
    rng.integers(0, 1_000, n)       # l_suppkey
    return orderkey, rng.integers(1, 8, n).astype(np.int32)


def _subset(tab: pa.Table, n: int, seed: int) -> pa.Table:
    tab = tab.slice(0, n)
    if seed == 0:
        return tab
    keep = np.random.default_rng(seed).choice(n, int(n * SUBSET), replace=False)
    return tab.take(np.sort(keep))


def tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    salt = key_salt(seed)
    n = sizes(sf)
    orderkey, linenumber = lineitem_keys()
    t: dict[str, pa.Table] = {}
    t["lineitem"] = pa.table({"l_orderkey": orderkey[:n["lineitem"]] + salt,
                              "l_linenumber": linenumber[:n["lineitem"]]})
    t["orders"] = pa.table({"o_orderkey": np.arange(n["orders"], dtype=np.int64) + salt})
    t["customer"] = pa.table({"c_custkey": np.arange(n["customer"], dtype=np.int64) + salt})
    for name in ("documents", "embeddings"):
        t[name] = _subset(pq.read_table(os.path.join(DATA, f"{name}.parquet")),
                          n[name], seed)
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=np.int64)})
    t["nation"] = pa.table({"n_nationkey": np.arange(25, dtype=np.int64)})
    t["supplier"] = pa.table({"s_suppkey": np.arange(max(10, int(10_000 * sf)), dtype=np.int64)})
    t["part"] = pa.table({"p_partkey": np.arange(max(10, int(200_000 * sf)), dtype=np.int64)})
    t["events"] = pa.table({"event_id": np.arange(max(10, int(1_000_000 * sf)), dtype=np.int64)})
    return t


def write(seed: int, out_dir: str, sf: float = 0.1) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tab in tables(seed, sf).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(tab.num_rows, 1))
        counts[name] = tab.num_rows
    return counts
