"""Seeded synthetic parquet lake for the ``analytics`` workload.

Writes every table of ``event_stream_spark.queries.TABLES`` (TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``) with the
column names and types the registry and its DuckDB oracle expect, so
``tests.oracle_utils.duck_connection`` reads it as it reads any lake.  Row
counts follow the TPC-H scale factor ``sf``: ``sf=0.1`` writes 600,000
lineitem rows.  ``documents`` and ``embeddings`` are not read by the
registry and stay at 500 rows.  The benchmark may read only its own
checkout, so it writes this lake rather than reading a shared one.  The
same seed always writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "red", "small", "large", "green", "old"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _us(y: int, m: int, d: int) -> int:
    """Epoch microseconds of a UTC midnight."""
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * 86_400_000_000


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    day_us = 86_400_000_000
    days = rng.integers(_us(*lo) // day_us, _us(*hi) // day_us + 1, n)
    return pa.array(days * day_us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    rng = np.random.default_rng(abs(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
            }
        ),
    }
    # events: ~30 days of exponential inter-arrival gaps from 2024-01-01
    gaps_us = rng.exponential(30 * 86_400_000_000 / n_ev, n_ev).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_us(2024, 1, 1) + np.cumsum(gaps_us), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_ev * 3 // 200), n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = 500
    n_chars = rng.integers(40, 600, n_doc)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": [" ".join(_NOUN[i % 8] for i in range(n // 6)) for n in n_chars],
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc),
            "source": [f"src{i % 10}" for i in range(n_doc)],
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_doc), pa.int64()),
            "embedding": pa.array(
                list(rng.standard_normal((n_doc, 64), np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
        }
    )
    return out


def write_lake(out_dir: str, seed: int, sf: float = 0.1) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
