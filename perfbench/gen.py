"""Seeded input generators for the benchmark.

Everything the program sees is made here from ``--seed``: the same seed
gives the same inputs.

* :func:`write_tpch` writes a TPC-H-shaped star schema (the column set and
  value domains of the engine's registry tables) as one parquet file per
  table, so the registry's query builders and their DuckDB oracles read it
  unchanged.
* :func:`fleet_tables` builds a fleet of synthetic yearly targets with a
  monthly indicator.  Values are md5-derived from (seed, series, period),
  so any single value can be recomputed without the rest of the fleet.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

#: table sizes per unit scale factor (the registry's ``sf`` convention)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
_ORDER_DAY0 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_DAY0 = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
_DAY_US = np.timedelta64(86_400_000_000, "us")

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_WORDS_A = ["small", "large", "red", "blue", "cold", "hot", "green", "shiny"]
_WORDS_B = ["widget", "bolt", "gear", "ring", "gizmo", "nut", "spring", "valve"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices on the cent grid (exactly 2 decimals, like the
    registry data, so rounded oracle sums stay tie-free)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def tpch_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 0x7C9])
    n = {k: max(1, int(round(v * sf))) for k, v in _ROWS_PER_SF.items()}
    tables: dict[str, pd.DataFrame] = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
    }
    nc = n["customer"]
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_WORDS_A, npart), rng.choice(_WORDS_B, npart)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ORDER_DAY0
            + rng.integers(0, _ORDER_DAYS + 1, no) * _DAY_US,
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _SHIP_DAY0 + rng.integers(0, _SHIP_DAYS + 1, nl) * _DAY_US,
        }
    )
    return tables


def write_tpch(out_dir: str, seed: int, sf: float) -> str:
    """Write the seeded tables to ``out_dir/<table>.parquet``; returns the
    directory (the registry's ``sf_dir`` argument)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tpch_tables(seed, sf).items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    return out_dir


def _md5_unit(seed: int, tag: str, sid: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Uniform [0, 1) values from md5("seed:tag:series:month")."""
    return np.fromiter(
        (
            int(hashlib.md5(f"{seed}:{tag}:{a}:{b}".encode()).hexdigest()[:8], 16)
            for a, b in zip(sid.tolist(), m.tolist())
        ),
        dtype=np.float64,
        count=len(sid),
    ) / float(2**32)


def fleet_tables(seed: int, n_series: int, n_years: int, start_year: int):
    """(low, indicators) pandas frames for a fleet of ``n_series`` series,
    each with ``n_years`` yearly targets and ``12 * n_years`` monthly
    indicator values.

    Indicator ``x1 = 100 + 50 u + m / 12`` (a trend plus md5 noise); target
    ``y = sum over the year of (3 + 2 x1 + 20 v)`` — a linear relation plus
    noise, so Chow-Lin has a real regression to fit."""
    months = 12 * n_years
    sid = np.repeat(np.arange(n_series, dtype=np.int64), months)
    m = np.tile(np.arange(months, dtype=np.int64), n_series)
    x1 = 100.0 + 50.0 * _md5_unit(seed, "x", sid, m) + m / 12.0
    eps = 20.0 * _md5_unit(seed, "e", sid, m)
    ts = pd.date_range(f"{start_year}-01-01", periods=months, freq="MS").values
    ind = pd.DataFrame({"series_id": sid, "ts": np.tile(ts, n_series), "x1": x1})
    year_ts = pd.date_range(f"{start_year}-01-01", periods=n_years, freq="YS").values
    y = (3.0 + 2.0 * x1 + eps).reshape(n_series * n_years, 12).sum(axis=1)
    low = pd.DataFrame(
        {
            "series_id": np.repeat(np.arange(n_series, dtype=np.int64), n_years),
            "ts": np.tile(year_ts, n_series),
            "y": y,
        }
    )
    return low, ind
