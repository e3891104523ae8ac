"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow and touches no Spark, so the same
seed gives byte-identical parquet files and the self-tests run without
a JVM.  The program under test only ever sees the files written here.

- ``write_dt_hits``: drift-tube hits in the ``schemas.DT_HIT`` shape,
  cut into files of equal hit count.  Orbits hold 1-9 hits, a few
  percent of hits are non-physical, and cuts fall mid-orbit so orbits
  straddle micro-batches.
- ``write_tables``: the eight batch tables (TPC-H-like star schema and
  ``events``) with the column names, types and value domains the query
  registry expects, rows in a seed-dependent order.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORBIT_BASE = 2_252_000_000
BX_PER_ORBIT = 3564

DT_HIT_SCHEMA = pa.schema(
    [
        pa.field("HEAD", pa.int16(), nullable=False),
        pa.field("FPGA", pa.int16(), nullable=False),
        pa.field("TDC_CHANNEL", pa.int32(), nullable=False),
        pa.field("ORBIT_CNT", pa.int64(), nullable=False),
        pa.field("BX_COUNTER", pa.int32(), nullable=False),
        pa.field("TDC_MEAS", pa.int32(), nullable=False),
    ]
)

# Hits per orbit, 1..9, weighted toward the fixture's "mostly 1-4".
_HITS_PER_ORBIT_P = np.array([0.22, 0.2, 0.17, 0.13, 0.1, 0.07, 0.05, 0.035, 0.025])


def dt_hits(seed: int, n_hits: int) -> pa.Table:
    """``n_hits`` DT hits in orbit order, as one table."""
    rng = np.random.default_rng([seed, 1])
    n_orbits = n_hits  # upper bound: every orbit has at least one hit
    per_orbit = rng.choice(np.arange(1, 10), size=n_orbits, p=_HITS_PER_ORBIT_P)
    orbit_ids = ORBIT_BASE + np.cumsum(rng.integers(1, 4, size=n_orbits))
    orbit = np.repeat(orbit_ids, per_orbit)[:n_hits]
    first = np.repeat(np.cumsum(per_orbit) - per_orbit, per_orbit)[:n_hits]
    k = np.arange(n_hits) - first  # hit index within its orbit
    base_chan = np.repeat(rng.integers(1, 120, size=n_orbits), per_orbit)[:n_hits]
    base_bx = np.repeat(rng.integers(0, BX_PER_ORBIT - 16, size=n_orbits), per_orbit)[:n_hits]
    fpga = np.repeat(rng.integers(0, 2, size=n_orbits), per_orbit)[:n_hits]
    channel = base_chan + k + rng.integers(0, 2, size=n_hits)
    head = np.full(n_hits, 2)
    noise = rng.random(n_hits)
    head[noise < 0.02] = rng.choice([0, 1, 3], size=int((noise < 0.02).sum()))
    service = (noise >= 0.02) & (noise < 0.04)  # trigger/service channels
    channel[service] = rng.integers(129, 137, size=int(service.sum()))
    return pa.table(
        {
            "HEAD": head.astype(np.int16),
            "FPGA": fpga.astype(np.int16),
            "TDC_CHANNEL": channel.astype(np.int32),
            "ORBIT_CNT": orbit.astype(np.int64),
            "BX_COUNTER": (base_bx + rng.integers(0, 16, size=n_hits)).astype(np.int32),
            "TDC_MEAS": rng.integers(1, 31, size=n_hits).astype(np.int32),
        },
        schema=DT_HIT_SCHEMA,
    )


def write_dt_hits(seed: int, out_dir: str, n_files: int, hits_per_file: int) -> list[str]:
    """Write ``n_files`` parquet files of exactly ``hits_per_file`` hits.

    File modification times increase with the file index, so a file
    stream source that orders by mtime replays them in orbit order.
    """
    os.makedirs(out_dir, exist_ok=True)
    hits = dt_hits(seed, n_files * hits_per_file)
    paths = []
    mtime = int(dt.datetime.now().timestamp()) - n_files
    for i in range(n_files):
        path = os.path.join(out_dir, f"hits-{i:05d}.parquet")
        pq.write_table(hits.slice(i * hits_per_file, hits_per_file), path)
        os.utime(path, (mtime + i, mtime + i))
        paths.append(path)
    return paths


def expected_orbits(hits: pa.Table) -> dict[int, tuple[int, int, int, int]]:
    """Per-orbit ``(n_hits, n_channels, first_bx, last_bx)`` over the
    physical hits: what orbit assembly must emit, computed without Spark."""
    head = hits["HEAD"].to_numpy()
    chan = hits["TDC_CHANNEL"].to_numpy()
    keep = (head == 2) & (chan <= 128)
    orbit = hits["ORBIT_CNT"].to_numpy()[keep]
    chan = chan[keep]
    bx = hits["BX_COUNTER"].to_numpy()[keep]
    out: dict[int, tuple[int, int, int, int]] = {}
    bounds = np.flatnonzero(np.diff(orbit)) + 1
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(orbit)]):
        out[int(orbit[lo])] = (
            int(hi - lo),
            int(len(np.unique(chan[lo:hi]))),
            int(bx[lo:hi].min()),
            int(bx[lo:hi].max()),
        )
    return out


# ---------------------------------------------------------------------------
# batch tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "hot", "large", "old", "red", "small", "cold", "green"]
_P_NOUN = ["bolt", "gear", "plate", "ring", "rod", "widget", "nut", "pipe"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_UTC = dt.timezone.utc
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng, lo: int, hi: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(lo, hi, size=n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """All eight batch tables; ``scale`` 0.01 gives 60k lineitem rows."""
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_P_ADJ[a]} {_P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),  # 1995-01-01 .. 2001-08-01
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": partkey.astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(1, 3, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, 1, 2499, n_li),  # 1995-01-02 .. 2001-11-04
        }
    )
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # Row order is part of the input: permute every table by the seed.
    for name, table in out.items():
        out[name] = table.take(rng.permutation(table.num_rows))
    return out


def write_tables(seed: int, out_dir: str, scale: float = 0.01) -> list[str]:
    """Write each table to ``{out_dir}/{name}.parquet``; return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
