"""The committed DT-hit fixture (``sources/dt_hits.csv``) against the
rule it is built from (FIXTURES.md §A).  No Spark session.

Rule: the rows of ``hits_for_orbit(o)`` for o = 0..14 in orbit order;
after orbits 3, 7 and 11, one more copy of the orbit's first hit with
``BX_COUNTER + 1`` (a repeated channel); after orbit 5, its first hit
with ``HEAD = 0``; after orbit 10, its first hit with
``TDC_CHANNEL = 130`` (two non-physical hits).
"""

from __future__ import annotations

import csv
from collections import Counter

from fortymhz_spark.sources.batch import DEFAULT_HITS_CSV
from fortymhz_spark.sources.dt_datasource import hits_for_orbit

HEADER = ["HEAD", "FPGA", "TDC_CHANNEL", "ORBIT_CNT", "BX_COUNTER", "TDC_MEAS"]
N_ORBITS = 15
REPEAT_CHANNEL_ORBITS = {3, 7, 11}


def _rule_rows() -> list[tuple[int, ...]]:
    rows = []
    for o in range(N_ORBITS):
        hits = list(hits_for_orbit(o))
        rows += hits
        head, fpga, channel, orbit, bx, meas = hits[0]
        if o in REPEAT_CHANNEL_ORBITS:
            rows.append((head, fpga, channel, orbit, bx + 1, meas))
        if o == 5:
            rows.append((0, fpga, channel, orbit, bx, meas))
        if o == 10:
            rows.append((head, fpga, 130, orbit, bx, meas))
    return rows


def _file_rows() -> tuple[list[str], list[tuple[int, ...]]]:
    with open(DEFAULT_HITS_CSV, newline="") as f:
        header, *body = list(csv.reader(f))
    return header, [tuple(int(v) for v in r) for r in body]


def test_fixture_file_follows_its_rule():
    header, rows = _file_rows()
    assert header == HEADER
    assert rows == _rule_rows()
    assert len(rows) == 65
    orbits = [r[3] for r in rows]
    assert orbits == sorted(orbits)
    assert len(set(orbits)) == N_ORBITS


def test_fixture_exercises_filters_and_distinct_channels():
    _, rows = _file_rows()
    non_physical = [r for r in rows if r[0] != 2 or r[2] > 128]
    assert non_physical
    physical = [r for r in rows if r[0] == 2 and r[2] <= 128]
    per_orbit = Counter((r[3], r[2]) for r in physical)
    assert any(n > 1 for n in per_orbit.values())
