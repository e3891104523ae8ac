"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import probe
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bytes(paths):
    return [open(p, "rb").read() for p in paths]


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = inputs.write_tables(5, str(tmp_path / "a"))
    b = inputs.write_tables(5, str(tmp_path / "b"))
    c = inputs.write_tables(6, str(tmp_path / "c"))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    h1 = inputs.write_dt_hits(5, str(tmp_path / "h1"), 3, 1000)
    h2 = inputs.write_dt_hits(5, str(tmp_path / "h2"), 3, 1000)
    h3 = inputs.write_dt_hits(6, str(tmp_path / "h3"), 3, 1000)
    assert _bytes(h1) == _bytes(h2)
    assert _bytes(h1) != _bytes(h3)


def test_dt_hits_shape(tmp_path):
    paths = inputs.write_dt_hits(3, str(tmp_path), 4, 2000)
    parts = [pq.read_table(p) for p in paths]
    assert [t.num_rows for t in parts] == [2000] * 4
    assert all(t.schema == inputs.DT_HIT_SCHEMA for t in parts)
    # file cuts fall mid-orbit, so orbits straddle triggers
    straddle = sum(
        a["ORBIT_CNT"][-1].as_py() == b["ORBIT_CNT"][0].as_py()
        for a, b in zip(parts, parts[1:])
    )
    assert straddle >= 1
    hits = pa.concat_tables(parts)
    orbit = hits["ORBIT_CNT"].to_numpy()
    assert (orbit[1:] >= orbit[:-1]).all()
    _, counts = np.unique(orbit, return_counts=True)
    assert counts.min() >= 1 and counts[:-1].max() <= 9
    head, chan = hits["HEAD"].to_numpy(), hits["TDC_CHANNEL"].to_numpy()
    noise = 1 - ((head == 2) & (chan <= 128)).mean()
    assert 0.01 < noise < 0.1


def test_expected_orbits_matches_plain_python(tmp_path):
    hits = inputs.dt_hits(9, 3000)
    want: dict[int, list] = {}
    for h, c, o, bx in zip(*(hits[k].to_pylist() for k in
                             ("HEAD", "TDC_CHANNEL", "ORBIT_CNT", "BX_COUNTER"))):
        if h == 2 and c <= 128:
            want.setdefault(o, []).append((c, bx))
    expected = {
        o: (len(v), len({c for c, _ in v}), min(b for _, b in v), max(b for _, b in v))
        for o, v in want.items()
    }
    assert inputs.expected_orbits(hits) == expected


def test_benchmark_json_names_units_and_bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layers == list(workloads.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    for m in bench["per_layer"]:
        assert m["unit"] == workloads.unit_of(m["name"])
    assert len(set(e2e + layers)) == len(e2e) + len(layers)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_spread_follows_the_quartile_rule():
    values = [10.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 5.0]
    # statistics.quantiles' default (exclusive) method on 1..10
    q1, med, q3 = 2.75, 5.5, 8.25
    assert statistics.quantiles(values, n=4) == [q1, med, q3]
    assert probe.spread(values) == pytest.approx((q3 - q1) / med)
    assert probe.spread([3.0] * 10) == 0


def test_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "dt_stream", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""


def test_tracer_records_nested_spans_only_when_enabled():
    off = probe.Tracer(False)
    with off.span("a", "t"):
        pass
    assert off.spans == []
    on = probe.Tracer(True)
    with on.span("outer", "t1"):
        with on.span("inner", "t1"):
            pass
    outer, inner = on.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
