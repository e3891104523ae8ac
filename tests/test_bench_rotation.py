"""bench.py audit-rotation policy tests (round-12, the r11 verdict's
top item: a default-budget driver bench skipped ALL 14 audit rows
every round, leaving the heaviest queries with no driver-side timing
evidence).  The rotation must (a) always cover the whole AUDIT list
when the wall allows, (b) lead with a small cheap-heavy priority
window that CHANGES round over round, and (c) give every heavy row a
leading slot within one heavy-set cycle — so over rounds the
refit/tuned/opq-class rows accumulate driver-side walls instead of
being structurally skipped forever.  Pure-function tests: no Spark.
"""

from __future__ import annotations

import pytest

import bench


def test_audit_order_is_a_permutation_every_round():
    for r in range(0, 40):
        order = bench._audit_order(r)
        assert sorted(order) == sorted(bench.AUDIT), r
        assert len(order) == len(set(order)), r


def test_priority_window_rotates_and_mixes_tiers():
    cheap = {
        n for n in bench.AUDIT
        if bench.AUDIT_EXPECTED_S.get(n, 30.0) <= 10.0
    }
    heavy = set(bench.AUDIT) - cheap
    firsts = [tuple(bench._audit_order(r)[:4]) for r in range(12)]
    # the window moves: not every round leads with the same subset
    assert len(set(firsts)) > 1
    for w in firsts:
        # 3 cheap + 1 heavy (after dedup the heavy slot is present
        # whenever the heavy tier is non-empty)
        assert sum(1 for n in w if n in cheap) >= 3
        assert any(n in heavy for n in w)


def test_every_expensive_row_leads_within_one_cycle():
    """Round-13 (the r12 verdict's item #4): the rotating slot draws
    from the EXPENSIVE tier (> 15 s expected — exactly the rows the
    default wall skips in the cheapest-first tail), so every
    refit/tuned/opq-class row reaches driver-side timing once per
    cycle.  The 10-15 s rows need no slot: the tail admits them under
    the default wall (r12 timed persisted/filtered/codes there)."""
    expensive = [
        n for n in bench.AUDIT
        if bench.AUDIT_EXPECTED_S.get(n, 30.0) > 15.0
    ]
    led = set()
    for r in range(len(expensive)):
        led.update(
            n for n in bench._audit_order(r)[:4] if n in expensive
        )
    assert led == set(expensive)
    # the round-13 driver run (round_idx == 12: one BENCH_r*.json per
    # landed round, r01..r12) must draw its slot from this tier — the
    # r12 verdict's done-bar for item #4
    assert bench._audit_order(12)[3] in set(expensive)


def test_expected_cost_admission_never_overshoots_wall():
    """Simulated admission: starting from any elapsed point, the sum
    of admitted expected costs never exceeds the wall — the round-12
    advisor item (the old elapsed-only gate admitted a 30 s audit 1 s
    under the wall)."""
    wall = 555.0
    for start in (400.0, 490.0, 520.0, 554.0):
        elapsed = start
        for name in bench._audit_order(12):
            cost = bench.AUDIT_EXPECTED_S.get(name, 30.0)
            if elapsed + cost > wall:
                continue
            elapsed += cost
        assert elapsed <= wall, (start, elapsed)


def test_every_audit_row_has_an_expected_cost_entry():
    """A forgotten AUDIT_EXPECTED_S entry silently defaults to 30 s —
    conservative for admission but wrong for the rotation's
    cheap/heavy split and for the wall math BASELINE.md documents.
    Every AUDIT row must have a measured entry."""
    missing = [n for n in bench.AUDIT if n not in bench.AUDIT_EXPECTED_S]
    assert not missing, missing


def test_headline_and_audit_are_registered_and_disjoint():
    from fortymhz_spark.queries import all_queries

    names = set(all_queries())
    missing = [
        n for n in (*bench.HEADLINE, *bench.AUDIT) if n not in names
    ]
    assert not missing, missing
    assert not set(bench.HEADLINE) & set(bench.AUDIT)


def test_unregistered_headline_query_raises():
    registry = dict.fromkeys(bench.HEADLINE)
    assert bench.headline_names(registry) == bench.HEADLINE
    del registry[bench.HEADLINE[0]]
    with pytest.raises(KeyError, match=bench.HEADLINE[0]):
        bench.headline_names(registry)
