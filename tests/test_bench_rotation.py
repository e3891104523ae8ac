"""bench.py audit-pass and headline tests.  After the timed reps and
the recall report, ``bench.run_audits`` walks AUDIT once, cheapest
first: a row starts only while the elapsed time is under the wall,
and every row it never started comes back as skipped.  Pure-function
tests driven by a fake clock; none starts Spark.
"""

from __future__ import annotations

import pytest

import bench


class _Clock:
    """Fake elapsed-time source: each ``run`` advances it by ``cost``."""

    def __init__(self, start: float, cost: float):
        self.now, self.cost = start, cost
        self.started: list[str] = []
        self.start_times: list[float] = []

    def elapsed(self) -> float:
        return self.now

    def run(self, name: str) -> None:
        self.started.append(name)
        self.start_times.append(self.now)
        self.now += self.cost


@pytest.mark.parametrize(
    "start,cost,wall",
    [
        (0.0, 1.0, 1000.0),  # wide wall: every row runs
        (0.0, 10.0, 55.0),
        (90.0, 5.0, 100.0),
        (7.0, 3.0, 30.0),
        (600.0, 1.0, 555.0),  # wall already spent: every row skipped
    ],
)
def test_rows_start_in_order_under_the_wall_and_each_runs_or_skips_once(
    start, cost, wall
):
    clock = _Clock(start, cost)
    skipped = bench.run_audits(clock.run, clock.elapsed, wall_s=wall)
    assert all(t < wall for t in clock.start_times)
    # the pass stops only at a row that would start at or past the wall
    assert clock.now >= wall or not skipped
    assert clock.started == bench.AUDIT[: len(clock.started)]
    assert clock.started + skipped == bench.AUDIT


def test_an_erroring_row_does_not_stop_the_pass():
    errors: dict[str, str] = {}
    clock = _Clock(start=0.0, cost=1.0)

    def run(name: str) -> None:
        clock.run(name)
        if name == bench.AUDIT[1]:
            errors[name] = "RuntimeError: boom"

    skipped = bench.run_audits(run, clock.elapsed, wall_s=1000.0)
    assert list(errors) == [bench.AUDIT[1]]
    assert clock.started == bench.AUDIT
    assert skipped == []


def test_audit_rows_are_unique():
    assert len(bench.AUDIT) == len(set(bench.AUDIT))


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
