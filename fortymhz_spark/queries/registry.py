"""Tiny decorator registry binding a query callable to its oracle SQL.

Oracle-style rules (the driver hash-compares VALUES, not just rows, so
representational drift between DuckDB and Spark is a failure):

- Column names must be IDENTICAL between the Spark plan and the oracle
  (the comparator sorts columns by name before hashing).
- **The HUGEINT trap**: DuckDB widens ``SUM`` over any integer type —
  including window SUMs — to HUGEINT (INT128), which hashes differently
  from Spark's BIGINT even when every value matches.  ALWAYS wrap
  integer SUM outputs in ``CAST(... AS BIGINT)``.  ``COUNT`` is BIGINT
  on both engines and needs no cast; MIN/MAX preserve their input type.
- Double aggregation is order-sensitive: sum through DECIMAL on both
  sides (see functions/exact.py) or floor to scaled BIGINT first.
- Timestamps: compare via ``epoch_us(ts)`` (DuckDB) vs
  ``unix_micros(ts)`` (Spark) — both BIGINT.
- No array/struct/map columns in driver-graded output: the driver's
  canonicalizer sorts rows with pandas, which cannot sort list cells.
  Emit scalar columns (element_at / named fields) instead.

Artifacts a query persists (snapshot tables, ANN indexes, codes,
tuning rows, BPE merges) live in ``scratch_dir`` directories, which
are removed at interpreter exit; ``build_once`` builds the shared ones
once per ``sf_dir`` per process.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
import textwrap
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
T = TypeVar("T")

_SCRATCH_DIRS: list[str] = []


@atexit.register
def _remove_scratch_dirs() -> None:
    for path in _SCRATCH_DIRS:
        shutil.rmtree(path, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new ``fmhz_<prefix>…`` temp directory, removed at interpreter
    exit rather than when the query returns: a returned DataFrame is
    lazy and may still read it."""
    path = tempfile.mkdtemp(prefix="fmhz_" + prefix)
    _SCRATCH_DIRS.append(path)
    return path


def build_once(
    builder: Callable[[SparkSession, str], T],
) -> Callable[[SparkSession, str], T]:
    """Memoise a ``(spark, sf_dir)`` artifact builder on ``sf_dir``: the
    first caller builds and publishes, later ones (bench reps, parity
    reruns, a second session in the same process) reuse the result."""
    built: dict[str, T] = {}

    @functools.wraps(builder)
    def wrapper(spark: SparkSession, sf_dir: str) -> T:
        if sf_dir not in built:
            built[sf_dir] = builder(spark, sf_dir)
        return built[sf_dir]

    return wrapper


class Registry:
    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracle: dict[str, str] = {}

    def query(self, name: str, oracle: str | None = None):
        """Register ``fn`` under ``name``; ``oracle=None`` marks a query
        the driver checks rows-only (non-SQL-expressible semantics)."""

        def deco(fn: QueryFn) -> QueryFn:
            self.queries[name] = fn
            if oracle is not None:
                self.oracle[name] = textwrap.dedent(oracle).strip()
            return fn

        return deco
