"""Custom cross-batch stateful operators.

The hard part of the DT domain (SURVEY.md §7 Phase 3): one *physics
event* is all hits sharing an ``ORBIT_CNT``, but hits for one orbit can
straddle micro-batch boundaries (the reference reads fixed-size offset
ranges, ``core.py:111`` — an orbit has no alignment with those).
Assembly therefore needs keyed state that outlives a micro-batch:
``applyInPandasWithState`` with a processing-time timeout that flushes
an orbit once its hits stop arriving.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ORBIT_SUMMARY = StructType(
    [
        StructField("ORBIT_CNT", LongType(), False),
        StructField("n_hits", LongType(), False),
        StructField("n_channels", LongType(), False),
        StructField("first_bx", IntegerType(), False),
        StructField("last_bx", IntegerType(), False),
    ]
)

# state: running (n_hits, first_bx, last_bx, seen channels as csv string)
_ASSEMBLE_STATE = StructType(
    [
        StructField("n_hits", LongType(), False),
        StructField("first_bx", IntegerType(), False),
        StructField("last_bx", IntegerType(), False),
        StructField("channels", StringType(), False),
    ]
)


# THE definition of a physical drift-tube hit — single source of truth
# for the pre-shuffle filters AND the Arrow processors' refilters (a
# divergence between copies would silently change operator semantics;
# the two forms below express the same predicate for Column and pandas
# evaluation).
def physical_hits(df: DataFrame) -> DataFrame:
    return df.filter((F.col("HEAD") == 2) & (F.col("TDC_CHANNEL") <= 128))


def _physical_pdf(pdf):
    return pdf[(pdf["HEAD"] == 2) & (pdf["TDC_CHANNEL"] <= 128)]


# The columns the orbit state functions read.  The Python state operators
# convert every input column to pandas once per orbit, and Catalyst cannot
# prune through them, so the stream is cut to these before the shuffle.
_STATE_INPUT = ("ORBIT_CNT", "HEAD", "TDC_CHANNEL", "BX_COUNTER")


def _state_input(hits_stream: DataFrame) -> DataFrame:
    return physical_hits(hits_stream).select(*_STATE_INPUT)


def _make_assemble(inactivity_ms: int):
    """Build the stateful assembly function with a given inactivity
    flush timeout (closure — the function is pickled to workers)."""

    def _assemble(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Accumulate per-orbit summary; emit on inactivity timeout.

        Channel distinct-count uses a per-batch set merged into state as
        a sorted tuple — orbits carry ≤ 256 channels, so state stays
        tiny.  (At 100 TB scale the per-key state is O(1); total state
        is O(open orbits), bounded by the timeout.)
        """
        if state.hasTimedOut:
            n_hits, first_bx, last_bx, chans = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "ORBIT_CNT": [key[0]],
                    "n_hits": [n_hits],
                    "n_channels": [len(chans.split(",")) if chans else 0],
                    "first_bx": [first_bx],
                    "last_bx": [last_bx],
                }
            )
            return

        n_hits, first_bx, last_bx, chans = (
            state.get if state.exists else (0, 2**31 - 1, -1, "")
        )
        channel_set = set(int(c) for c in chans.split(",") if c != "")
        for pdf in pdfs:
            phys = _physical_pdf(pdf)
            if len(phys) == 0:
                continue
            n_hits += len(phys)
            first_bx = min(first_bx, int(phys["BX_COUNTER"].min()))
            last_bx = max(last_bx, int(phys["BX_COUNTER"].max()))
            channel_set.update(int(c) for c in phys["TDC_CHANNEL"].unique())
        if n_hits == 0:
            # Unreachable through assemble_orbits (it pre-filters
            # before the keyed shuffle) but kept as defense-in-depth
            # for direct processor use: creating state for an
            # all-noise group would later emit a phantom orbit
            # (n_hits=0, first_bx=INT_MAX, last_bx=-1) the batch twin
            # never produces.
            return
        state.update(
            (n_hits, first_bx, last_bx, ",".join(str(c) for c in sorted(channel_set)))
        )
        # Inactivity flush: if no new hits for this orbit arrive within
        # the timeout, a later micro-batch emits it via hasTimedOut.
        state.setTimeoutDuration(inactivity_ms)
        return
        yield  # pragma: no cover - makes this a generator

    return _assemble


def assemble_orbits(hits_stream: DataFrame, inactivity_ms: int = 2_000) -> DataFrame:
    """Streaming orbit assembly: one output row per completed orbit.

    Custom stateful session operator (SURVEY.md §2.7 ST5): the grouping
    key (``ORBIT_CNT``) sessions implicitly by inactivity, not by an
    event-time gap — ``session_window`` can't express "flush when the
    detector stops sending this orbit", so this drops to
    ``applyInPandasWithState`` (Arrow-batched; no row-at-a-time Python).

    Non-physical rows are filtered BEFORE the keyed shuffle (same
    predicate as the batch twin): at scale this cuts the state-store
    shuffle to physical hits only, and it keeps stream/batch outputs
    convergent (no state is ever created for an all-noise orbit).
    """
    return (
        _state_input(hits_stream)
        .groupBy("ORBIT_CNT")
        .applyInPandasWithState(
            _make_assemble(inactivity_ms),
            outputStructType=ORBIT_SUMMARY,
            stateStructType=_ASSEMBLE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4 state API (typed state + timers)
# ---------------------------------------------------------------------------

ORBIT_PROFILE = StructType(
    [
        StructField("ORBIT_CNT", LongType(), False),
        StructField("n_hits", LongType(), False),
        StructField("n_channels", LongType(), False),
        StructField("first_bx", IntegerType(), False),
        StructField("last_bx", IntegerType(), False),
        StructField("max_channel_hits", LongType(), False),
    ]
)


try:  # Spark 4+ only; module import must not require it
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor as _StatefulProcessor,
    )
except ImportError:  # pragma: no cover - Spark 3.x fallback
    _StatefulProcessor = object  # type: ignore[assignment,misc]


class OrbitProfileProcessor(_StatefulProcessor):
    """Orbit assembly on the Spark 4 ``transformWithStateInPandas`` API.

    Where ``applyInPandasWithState`` (above) packs everything into one
    opaque state tuple, this uses the typed state primitives the new API
    exists for: a ``ValueState`` for the running (n_hits, first_bx,
    last_bx) summary, a ``MapState`` keyed by TDC channel for per-wire
    hit counts (per-entry state-store rows — no serialize-the-whole-set
    per update, which is what makes wide per-key state viable on RocksDB
    at 100 TB), and an explicit processing-time timer re-armed on every
    batch as the inactivity flush.  Requires the RocksDB state store
    provider.
    """

    def __init__(self, inactivity_ms: int = 2_000) -> None:
        self._inactivity_ms = inactivity_ms

    def init(self, handle) -> None:
        self._summary = handle.getValueState(
            "summary", "n_hits BIGINT, first_bx INT, last_bx INT"
        )
        self._channels = handle.getMapState(
            "channels", "TDC_CHANNEL INT", "n BIGINT"
        )
        self._handle = handle

    def handleInputRows(self, key, rows, timer_values):
        n_hits, first_bx, last_bx = (
            self._summary.get() if self._summary.exists() else (0, 2**31 - 1, -1)
        )
        for pdf in rows:
            phys = _physical_pdf(pdf)
            if len(phys) == 0:
                continue
            n_hits += len(phys)
            first_bx = min(first_bx, int(phys["BX_COUNTER"].min()))
            last_bx = max(last_bx, int(phys["BX_COUNTER"].max()))
            for chan, cnt in phys["TDC_CHANNEL"].value_counts().items():
                prev = self._channels.getValue((int(chan),))
                self._channels.updateValue(
                    (int(chan),), ((prev[0] if prev else 0) + int(cnt),)
                )
        if n_hits == 0:
            # all-noise group (unreachable via profile_orbits' pre-
            # filter; defense-in-depth for direct processor use):
            # no state, no timer, no phantom orbit
            return iter(())
        self._summary.update((n_hits, first_bx, last_bx))
        # re-arm the inactivity timer: one live timer per orbit
        for t in list(self._handle.listTimers()):
            self._handle.deleteTimer(t)
        self._handle.registerTimer(
            timer_values.getCurrentProcessingTimeInMs() + self._inactivity_ms
        )
        return iter(())

    def handleExpiredTimer(self, key, timer_values, expired_timer_info):
        n_hits, first_bx, last_bx = self._summary.get()
        counts = [v[0] for v in self._channels.values()]
        self._summary.clear()
        self._channels.clear()
        yield pd.DataFrame(
            {
                "ORBIT_CNT": [key[0]],
                "n_hits": [n_hits],
                "n_channels": [len(counts)],
                "first_bx": [first_bx],
                "last_bx": [last_bx],
                "max_channel_hits": [max(counts) if counts else 0],
            }
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def profile_orbits(hits_stream: DataFrame, inactivity_ms: int = 2_000) -> DataFrame:
    """Streaming orbit profiling via ``transformWithStateInPandas``
    (Spark 4).  Same inactivity-flush semantics as
    :func:`assemble_orbits`, plus per-channel hit counts from MapState.
    The session must run the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``)."""
    return _state_input(hits_stream).groupBy("ORBIT_CNT").transformWithStateInPandas(
        statefulProcessor=OrbitProfileProcessor(inactivity_ms),
        outputStructType=ORBIT_PROFILE,
        outputMode="append",
        timeMode="ProcessingTime",
    )


def profile_orbits_batch(hits: DataFrame) -> DataFrame:
    """Batch twin of :func:`profile_orbits` — what the stream converges
    to once every orbit has flushed."""
    phys = physical_hits(hits)
    per_chan = phys.groupBy("ORBIT_CNT", "TDC_CHANNEL").agg(
        F.count(F.lit(1)).alias("chan_hits"),
        F.min("BX_COUNTER").alias("min_bx"),
        F.max("BX_COUNTER").alias("max_bx"),
    )
    return per_chan.groupBy("ORBIT_CNT").agg(
        F.sum("chan_hits").alias("n_hits"),
        F.count(F.lit(1)).alias("n_channels"),
        F.min("min_bx").cast("int").alias("first_bx"),
        F.max("max_bx").cast("int").alias("last_bx"),
        F.max("chan_hits").alias("max_channel_hits"),
    )


def assemble_orbits_batch(hits: DataFrame) -> DataFrame:
    """Batch twin of :func:`assemble_orbits` — same output schema, pure
    aggregate expressions (what the streaming form converges to once
    every orbit has flushed)."""
    return (
        physical_hits(hits)
        .groupBy("ORBIT_CNT")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("TDC_CHANNEL").alias("n_channels"),
            F.min("BX_COUNTER").cast("int").alias("first_bx"),
            F.max("BX_COUNTER").cast("int").alias("last_bx"),
        )
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters: bucket-keyed Misra-Gries over a doc stream
# ---------------------------------------------------------------------------

MG_CANDIDATES = StructType(
    [
        StructField("bucket", LongType(), False),
        StructField("term", StringType(), False),
        StructField("cnt", LongType(), False),
        StructField("seq", LongType(), False),
    ]
)

# state: counters as a JSON [["term", cnt], ...] payload + an emission
# sequence number so readers can select each bucket's LATEST summary
_MG_STATE = StructType(
    [
        StructField("payload", StringType(), False),
        StructField("seq", LongType(), False),
    ]
)


def streaming_frequent_terms(
    docs_stream: DataFrame, *, counters: int = 50, buckets: int = 8
) -> DataFrame:
    """Streaming Misra-Gries heavy-hitter candidates — the unbounded
    twin of ``operators/sketches.py::frequent_terms``: tokens hash to
    one of ``buckets`` keyed state cells, each cell folds its token
    stream through an MG summary of ``counters`` counters that lives
    ACROSS micro-batches, and every batch emits the cell's current
    candidate set stamped with a monotone ``seq`` (take each bucket's
    max-``seq`` rows — dropping ``cnt = 0`` empty-summary markers —
    for the up-to-date summary; terms are disjoint across buckets, so
    the union is the global candidate set).

    The MG guarantee carries over per bucket: a term's undercount is
    at most (bucket tokens so far)/``counters``, so any term with true
    count above that bound is present — tested against exact counts in
    tests/test_streaming.py.  Within a batch the fold processes tokens
    in (doc_id, pos) order, making the whole run deterministic for a
    deterministic file/trigger order (MG results are order-dependent;
    an unsorted fold would flap across reruns).

    Scale shape: only (bucket, term, pos) rows reach the shuffle; per-
    bucket state is ``counters`` entries regardless of stream length;
    emission is ≤ counters rows per active bucket per batch.
    ``buckets`` sizes the parallelism — state cells spread across
    executors by bucket key exactly like any keyed aggregation.
    """
    if counters < 1 or buckets < 1:
        raise ValueError(f"need counters >= 1 and buckets >= 1, got {counters=} {buckets=}")
    from fortymhz_spark.operators import text as tx

    toks = docs_stream.select(
        "doc_id",
        F.posexplode(tx.tokens(F.lower(F.col("text")))).alias("pos", "term"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("long")
    )

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import json

        counts: dict[str, int] = {}
        seq = 0
        if state.exists:
            payload, seq = state.get
            counts = dict(json.loads(payload))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True).sort_values(
            ["doc_id", "pos"], kind="stable"
        )
        for tok in rows["term"]:
            if tok in counts:
                counts[tok] += 1
            elif len(counts) < counters:
                counts[tok] = 1
            else:
                dead = []
                for t in counts:
                    counts[t] -= 1
                    if counts[t] == 0:
                        dead.append(t)
                for t in dead:
                    del counts[t]
        seq += 1
        state.update((json.dumps(sorted(counts.items())), seq))
        # A batch can drive the summary to EMPTY (decrement-evictions
        # with no survivors).  Emit an explicit empty-marker row
        # (term="", cnt=0 — "" can never be a real token, the
        # tokenizer drops empties) so the max-seq reader sees the
        # bucket is now empty instead of resurrecting the previous
        # batch's evicted candidates.
        items = sorted(counts.items()) or [("", 0)]
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(items),
                "term": [t for t, _ in items],
                "cnt": [c for _, c in items],
                "seq": [seq] * len(items),
            }
        )

    return toks.groupBy("bucket").applyInPandasWithState(
        fold,
        MG_CANDIDATES,
        _MG_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )
