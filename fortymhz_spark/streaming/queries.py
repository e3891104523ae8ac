"""Streaming forms of the engine's analytics.

Structured Streaming's unified semantics mean these are the *same
column expressions* as the batch queries (queries/dt.py,
queries/events.py) applied to a streaming DataFrame — the point the
reference architecture misses by hard-wiring its analysis to a
materialized pandas frame (``test_reader.ipynb`` cell-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fortymhz_spark.functions.dt import is_physical_hit


def streaming_channel_occupancy(hits: DataFrame) -> DataFrame:
    """Running per-channel hit counts over a DT-hit stream.

    Unbounded keys (small, fixed channel space) → plain streaming
    aggregation, no watermark needed; use ``complete``/``update``
    output mode.  State size is bounded by #channels (≤ 2×128), so
    this holds at any input volume.
    """
    return (
        hits.filter(is_physical_hit())
        .groupBy(
            F.col("FPGA").cast("int").alias("fpga"),
            F.col("TDC_CHANNEL").cast("int").alias("channel"),
        )
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def streaming_hourly_by_type(
    events: DataFrame, *, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of queries/events.py::q_events_hourly_by_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_sessionize(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of queries/events.py::q_events_sessionize.

    ``session_window`` merges events within ``gap`` of each other into
    one growing window per user; the watermark finalizes (and emits) a
    session once event time passes its close + delay.  State per key is
    one open session — this is the built-in form of the custom session
    operator; cross-batch *custom* state logic lives in
    streaming/state.py.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_dedup_events(
    events: DataFrame, *, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup on ``event_id`` — the ingestion-side dedup
    an at-least-once pipeline needs before anything downstream counts.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and DROPS
    the key's state once the watermark passes its first-seen event time
    + delay — bounded state, unlike plain ``dropDuplicates`` on a
    stream, which retains every key forever.  The contract is
    "duplicates arrive within the watermark of each other" (true for
    replay/retry duplication, the at-least-once failure mode).  On a
    bounded frame Spark has no ``WithinWatermark`` operator, so the
    batch twin is plain ``dropDuplicates`` — same rows, different state
    lifecycle.
    """
    deduped = (
        events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        if events.isStreaming
        else events.dropDuplicates(["event_id"])
    )
    return deduped.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_epoch"),
    )


def streaming_view_to_purchase(
    views: DataFrame,
    purchases: DataFrame,
    *,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases matched to a preceding view
    by the same user within ``within``.

    Both sides carry watermarks and the join condition bounds event
    time in both directions, so Spark can size the join state exactly:
    a buffered view is dropped once the purchase-side watermark passes
    view.ts + within — state is O(rate × window), not unbounded
    (SURVEY.md §2.3 stream-stream row).  Works identically on bounded
    frames (the batch twin used by tests/oracles).
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("v_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("p_ts", watermark)
    return (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {within}")),
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            F.unix_timestamp("v_ts").alias("view_ts"),
            F.unix_timestamp("p_ts").alias("purchase_ts"),
            F.col("purchase_value").cast("double").alias("purchase_value"),
        )
    )
