"""Streaming semantics tests (broker-less: file + rate sources).

Strategy per SURVEY.md §5.3: replay fixtures through the same query
graph the live stream would use, assert agreement with the batch twin,
and exercise checkpoint restarts for exactly-once bookkeeping —
the guarantee the reference forfeits (SURVEY.md §4.3.2).
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from fortymhz_spark.schemas import DT_HIT, EVENTS
from fortymhz_spark.sources.batch import DEFAULT_HITS_CSV, load_table, read_hits_csv
from fortymhz_spark.streaming import (
    file_stream,
    hits_file_stream,
    rate_hits_stream,
    run_to_memory,
    streaming_channel_occupancy,
    streaming_hourly_by_type,
    streaming_sessionize,
)
from fortymhz_spark.streaming.state import assemble_orbits, assemble_orbits_batch

SF_DIR = "/root/testdata/sf0.001"
# The stream replays the same file ``read_hits_csv`` reads by default,
# so every stream/batch-twin comparison sees identical rows.
HITS_CSV = DEFAULT_HITS_CSV


@pytest.fixture(scope="module")
def hits_csv_dir(tmp_path_factory):
    """The package's DT-hit fixture staged into a directory (the file
    source streams directories, not single files)."""
    d = tmp_path_factory.mktemp("hits_csv")
    shutil.copy(HITS_CSV, d / "test_data.csv")
    return str(d)


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """events table split into 3 time-ordered parquet files so the file
    source produces multiple micro-batches (watermarks only advance
    between batches)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, SF_DIR, "events").orderBy("ts").collect()
    n = len(ev)
    third = n // 3
    for i, lo in enumerate((0, third, 2 * third)):
        hi = n if i == 2 else (i + 1) * third
        chunk = spark.createDataFrame(ev[lo:hi], schema=EVENTS)
        chunk.coalesce(1).write.parquet(os.path.join(out, f"part{i}"))
        # distinct mtimes → deterministic processing order
        time.sleep(0.05)
    return out


def _events_glob(d: str) -> str:
    return os.path.join(d, "part*")


def test_streaming_occupancy_matches_batch(spark, hits_csv_dir):
    stream = hits_file_stream(spark, hits_csv_dir)
    assert stream.isStreaming
    got = run_to_memory(
        streaming_channel_occupancy(stream), spark, output_mode="complete"
    )
    want = (
        read_hits_csv(spark)
        .filter((F.col("HEAD") == 2) & (F.col("TDC_CHANNEL") <= 128))
        .groupBy(
            F.col("FPGA").cast("int").alias("fpga"),
            F.col("TDC_CHANNEL").cast("int").alias("channel"),
        )
        .count()
        .withColumnRenamed("count", "n_hits")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_rate_hits_stream_schema(spark):
    df = rate_hits_stream(spark)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [f.name for f in DT_HIT.fields]


def test_streaming_hourly_windows_subset_of_batch(spark, events_stream_dir):
    stream = file_stream(
        spark, _events_glob(events_stream_dir), EVENTS, max_files_per_trigger=1
    )
    got = run_to_memory(streaming_hourly_by_type(stream), spark).collect()
    # append mode emits only watermark-finalized windows: some but not all
    assert len(got) > 0
    # unified semantics: the same expression tree over the bounded frame
    batch = load_table(spark, SF_DIR, "events")
    want = {tuple(r) for r in streaming_hourly_by_type(batch).collect()}
    assert {tuple(r) for r in got} <= want


def test_streaming_sessionize_subset_of_batch(spark, events_stream_dir):
    stream = file_stream(
        spark, _events_glob(events_stream_dir), EVENTS, max_files_per_trigger=1
    )
    got = run_to_memory(streaming_sessionize(stream), spark).collect()
    assert len(got) > 0
    batch = load_table(spark, SF_DIR, "events")
    want = {tuple(r) for r in streaming_sessionize(batch).collect()}
    assert {tuple(r) for r in got} <= want


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Restarting from a checkpoint neither drops nor duplicates rows."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    hits = read_hits_csv(spark)
    n_total = hits.count()

    first = hits.limit(30)
    first.coalesce(1).write.parquet(str(src / "a"))

    def run_once():
        stream = file_stream(spark, str(src / "*"), DT_HIT)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == 30

    # new data arrives while the query is down; restart resumes from WAL
    hits.exceptAll(first).coalesce(1).write.parquet(str(src / "b"))
    run_once()
    assert spark.read.parquet(out).count() == n_total
    # idempotent: a third run with no new data changes nothing
    run_once()
    assert spark.read.parquet(out).count() == n_total


def test_assemble_orbits_stateful(spark, tmp_path):
    """Cross-batch orbit assembly with inactivity flush.

    Both files are staged BEFORE the stream starts; maxFilesPerTrigger=1
    makes the source consume them in two micro-batches (mtime order), so
    most orbits straddle a batch boundary deterministically — no
    sleep-based race with the inactivity timer.  The timeout (10 s) is
    far beyond the back-to-back batch cadence, so no orbit can flush
    early; once the stream goes quiet every orbit flushes, and the poll
    runs until the output EQUALS the batch twin (a count-based stop
    would accept early partial flushes).
    """
    src = tmp_path / "hits"
    src.mkdir()
    hits = read_hits_csv(spark)
    # straddle: even rows then odd rows → most orbits span both batches
    with_idx = hits.withColumn(
        "i", F.monotonically_increasing_id()
    )
    with_idx.filter(F.col("i") % 2 == 0).drop("i").coalesce(1).write.parquet(
        str(src / "a")
    )
    time.sleep(0.05)  # distinct mtimes → deterministic batch order
    with_idx.filter(F.col("i") % 2 == 1).drop("i").coalesce(1).write.parquet(
        str(src / "b")
    )

    stream = file_stream(spark, str(src / "*"), DT_HIT, max_files_per_trigger=1)
    name = "orbits_out"
    ckpt = str(tmp_path / "ckpt")
    q = (
        assemble_orbits(stream, inactivity_ms=10_000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        want = {
            tuple(r)
            for r in assemble_orbits_batch(hits)
            .select("ORBIT_CNT", "n_hits", "n_channels", "first_bx", "last_bx")
            .collect()
        }
        deadline = time.time() + 150
        got: set = set()
        while time.time() < deadline:
            got = {tuple(r) for r in spark.table(name).collect()}
            if got == want:
                break
            time.sleep(1.0)
        assert got == want
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_dedup_drops_redelivered_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a stream that re-delivers an
    entire file (the at-least-once failure mode): output must equal the
    distinct row set, with the duplicate batch contributing nothing."""
    from fortymhz_spark.streaming.queries import streaming_dedup_events

    src = tmp_path / "events"
    src.mkdir()
    ev = load_table(spark, SF_DIR, "events").orderBy("ts").limit(300)
    ev.coalesce(1).write.parquet(str(src / "a"))
    time.sleep(0.05)
    # redelivery: the same 300 rows arrive again in a later micro-batch
    ev.coalesce(1).write.parquet(str(src / "b"))

    stream = file_stream(spark, str(src / "*"), EVENTS, max_files_per_trigger=1)
    got = run_to_memory(streaming_dedup_events(stream), spark).collect()
    want = streaming_dedup_events(ev).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_stream_join_subset_of_batch(spark, events_stream_dir):
    """Watermarked stream-stream join emits only pairs both of whose
    sides have passed the watermark; every emitted pair must be in the
    batch twin's result."""
    from fortymhz_spark.streaming.queries import streaming_view_to_purchase

    def split(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "purchase"),
        )

    stream = file_stream(
        spark, _events_glob(events_stream_dir), EVENTS, max_files_per_trigger=1
    )
    got = run_to_memory(
        streaming_view_to_purchase(*split(stream)), spark
    ).collect()
    assert len(got) > 0
    batch = load_table(spark, SF_DIR, "events")
    want = {tuple(r) for r in streaming_view_to_purchase(*split(batch)).collect()}
    assert {tuple(r) for r in got} <= want


def test_assemble_orbits_rocksdb_state_store(spark, tmp_path):
    """Orbit assembly with the RocksDB state store provider — the
    at-scale state backend (state spills off-heap instead of living on
    the JVM heap).  Same results as the default provider."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "hits"
        src.mkdir()
        hits = read_hits_csv(spark)
        hits.coalesce(1).write.parquet(str(src / "a"))
        stream = file_stream(spark, str(src / "*"), DT_HIT)
        name = "orbits_rocksdb"
        q = (
            assemble_orbits(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            want = {
                tuple(r)
                for r in assemble_orbits_batch(hits)
                .select("ORBIT_CNT", "n_hits", "n_channels", "first_bx", "last_bx")
                .collect()
            }
            deadline = time.time() + 150
            got: set = set()
            while time.time() < deadline:
                got = {tuple(r) for r in spark.table(name).collect()}
                if got == want:
                    break
                time.sleep(1.0)
            assert got == want
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_profile_orbits_batch_twin(spark):
    """The batch twin of orbit profiling, verified against a hand
    computation over the package's DT-hit fixture.  This is the
    semantics contract the streaming transformWithStateInPandas form
    must converge to."""
    from fortymhz_spark.streaming.state import profile_orbits_batch

    hits = read_hits_csv(spark)
    got = {tuple(r) for r in profile_orbits_batch(hits).collect()}

    pdf = hits.toPandas()
    phys = pdf[(pdf["HEAD"] == 2) & (pdf["TDC_CHANNEL"] <= 128)]
    want = set()
    for orbit, g in phys.groupby("ORBIT_CNT"):
        chan_counts = g["TDC_CHANNEL"].value_counts()
        want.add(
            (
                int(orbit),
                len(g),
                g["TDC_CHANNEL"].nunique(),
                int(g["BX_COUNTER"].min()),
                int(g["BX_COUNTER"].max()),
                int(chan_counts.max()),
            )
        )
    assert got == want


def test_profile_orbits_transform_with_state(spark, tmp_path):
    """Spark-4 transformWithStateInPandas orbit profiling: typed
    ValueState + per-channel MapState + explicit processing-time timers,
    on the RocksDB state store (the API requires it).  Hits straddle two
    micro-batches; after the inactivity timers fire, results must equal
    the batch twin exactly.

    The transformWithStateInPandas worker protocol speaks protobuf to
    the JVM (``pyspark/sql/streaming/proto/StateMessage_pb2``); skip
    when ``google.protobuf`` is not installed — the operator itself is
    plain Spark 4 API and runs anywhere protobuf exists.
    """
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas requires protobuf for its "
        "python<->JVM state protocol",
    )
    from fortymhz_spark.streaming.state import profile_orbits, profile_orbits_batch

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "hits"
    src.mkdir()
    hits = read_hits_csv(spark)
    with_idx = hits.withColumn("i", F.monotonically_increasing_id())
    with_idx.filter(F.col("i") % 2 == 0).drop("i").coalesce(1).write.parquet(
        str(src / "a")
    )
    time.sleep(0.05)  # distinct mtimes → deterministic batch order
    with_idx.filter(F.col("i") % 2 == 1).drop("i").coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = file_stream(spark, str(src / "*"), DT_HIT, max_files_per_trigger=1)
    name = "orbit_profiles"
    ckpt = str(tmp_path / "ckpt")
    q = (
        profile_orbits(stream, inactivity_ms=10_000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        want = {tuple(r) for r in profile_orbits_batch(hits).collect()}
        deadline = time.time() + 150
        got: set = set()
        while time.time() < deadline:
            got = {tuple(r) for r in spark.table(name).collect()}
            if got == want:
                break
            time.sleep(1.0)
        assert got == want
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_chunking_matches_batch(spark, tmp_path):
    """The chunking operator is a pure column expression, so the SAME
    code must run unchanged on a stream — the ingest path of an LLM
    pipeline is a stream of raw documents, chunked on the way in."""
    from fortymhz_spark.operators.text import chunk_token_windows

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(5 + (i * 37) % 200)))
            for i in range(40)]
    d = str(tmp_path / "docs")
    os.makedirs(d)
    spark.createDataFrame(docs[:20], "doc_id long, text string") \
        .coalesce(1).write.parquet(os.path.join(d, "p0"))
    spark.createDataFrame(docs[20:], "doc_id long, text string") \
        .coalesce(1).write.parquet(os.path.join(d, "p1"))

    def chunked(df):
        return df.select(
            "doc_id", F.explode(chunk_token_windows("text")).alias("c")
        ).select("doc_id", "c.chunk_idx", "c.chunk_text")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "p*"))
    )
    got = sorted(
        map(tuple, run_to_memory(chunked(stream), spark).collect())
    )
    want = sorted(
        map(
            tuple,
            chunked(
                spark.createDataFrame(docs, "doc_id long, text string")
            ).collect(),
        )
    )
    assert got == want


def test_partition_upsert_sink_idempotent_replay_and_batch_parity(
    spark, events_stream_dir, tmp_path
):
    """The dynamic-partition-overwrite sink must converge to the batch
    answer AND produce byte-identical results when the whole stream is
    replayed from a fresh checkpoint — the idempotence that upgrades
    at-least-once redelivery to exactly-once table state.

    The batch-parity half is the regression net for the read-merge fix:
    the aggregate groups by (window_start, event_type) but the table
    partitions by window_start only, so a micro-batch that updates one
    event_type in a window used to overwrite away the OTHER event
    types' rows for that window (update mode emits only changed
    groups).  Replay determinism alone cannot catch that — both runs
    lose the same rows — only comparison against the batch twin does.
    """
    from fortymhz_spark.streaming.sinks import start_partition_upsert_sink

    def run(tag: str) -> list[tuple]:
        out = str(tmp_path / f"table_{tag}")
        ck = str(tmp_path / f"ck_{tag}")
        stream = file_stream(
            spark, _events_glob(events_stream_dir), EVENTS, max_files_per_trigger=1
        )
        agg = streaming_hourly_by_type(stream)
        q = start_partition_upsert_sink(
            agg,
            out,
            ck,
            ["window_start"],
            key_cols=["window_start", "event_type"],
            available_now=True,
        )
        q.awaitTermination(120)
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    first = run("a")
    second = run("b")  # full replay, fresh checkpoint, separate table
    assert first and first == second

    batch = spark.read.schema(EVENTS).parquet(_events_glob(events_stream_dir))
    want = sorted(map(tuple, streaming_hourly_by_type(batch).collect()))
    got = sorted(
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(f"{tmp_path}/table_a").collect()
    )
    assert got == want


def test_partition_upsert_sink_rejects_partition_outside_key():
    from fortymhz_spark.streaming.sinks import start_partition_upsert_sink

    with pytest.raises(ValueError, match="partition column"):
        start_partition_upsert_sink(
            None, "p", "c", ["window_start"], key_cols=["event_type"]
        )


def test_pure_column_operators_unified_on_streams(spark, tmp_path):
    """Every pure-column operator (sampling predicate, quality score,
    classifier logit, repetition fold, PII redaction, fingerprints,
    epoch shuffle key) must produce IDENTICAL results on a stream and
    on the same rows as a batch — the unified-engine guarantee that
    lets one curation codebase serve both the backfill and the live
    ingest.  The hashed-feature classifier riding a stream unchanged
    is the live-ingest quality gate for free."""
    from fortymhz_spark.operators.partitioning import zorder_key
    from fortymhz_spark.operators.sampling import epoch_shuffle_key, sample_score
    from fortymhz_spark.operators.text import (
        content_md5,
        hashed_linear_score,
        quality_score,
        redact_pii,
        repetition_stats,
        token_count,
    )

    docs = [
        (i, f"u{i}@x.io " + " ".join(f"w{j}" for j in range(i % 23)))
        for i in range(30)
    ]
    d = str(tmp_path / "docs")
    os.makedirs(d)
    spark.createDataFrame(docs[:15], "doc_id long, text string") \
        .coalesce(1).write.parquet(os.path.join(d, "p0"))
    spark.createDataFrame(docs[15:], "doc_id long, text string") \
        .coalesce(1).write.parquet(os.path.join(d, "p1"))

    def derive(df):
        return df.select(
            "doc_id",
            sample_score("doc_id").alias("score"),
            epoch_shuffle_key("doc_id", 3).alias("pos"),
            token_count("text").alias("n_tok"),
            quality_score("text").cast("decimal(8,4)").alias("q"),
            repetition_stats("text")["top_bigram_count"].alias("topbg"),
            content_md5("text").alias("fp"),
            redact_pii("text").alias("clean"),
            hashed_linear_score("text").alias("logit"),
            # z-order key riding a stream = clustered streaming ingest
            zorder_key(
                [
                    (F.col("doc_id").cast("double"), 0.0, 30.0),
                    (token_count("text").cast("double"), 0.0, 32.0),
                ],
                bits=8,
            ).alias("zkey"),
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "p*"))
    )
    got = sorted(map(tuple, run_to_memory(derive(stream), spark).collect()))
    want = sorted(
        map(
            tuple,
            derive(spark.createDataFrame(docs, "doc_id long, text string")).collect(),
        )
    )
    assert got == want


def test_late_data_past_watermark_is_dropped(spark, tmp_path):
    """Watermark contract, adversarially: a row arriving AFTER the
    watermark has passed its window must contribute nothing — the
    emitted count for that window equals the on-time rows only.

    Micro-batch sequence (one file per trigger, mtime-ordered):
    batch 0 fills the contested window; batch 1 carries far-future rows
    that advance the watermark past the window's end; batch 2 (another
    future row) lets the state store EVICT and emit the finalized
    window; batch 3 then delivers a late row into it — Spark's
    late-record filter only engages once the window's state is gone,
    so the eviction batch makes the drop deterministic.  If late-row
    filtering ever broke, the window's count would read 3 (and its
    value 102) instead of 2."""
    from datetime import datetime

    src = tmp_path / "late"
    src.mkdir()
    schema = "ts timestamp, event_type string, value double"
    w0 = datetime(2024, 1, 1, 0, 0)  # the contested window [00:00, 01:00)
    files = (
        ("a", [
            (datetime(2024, 1, 1, 0, 10), "view", 1.0),
            (datetime(2024, 1, 1, 0, 20), "view", 1.0),
        ]),
        # far future: watermark advances to 10:05 - 1h = 09:05 > 01:00
        ("b", [
            (datetime(2024, 1, 1, 10, 0), "view", 1.0),
            (datetime(2024, 1, 1, 10, 5), "view", 1.0),
        ]),
        # eviction batch: the finalized [00:00, 01:00) window emits here
        ("c", [(datetime(2024, 1, 1, 10, 6), "view", 1.0)]),
        ("d", [
            (datetime(2024, 1, 1, 0, 30), "view", 100.0),  # late: dropped
            (datetime(2024, 1, 1, 10, 30), "view", 1.0),   # batch stays real
        ]),
    )
    for fname, data in files:
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            str(src / fname)
        )
        time.sleep(0.05)  # distinct mtimes → deterministic batch order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    got = run_to_memory(streaming_hourly_by_type(stream), spark).collect()
    by_window = {(r["window_start"], r["event_type"]): r for r in got}
    key = (int(w0.timestamp()), "view")
    assert key in by_window, f"finalized window missing: {sorted(by_window)}"
    # 2 on-time rows, late row dropped: count 2 and its value absent
    assert by_window[key]["n_events"] == 2
    assert abs(by_window[key]["total_value"] - 2.0) < 1e-9


def test_orbit_state_ttl_flush_then_late_hit_starts_fresh_state(spark, tmp_path):
    """State-TTL eviction, adversarially: an orbit flushes by
    inactivity timeout, then a LATE hit for the same orbit arrives.
    The operator must open FRESH state (a second output row summarizing
    only the late hits) — never resurrect or corrupt the flushed state
    (a cumulative second row would double-count the first batch)."""
    src = tmp_path / "ttl_hits"
    src.mkdir()
    batch_a = [
        (2, 0, 10, 42, 100, 0),
        (2, 0, 11, 42, 200, 0),
        (2, 0, 12, 42, 300, 0),
    ]
    batch_b = [  # late hits, same orbit, different channels/bx
        (2, 0, 20, 42, 50, 0),
        (2, 0, 21, 42, 60, 0),
    ]
    cols = "HEAD short, FPGA short, TDC_CHANNEL int, ORBIT_CNT long, BX_COUNTER int, TDC_MEAS int"
    spark.createDataFrame(batch_a, cols).coalesce(1).write.parquet(
        str(src / "a")
    )

    stream = file_stream(spark, str(src / "*"), DT_HIT)
    name = "ttl_orbits_out"
    ckpt = str(tmp_path / "ckpt")
    q = (
        assemble_orbits(stream, inactivity_ms=1_500)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        def rows_for_42():
            return sorted(
                (
                    tuple(r)
                    for r in spark.table(name).collect()
                    if r["ORBIT_CNT"] == 42
                ),
            )

        deadline = time.time() + 60
        while time.time() < deadline and len(rows_for_42()) < 1:
            time.sleep(0.5)
        first = rows_for_42()
        assert first == [(42, 3, 3, 100, 300)], first  # A's hits only

        # late arrival AFTER the flush: fresh state must open
        spark.createDataFrame(batch_b, cols).coalesce(1).write.parquet(
            str(src / "b")
        )
        deadline = time.time() + 60
        while time.time() < deadline and len(rows_for_42()) < 2:
            time.sleep(0.5)
        both = rows_for_42()
        # second row summarizes ONLY the late hits — no double count
        assert both == [(42, 2, 2, 50, 60), (42, 3, 3, 100, 300)], both
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_frequent_terms_guarantee_and_determinism(spark, tmp_path):
    """Cross-batch Misra-Gries: three files staged before the stream
    start (maxFilesPerTrigger=1 → three micro-batches) so the sketch
    state must survive batch boundaries.  Asserts the MG contract per
    bucket — every term whose true count exceeds its bucket's
    token-count/counters bound is present in the final (max-seq)
    summary with true-count-bounded estimates — plus cross-batch
    accumulation (seq ≥ 2 for the hot bucket) and end-to-end
    determinism across two independent runs."""
    import random

    from pyspark.sql import functions as F

    from fortymhz_spark.streaming.sinks import run_to_memory
    from fortymhz_spark.streaming.state import streaming_frequent_terms

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(45):
        words = ["hot"] * 6 + [rng.choice(vocab) for _ in range(6)]
        rng.shuffle(words)
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "docs"
    src.mkdir()
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.parquet(
            str(src / f"f{part}")
        )

    counters, buckets = 10, 4

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        out = run_to_memory(
            streaming_frequent_terms(stream, counters=counters, buckets=buckets),
            spark,
            output_mode="update",
        ).collect()
        last_seq = {}
        for r in out:
            last_seq[r["bucket"]] = max(last_seq.get(r["bucket"], 0), r["seq"])
        final = {
            (r["bucket"], r["term"]): r["cnt"]
            for r in out
            if r["seq"] == last_seq[r["bucket"]] and r["cnt"] > 0
        }
        return final, last_seq

    final, last_seq = run_stream()
    final2, _ = run_stream()
    assert final == final2  # deterministic end to end

    # ground truth: exact counts + each term's bucket (same hash expr)
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    bucketed = toks.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("long")
    )
    true_counts = {
        (r["bucket"], r["term"]): r["n"]
        for r in bucketed.groupBy("bucket", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bucket_tokens = {}
    for (b, _), n in true_counts.items():
        bucket_tokens[b] = bucket_tokens.get(b, 0) + n

    hot_bucket = next(b for (b, t) in true_counts if t == "hot")
    assert last_seq[hot_bucket] >= 2  # state really crossed batches

    for (b, t), true_n in true_counts.items():
        bound = bucket_tokens[b] / counters
        if true_n > bound:
            assert (b, t) in final, (b, t, true_n, bound)
    for (b, t), est in final.items():
        true_n = true_counts[(b, t)]
        assert est <= true_n
        assert est >= true_n - bucket_tokens[b] // counters - 1
    # the designed heavy hitter is guaranteed present
    assert ("hot") in {t for (_, t) in final}


def test_streaming_frequent_terms_emptied_bucket_not_stale(spark, tmp_path):
    """A batch that drives a bucket's MG summary to empty must emit an
    empty-marker so the max-seq reader does not resurrect evicted
    candidates: counters=1, batch1='a' (summary {a:1}), batch2='b'
    (decrement evicts 'a', 'b' discarded → summary {}).  The final
    summary is EMPTY — a stale reader would report {a:1}."""
    from pyspark.sql import functions as F  # noqa: F401

    from fortymhz_spark.streaming.sinks import run_to_memory
    from fortymhz_spark.streaming.state import streaming_frequent_terms

    src = tmp_path / "docs2"
    src.mkdir()
    spark.createDataFrame([(0, "a")], "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "f0"))
    spark.createDataFrame([(1, "b")], "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = run_to_memory(
        streaming_frequent_terms(stream, counters=1, buckets=1),
        spark,
        output_mode="update",
    ).collect()
    last = max(r["seq"] for r in out)
    assert last == 2  # both batches processed the bucket
    final = [r for r in out if r["seq"] == last and r["cnt"] > 0]
    assert final == []  # summary is empty, not the stale {a: 1}
    assert [(r["term"], r["cnt"]) for r in out if r["seq"] == last] == [("", 0)]


def test_statestore_reader_exposes_streaming_state(spark, tmp_path):
    """Spark 4's state data source reads a checkpoint's state store
    back as a DataFrame — the debugging/ops path for 'what does the
    running aggregation believe right now' without instrumenting the
    query.  The read-back state must equal the batch-computed truth."""
    import os

    src = str(tmp_path / "in")
    os.makedirs(src)
    rows = [(i, f"k{i % 3}") for i in range(12)]
    spark.createDataFrame(rows, "id long, k string").coalesce(1).write.parquet(
        os.path.join(src, "p0")
    )
    stream = spark.readStream.schema("id long, k string").parquet(
        os.path.join(src, "p*")
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("t_statestore_probe")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = spark.read.format("statestore").load(ckpt)
    got = sorted(
        (r["key"]["k"], r["value"]["count"]) for r in state.collect()
    )
    want = sorted(
        (r["k"], r["n"])
        for r in spark.createDataFrame(rows, "id long, k string")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want


def test_partition_upsert_sink_null_keys_neither_lost_nor_duplicated(
    spark, tmp_path
):
    """Null grouping keys (a null event time makes a null window) must
    behave like any other key through the read-merge: a second batch
    touching the null partition neither deletes its untouched groups
    nor duplicates its re-emitted group — the null-unsafe name-list
    join form failed BOTH ways (null != null)."""
    import os

    from fortymhz_spark.streaming.sinks import start_partition_upsert_sink

    src = str(tmp_path / "src")
    os.makedirs(src)
    out, ck = str(tmp_path / "table"), str(tmp_path / "ck")

    def emit(rows, part):
        spark.createDataFrame(
            rows, "w string, k string, v long"
        ).coalesce(1).write.parquet(os.path.join(src, part))

    def run_once():
        stream = (
            spark.readStream.schema("w string, k string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "p*"))
        )
        agg = stream.groupBy("w", "k").agg(F.sum("v").alias("total"))
        q = start_partition_upsert_sink(
            agg, out, ck, ["w"], key_cols=["w", "k"]
        )
        q.awaitTermination(120)

    # batch 1: the null-w partition holds two groups (ka, kb) plus a
    # null-k group; batch 2 touches the null partition, re-emitting
    # ONLY (null, ka) and (null, null)
    emit([(None, "ka", 1), (None, "kb", 2), (None, None, 3), ("w1", "ka", 4)], "p0")
    run_once()
    emit([(None, "ka", 10), (None, None, 30)], "p1")
    run_once()

    got = sorted(
        map(tuple, spark.read.parquet(out).select("w", "k", "total").collect()),
        key=str,
    )
    want = sorted(
        [(None, "ka", 11), (None, "kb", 2), (None, None, 33), ("w1", "ka", 4)],
        key=str,
    )
    assert got == want


def test_snapshot_sink_appends_versions_and_skips_replays(spark, tmp_path):
    """Stream → versioned snapshot table: each micro-batch publishes a
    version through the manifest swap, and a restart with the same
    checkpoint (plus the batch-id-in-note guard) publishes nothing new
    — the union of versions equals the input exactly once."""
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )
    from fortymhz_spark.streaming.sinks import start_snapshot_sink

    src = tmp_path / "ev"
    src.mkdir()
    ev = load_table(spark, SF_DIR, "events").orderBy("ts").limit(200)
    a = ev.limit(100)
    b = ev.subtract(a)
    a.coalesce(1).write.parquet(str(src / "a"))
    time.sleep(0.05)
    b.coalesce(1).write.parquet(str(src / "b"))

    table = str(tmp_path / "snap_tbl")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = file_stream(
            spark, str(src / "*"), EVENTS, max_files_per_trigger=1
        )
        q = start_snapshot_sink(stream, table, ckpt, mode="append")
        q.awaitTermination(120)

    run_once()
    versions = snapshot_versions(table)
    assert len(versions) == 2
    assert [m["note"] for m in versions] == [
        "stream batch=0",
        "stream batch=1",
    ]
    # union of all versions == the staged input, exactly once
    v_all = read_snapshot(spark, table, version=1).unionByName(
        read_snapshot(spark, table, version=2)
    )
    assert v_all.count() == 200
    assert v_all.distinct().count() == ev.distinct().count()
    # restart with the same checkpoint: no new data → no new versions
    run_once()
    assert len(snapshot_versions(table)) == 2


def test_snapshot_sink_merge_mode_upserts_by_key(spark, tmp_path):
    """mode='merge': later batches replace earlier rows by key, so the
    current version is the LAST value per key and time travel still
    shows the pre-merge state."""
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )
    from fortymhz_spark.streaming.sinks import start_snapshot_sink

    src = tmp_path / "kv"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).coalesce(1).write.parquet(str(src / "f1"))
    time.sleep(0.05)
    spark.createDataFrame(
        [(2, "B"), (4, "d")], "k long, v string"
    ).coalesce(1).write.parquet(str(src / "f2"))

    table = str(tmp_path / "kv_tbl")
    stream = file_stream(
        spark, str(src / "*"), "k long, v string", max_files_per_trigger=1
    )
    q = start_snapshot_sink(
        stream, table, str(tmp_path / "kv_ckpt"), mode="merge",
        key_cols=["k"],
    )
    q.awaitTermination(120)

    assert len(snapshot_versions(table)) == 2
    cur = {
        r["k"]: r["v"] for r in read_snapshot(spark, table).collect()
    }
    assert cur == {1: "a", 2: "B", 3: "c", 4: "d"}
    v1 = {
        r["k"]: r["v"]
        for r in read_snapshot(spark, table, version=1).collect()
    }
    assert v1 == {1: "a", 2: "b", 3: "c"}

    with pytest.raises(ValueError, match="key_cols"):
        start_snapshot_sink(stream, table, "x", mode="merge")
    with pytest.raises(ValueError, match="mode"):
        start_snapshot_sink(stream, table, "x", mode="overwrite")


def test_materialized_agg_maintains_view_incrementally(spark, tmp_path):
    """Streaming materialized view: per-batch incremental refresh
    published as snapshot versions — the final view equals a direct
    aggregate of everything delivered, each batch's version is
    time-travelable, and a restart applies nothing twice."""
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )
    from fortymhz_spark.streaming.sinks import start_materialized_agg

    src = tmp_path / "mv_src"
    src.mkdir()
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "grp string, v long"
    ).coalesce(1).write.parquet(str(src / "f1"))
    time.sleep(0.05)
    spark.createDataFrame(
        [("a", 4), ("c", 5)], "grp string, v long"
    ).coalesce(1).write.parquet(str(src / "f2"))

    table = str(tmp_path / "mv_tbl")
    ckpt = str(tmp_path / "mv_ckpt")

    def run_once():
        stream = file_stream(
            spark, str(src / "*"), "grp string, v long",
            max_files_per_trigger=1,
        )
        q = start_materialized_agg(
            stream, table, ckpt, ["grp"],
            count_col="n", sum_cols={"sum_v": "v"},
        )
        q.awaitTermination(120)

    run_once()
    assert len(snapshot_versions(table)) == 2
    final = {
        r["grp"]: (r["n"], r["sum_v"])
        for r in read_snapshot(spark, table).collect()
    }
    assert final == {"a": (3, 7), "b": (1, 3), "c": (1, 5)}
    # time travel: the view AFTER batch 0 only
    v1 = {
        r["grp"]: (r["n"], r["sum_v"])
        for r in read_snapshot(spark, table, version=1).collect()
    }
    assert v1 == {"a": (2, 3), "b": (1, 3)}
    # restart: nothing re-applied, view unchanged
    run_once()
    assert len(snapshot_versions(table)) == 2
    assert {
        r["grp"]: (r["n"], r["sum_v"])
        for r in read_snapshot(spark, table).collect()
    } == final

    with pytest.raises(ValueError, match="group_cols"):
        start_materialized_agg(
            file_stream(spark, str(src / "*"), "grp string, v long"),
            table, ckpt, [],
        )


def test_dedup_ingest_sink_end_to_end(spark, tmp_path):
    """The streaming ingest-dedup loop (streaming/sinks.py::
    start_dedup_ingest_sink): batch 1 carries one archive duplicate
    and one in-batch duplicate pair; batch 2 duplicates a batch-1
    SURVIVOR (so the index extend must have happened between
    triggers).  Survivors land in the corpus table, their lanes in
    the index, and a checkpoint-replay restart republishes nothing."""
    from fortymhz_spark.operators.dedup import build_minhash_index
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )
    from fortymhz_spark.streaming.sinks import start_dedup_ingest_sink

    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "completely different words about some unrelated topic here now"
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    seed = spark.createDataFrame(
        [(1, base_text), (2, other)], "doc_id long, text string"
    )
    from fortymhz_spark.sources.snapshots import write_snapshot

    write_snapshot(seed, corpus_dir, note="seed")
    build_minhash_index(seed, index_dir, num_hashes=32, bands=16)

    src = tmp_path / "incoming"
    src.mkdir()
    # batch 1: 10 dups the archive (drop), 11/12 near-dup each other
    # (12 drops, min-id keeps 11), 13 is novel (survives)
    fresh = "brand new content that matches nothing else in the corpus yet"
    b1 = spark.createDataFrame(
        [
            (10, base_text + " lambda"),
            (11, fresh),
            (12, fresh + " extra"),
            (13, "another novel document with its own vocabulary entirely"),
        ],
        "doc_id long, text string",
    )
    # batch 2: 20 dups batch-1 SURVIVOR 11 (must drop — proves the
    # index absorbed batch 1), 21 is novel
    b2 = spark.createDataFrame(
        [(20, fresh + " tail"), (21, "yet more unique words nothing shares")],
        "doc_id long, text string",
    )
    # one flat dir, one json file per batch; the file source picks
    # them up oldest-mtime-first with maxFilesPerTrigger=1
    import glob as _glob
    import shutil as _shutil
    import time as _time

    for i, b in enumerate((b1, b2), start=1):
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.json(staging)
        part = _glob.glob(staging + "/part-*.json")[0]
        _shutil.copy(part, str(src / f"{i}.json"))
        _time.sleep(1.1)  # distinct mtimes pin trigger order

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    ckpt = str(tmp_path / "ckpt")
    q = start_dedup_ingest_sink(
        stream, corpus_dir, index_dir, ckpt,
        threshold=0.5, available_now=True,
    )
    q.awaitTermination(300)

    corpus_ids = sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    )
    assert corpus_ids == [1, 2, 11, 13, 21]
    index_ids = sorted(r.id for r in read_snapshot(spark, index_dir).collect())
    assert index_ids == [1, 2, 11, 13, 21]

    n_versions = len(snapshot_versions(corpus_dir))
    # replay: restart against the same checkpoint — marks skip both
    # batches, nothing republishes
    q2 = start_dedup_ingest_sink(
        stream, corpus_dir, index_dir, ckpt,
        threshold=0.5, available_now=True,
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(corpus_dir)) == n_versions
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 2, 11, 13, 21]


def test_budget_ingest_sink_enforces_quota_across_batches(spark, tmp_path):
    """ST11 (streaming/sinks.py::start_budget_ingest_sink): per-source
    token quotas enforced ACROSS micro-batches via the per-batch
    increment ledger.  Batch 0 part-fills source A and rejects an
    over-quota source-B doc; batch 1 is entirely inadmissible (A's
    remaining quota is too small for its hash-order FIRST doc, and
    prefix semantics must NOT back-fill the shorter doc behind it) —
    no data version, but the mark lands; batch 2 admits source B
    independently (per-group isolation).  A checkpoint restart
    republishes nothing."""
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )
    from fortymhz_spark.streaming.sinks import start_budget_ingest_sink

    corpus_dir = str(tmp_path / "corpus")
    ledger_dir = str(tmp_path / "ledger")
    # budget 10 tokens per source
    b0 = spark.createDataFrame(
        [
            (1, "A", "t1 t2 t3 t4"),            # A: 4 kept (cum 4)
            (2, "A", "u1 u2 u3 u4"),            # A: 4 kept (cum 8)
            (3, "B", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),  # 12 > 10
        ],
        "doc_id long, source string, text string",
    )
    # sample_score(10) < sample_score(11), so doc 10 (4 tokens,
    # 8+4 > 10) is the prefix head and STOPS the group — doc 11
    # (2 tokens, would fit) must NOT be back-filled
    b1 = spark.createDataFrame(
        [(10, "A", "v1 v2 v3 v4"), (11, "A", "x1 x2")],
        "doc_id long, source string, text string",
    )
    b2 = spark.createDataFrame(
        [(20, "B", "y1 y2 y3 y4 y5 y6 y7 y8")],  # B: 8 <= 10, kept
        "doc_id long, source string, text string",
    )
    src = tmp_path / "incoming"
    src.mkdir()
    import glob as _glob
    import shutil as _shutil
    import time as _time

    for i, b in enumerate((b0, b1, b2), start=1):
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.json(staging)
        part = _glob.glob(staging + "/part-*.json")[0]
        _shutil.copy(part, str(src / f"{i}.json"))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    ckpt = str(tmp_path / "ckpt")
    q = start_budget_ingest_sink(
        stream, corpus_dir, ledger_dir, ckpt, 10, available_now=True
    )
    q.awaitTermination(300)

    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 2, 20]
    ledger = {
        (r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(spark, ledger_dir).collect()
    }
    assert ledger == {("A", 0): 8, ("B", 2): 8}
    # batch 1 published no data version (v1 = batch 0, v2 = batch 2)
    n_versions = len(snapshot_versions(corpus_dir))
    assert n_versions == 2

    q2 = start_budget_ingest_sink(
        stream, corpus_dir, ledger_dir, ckpt, 10, available_now=True
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(corpus_dir)) == n_versions
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 2, 20]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="token_budget"):
        start_budget_ingest_sink(
            stream, corpus_dir, ledger_dir, ckpt, -1
        )


def test_dedup_ingest_sink_all_duplicate_batch_is_not_a_poison_pill(
    spark, tmp_path
):
    """An ALL-duplicates micro-batch has no survivors to merge, but its
    (app, batch_id) mark must still land (mark_stream_txn — a data-less
    manifest commit) or checkpoint replay re-delivers it forever.  The
    stream must survive the batch, ingest the NEXT batch normally, and
    a restart must republish nothing."""
    from fortymhz_spark.operators.dedup import build_minhash_index
    from fortymhz_spark.sources.snapshots import (
        _load_manifest,
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_dedup_ingest_sink

    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    seed = spark.createDataFrame(
        [(1, base_text)], "doc_id long, text string"
    )
    write_snapshot(seed, corpus_dir, note="seed")
    build_minhash_index(seed, index_dir, num_hashes=32, bands=16)

    src = tmp_path / "incoming"
    src.mkdir()
    # batch 1: BOTH docs near-dup the archive — zero survivors (the
    # poison-pill shape: pre-fix, merge_snapshot raised on the empty
    # survivors frame and the mark never landed)
    b1 = spark.createDataFrame(
        [(10, base_text + " lambda"), (11, base_text + " mu")],
        "doc_id long, text string",
    )
    # batch 2: novel — the stream must get here
    b2 = spark.createDataFrame(
        [(20, "entirely novel vocabulary nothing in the corpus shares")],
        "doc_id long, text string",
    )
    import glob as _glob
    import shutil as _shutil
    import time as _time

    for i, b in enumerate((b1, b2), start=1):
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.json(staging)
        part = _glob.glob(staging + "/part-*.json")[0]
        _shutil.copy(part, str(src / f"{i}.json"))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    ckpt = str(tmp_path / "ckpt")
    q = start_dedup_ingest_sink(
        stream, corpus_dir, index_dir, ckpt,
        threshold=0.5, available_now=True,
    )
    q.awaitTermination(300)

    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 20]
    # the all-dup batch published NO data version, only its mark:
    # versions = seed + batch-2 merge; the high-water mark covers
    # BOTH batch ids
    assert len(snapshot_versions(corpus_dir)) == 2
    marks = _load_manifest(corpus_dir).get("stream_txn", {})
    assert list(marks.values()) == [1]

    n_versions = len(snapshot_versions(corpus_dir))
    q2 = start_dedup_ingest_sink(
        stream, corpus_dir, index_dir, ckpt,
        threshold=0.5, available_now=True,
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(corpus_dir)) == n_versions
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 20]


def _stage_json_batches(spark, tmp_path, batches, schema):
    """One flat incoming dir, one json file per batch, distinct mtimes
    so maxFilesPerTrigger=1 pins trigger order.  Returns (src_dir,
    stream_reader_fn)."""
    import glob as _glob
    import shutil as _shutil
    import time as _time

    src = tmp_path / "incoming"
    src.mkdir(parents=True, exist_ok=True)
    start = len(_glob.glob(str(src / "*.json"))) + 1
    for i, rows in enumerate(batches, start=start):
        staging = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.json(staging)
        part = _glob.glob(staging + "/part-*.json")[0]
        _shutil.copy(part, str(src / f"{i}.json"))
        _time.sleep(1.1)
    return src, lambda: (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )


def test_budget_ingest_sink_null_group_is_not_a_poison_pill(
    spark, tmp_path
):
    """The ADVICE poison-pill class: a batch whose group value is NULL
    must ingest under the batch twin's sentinel — not write a NULL
    ledger key that every later batch's create_map lookup crashes on.
    The NULL group fills (and exhausts) a quota like any other, and a
    later NULL-group doc over quota is rejected without killing the
    stream."""
    from fortymhz_spark.sources.snapshots import read_snapshot
    from fortymhz_spark.streaming.sinks import (
        _NULL_GROUP,
        start_budget_ingest_sink,
    )

    schema = "doc_id long, source string, text string"
    _, mk = _stage_json_batches(
        spark, tmp_path,
        [
            # batch 0: NULL group admits 6 tokens; named group admits 2
            [(1, None, "a b c d e f"), (2, "X", "p q")],
            # batch 1: NULL group doc of 6 tokens → 12 > 10, rejected;
            # named group doc still admits (per-group isolation)
            [(10, None, "g h i j k l"), (11, "X", "r s")],
        ],
        schema,
    )
    corpus_dir = str(tmp_path / "corpus")
    ledger_dir = str(tmp_path / "ledger")
    q = start_budget_ingest_sink(
        mk(), corpus_dir, ledger_dir, str(tmp_path / "ckpt"), 10,
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 2, 11]
    ledger = {
        (r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(spark, ledger_dir).collect()
    }
    assert ledger == {
        (_NULL_GROUP, 0): 6, ("X", 0): 2, ("X", 1): 2,
    }
    # the kept rows carry the ORIGINAL NULL, not the sentinel
    assert read_snapshot(spark, corpus_dir).filter(
        F.col("doc_id") == 1
    ).first()["source"] is None


def test_budget_ingest_sink_non_string_group_col(spark, tmp_path):
    """A non-string group column (here: long) must ride the ledger as
    its string form — the hardcoded 'group string' ledger schema must
    not reject it (the second half of the ADVICE medium)."""
    from fortymhz_spark.sources.snapshots import read_snapshot
    from fortymhz_spark.streaming.sinks import start_budget_ingest_sink

    schema = "doc_id long, source long, text string"
    _, mk = _stage_json_batches(
        spark, tmp_path,
        [[(1, 7, "a b c"), (2, 8, "d e f g h i j k l m n o")]],
        schema,
    )
    corpus_dir = str(tmp_path / "corpus")
    q = start_budget_ingest_sink(
        mk(), corpus_dir, str(tmp_path / "ledger"),
        str(tmp_path / "ckpt"), 10, available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1]
    ledger = {
        (r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(
            spark, str(tmp_path / "ledger")
        ).collect()
    }
    assert ledger == {("7", 0): 3}


def test_budget_ingest_ledger_compaction_bounds_rows(spark, tmp_path):
    """Mark-anchored compaction (the r8 verdict's scale-killer): once
    ledger_compact_after committed per-batch rows accumulate, they
    fold into one absolute batch_id=-1 row per group — the ledger's
    steady state is O(groups) + a bounded tail, NOT one row per batch
    forever — while quota enforcement stays exact across the fold
    (the over-quota doc in the last batch is still rejected)."""
    from fortymhz_spark.sources.snapshots import read_snapshot
    from fortymhz_spark.streaming.sinks import start_budget_ingest_sink

    schema = "doc_id long, source string, text string"
    # five batches of 2 tokens each for source A (budget 9): batches
    # 0-3 admit (cum 2,4,6,8), batch 4's 2-token doc → 10 > 9 rejected
    _, mk = _stage_json_batches(
        spark, tmp_path,
        [[(i, "A", f"w{i}a w{i}b")] for i in range(5)],
        schema,
    )
    corpus_dir = str(tmp_path / "corpus")
    ledger_dir = str(tmp_path / "ledger")
    q = start_budget_ingest_sink(
        mk(), corpus_dir, ledger_dir, str(tmp_path / "ckpt"), 9,
        ledger_compact_after=2, available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [0, 1, 2, 3]
    rows = read_snapshot(spark, ledger_dir).collect()
    by_key = {(r.group, r.batch_id): r.tokens_added for r in rows}
    # everything at/below the final committed mark that crossed the
    # threshold folded into the absolute row; only a bounded tail of
    # per-batch rows remains (< compact_after committed + in-flight)
    assert by_key[("A", -1)] >= 4  # at least batches 0-1 folded
    per_batch = [k for k in by_key if k[1] >= 0]
    assert len(per_batch) <= 3, by_key
    # the absolute + tail still sum to the true committed total
    assert sum(by_key.values()) == 8


def test_budget_ingest_replay_across_compaction_boundary(
    spark, tmp_path
):
    """The crash window, replayed ACROSS compacted history: the ledger
    upsert for a batch lands, the corpus mark does not, and the
    restart re-delivers the batch.  Pre-batch totals must come from
    the absolute (compacted) row + tail EXCLUDING this writer's
    in-flight rows — budget chosen so that double-counting the
    in-flight increment would flip the admit decision."""
    from fortymhz_spark.sources.snapshots import read_snapshot
    from fortymhz_spark.streaming.sinks import start_budget_ingest_sink

    schema = "doc_id long, source string, text string"
    # batches 0-2: 2 tokens each (cum 6).  budget 8.
    src, mk = _stage_json_batches(
        spark, tmp_path,
        [[(i, "A", f"w{i}a w{i}b")] for i in range(3)],
        schema,
    )
    corpus_dir = str(tmp_path / "corpus")
    ledger_dir = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    app = os.path.abspath(ckpt)  # the sink's default app id
    q = start_budget_ingest_sink(
        mk(), corpus_dir, ledger_dir, ckpt, 8,
        ledger_compact_after=2, available_now=True,
    )
    q.awaitTermination(300)
    by_key = {
        (r.app, r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(spark, ledger_dir).collect()
    }
    assert (app, "A", -1) in by_key, "compaction must have run"
    # simulate the crash window for batch 3: its ledger increment
    # landed (keyed upsert), the corpus mark did not
    from fortymhz_spark.sources.snapshots import merge_snapshot

    merge_snapshot(
        spark, ledger_dir,
        spark.createDataFrame(
            [(app, "A", 3, 2)],
            "app string, group string, batch_id long, tokens_added long",
        ),
        ["app", "group", "batch_id"],
        note="simulated in-flight batch-3 increment (crash window)",
    )
    # the re-delivered batch: totals must read 6 (absolute+tail,
    # excluding the in-flight row) → 6+2=8 ≤ 8 ADMITS.  Double-counting
    # the in-flight row would read 8 → 8+2=10 > 8 and wrongly reject.
    _stage_json_batches(
        spark, tmp_path, [[(30, "A", "x1 x2")]], schema
    )
    q2 = start_budget_ingest_sink(
        mk(), corpus_dir, ledger_dir, ckpt, 8,
        ledger_compact_after=2, available_now=True,
    )
    q2.awaitTermination(300)
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [0, 1, 2, 30]
    final = {
        (r.app, r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(spark, ledger_dir).collect()
    }
    # the replay re-upserted the SAME key — no duplicate, no double sum
    assert final[(app, "A", 3)] == 2
    assert sum(final.values()) == 8


def test_budget_ingest_replay_retracts_stale_increments(spark, tmp_path):
    """The multi-writer replay drift: writer A's batch-1 ledger
    increment lands, the corpus mark does not, and writer B fills the
    quota before A restarts.  A's replay now ADMITS A DIFFERENT SET —
    the keyed upsert alone would leave the pre-crash increment for the
    no-longer-admitted group counted forever (a permanent under-fill
    only reconcile_budget_ledger could repair).  The sink must delete
    its own current-batch rows for groups the re-decision dropped, in
    the same ledger merge."""
    from fortymhz_spark.sources.snapshots import (
        merge_snapshot,
        read_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_budget_ingest_sink

    schema = "doc_id long, source string, text string"
    corpus_dir = str(tmp_path / "corpus")
    ledger_dir = str(tmp_path / "ledger")
    # per-group budget 8.  Writer A batch 0: 4 tokens in group S.
    _, mk_a = _stage_json_batches(
        spark, tmp_path / "a", [[(1, "S", "a b c d")]], schema
    )
    q = start_budget_ingest_sink(
        mk_a(), corpus_dir, ledger_dir, str(tmp_path / "ckpt_a"), 8,
        txn_id="writer-a", available_now=True,
    )
    q.awaitTermination(300)
    # Writer B commits 4 more S tokens: S is now at quota (8).
    _, mk_b = _stage_json_batches(
        spark, tmp_path / "b", [[(2, "S", "e f g h")]], schema
    )
    q = start_budget_ingest_sink(
        mk_b(), corpus_dir, ledger_dir, str(tmp_path / "ckpt_b"), 8,
        txn_id="writer-b", available_now=True,
    )
    q.awaitTermination(300)
    # Crash window for A's batch 1 (a 2-token S doc + a 2-token T doc):
    # its ledger increments landed BEFORE B's commit, the corpus mark
    # did not.  (B's admit above already happened — the injected rows
    # postdate it, exactly the interleaving that flips the decision.)
    merge_snapshot(
        spark, ledger_dir,
        spark.createDataFrame(
            [("writer-a", "S", 1, 2), ("writer-a", "T", 1, 2)],
            "app string, group string, batch_id long, tokens_added long",
        ),
        ["app", "group", "batch_id"],
        note="simulated in-flight batch-1 increments (crash window)",
    )
    # A restarts and the checkpoint re-delivers batch 1.  Pre-batch S
    # totals (excluding A's own batch-1 rows) read 8 → the S doc is now
    # REJECTED; T still admits.  The stale (writer-a, S, 1) increment
    # must be deleted in the same merge, not left counted forever.
    _stage_json_batches(
        spark, tmp_path / "a",
        [[(10, "S", "x1 x2"), (11, "T", "y1 y2")]], schema,
    )
    q = start_budget_ingest_sink(
        mk_a(), corpus_dir, ledger_dir, str(tmp_path / "ckpt_a"), 8,
        txn_id="writer-a", available_now=True,
    )
    q.awaitTermination(300)
    ledger = {
        (r.app, r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(spark, ledger_dir).collect()
    }
    assert ("writer-a", "S", 1) not in ledger, (
        "stale pre-crash increment for the no-longer-admitted group "
        "must be retracted"
    )
    assert ledger[("writer-a", "T", 1)] == 2
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 2, 11]
    # Second crash window, ALL groups dropped on replay (the
    # empty-survivors path): batch 2's increment lands, B fills T
    # meanwhile… T is at 2+?  inject 6 more committed T tokens for B
    merge_snapshot(
        spark, ledger_dir,
        spark.createDataFrame(
            [("writer-b", "T", 5, 6), ("writer-a", "T", 2, 2)],
            "app string, group string, batch_id long, tokens_added long",
        ),
        ["app", "group", "batch_id"],
        note="B fills T (committed) + A's in-flight batch-2 increment",
    )
    _stage_json_batches(
        spark, tmp_path / "a", [[(12, "T", "z1 z2")]], schema
    )
    q = start_budget_ingest_sink(
        mk_a(), corpus_dir, ledger_dir, str(tmp_path / "ckpt_a"), 8,
        txn_id="writer-a", available_now=True,
    )
    q.awaitTermination(300)
    ledger = {
        (r.app, r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(spark, ledger_dir).collect()
    }
    assert ("writer-a", "T", 2) not in ledger, (
        "the empty-survivors replay path must retract too"
    )
    assert 12 not in [
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ]


def test_budget_ingest_two_writers_share_quota_without_collision(
    spark, tmp_path
):
    """The ledger is keyed per writer: a second stream (fresh txn_id,
    fresh checkpoint → batch numbering restarts at 0) must NOT upsert
    over the first writer's batch-0 increments, and quota totals SUM
    across writers — the budget bounds the corpus, not any one
    stream."""
    from fortymhz_spark.sources.snapshots import read_snapshot
    from fortymhz_spark.streaming.sinks import start_budget_ingest_sink

    schema = "doc_id long, source string, text string"
    corpus_dir = str(tmp_path / "corpus")
    ledger_dir = str(tmp_path / "ledger")
    # writer A, batch 0: admits 4 tokens
    _, mk_a = _stage_json_batches(
        spark, tmp_path / "a", [[(1, "S", "a b c d")]], schema
    )
    q = start_budget_ingest_sink(
        mk_a(), corpus_dir, ledger_dir, str(tmp_path / "ckpt_a"), 10,
        txn_id="writer-a", available_now=True,
    )
    q.awaitTermination(300)
    # writer B, batch 0 (same numbering!): admits 4 more (cum 8)
    _, mk_b = _stage_json_batches(
        spark, tmp_path / "b", [[(2, "S", "e f g h")]], schema
    )
    q = start_budget_ingest_sink(
        mk_b(), corpus_dir, ledger_dir, str(tmp_path / "ckpt_b"), 10,
        txn_id="writer-b", available_now=True,
    )
    q.awaitTermination(300)
    ledger = {
        (r.app, r.group, r.batch_id): r.tokens_added
        for r in read_snapshot(spark, ledger_dir).collect()
    }
    # BOTH batch-0 rows survive — an app-less ledger would have
    # silently upserted writer B over writer A here
    assert ledger == {
        ("writer-a", "S", 0): 4, ("writer-b", "S", 0): 4,
    }
    # writer B, batch 1: a 4-token doc → 8+4 > 10, rejected ACROSS
    # writers (the corpus-level quota)
    _stage_json_batches(
        spark, tmp_path / "b", [[(3, "S", "i j k l")]], schema
    )
    q = start_budget_ingest_sink(
        mk_b(), corpus_dir, ledger_dir, str(tmp_path / "ckpt_b"), 10,
        txn_id="writer-b", available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 2]


def test_ann_codes_maintenance_sink_tracks_ingest(spark, tmp_path):
    """Streaming ANN-codes maintenance (start_ann_codes_sink): a seed
    build, then two micro-batches — adds, then adds + tombstones —
    must leave the codes table byte-identical to a from-scratch
    build_ann_codes over the final corpus; serving returns no deleted
    id; a checkpoint restart republishes nothing."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings")
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(seed, codes_dir, idx, corpus_version=1)

    def rows_of(df, deleted=False):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]], deleted)
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    b1 = rows_of(emb.filter(F.col("vec_id") % 3 == 1))
    # batch 2: the remaining third arrives AND a seed slice tombstones
    b2 = rows_of(emb.filter(F.col("vec_id") % 3 == 2)) + rows_of(
        emb.filter(F.col("vec_id") % 9 == 0), deleted=True
    )
    _, mk = _stage_json_batches(spark, tmp_path, [b1, b2], schema)
    ckpt = str(tmp_path / "ckpt")
    q = start_ann_codes_sink(
        mk(), codes_dir, idx, ckpt, delete_col="is_deleted",
        available_now=True,
    )
    q.awaitTermination(300)

    final_corpus = emb.filter(F.col("vec_id") % 9 != 0)
    scratch_dir = str(tmp_path / "scratch")
    build_ann_codes(final_corpus, scratch_dir, idx, corpus_version=1)
    key = lambda r: tuple(r)
    got = read_snapshot(spark, codes_dir).collect()
    want = load_ann_codes(spark, scratch_dir, idx).collect()
    assert sorted(map(key, got)) == sorted(map(key, want))

    n_versions = len(snapshot_versions(codes_dir))
    q2 = start_ann_codes_sink(
        mk(), codes_dir, idx, ckpt, delete_col="is_deleted",
        available_now=True,
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(codes_dir)) == n_versions


def test_budget_ingest_reads_pre_upgrade_ledger(spark, tmp_path):
    """A ledger written by the pre-per-writer code (3 columns, no app)
    must not crash the upgraded sink: legacy rows count toward totals
    like a foreign writer's (never excluded, never compacted), and the
    first post-upgrade merge schema-evolves them to app=NULL."""
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_budget_ingest_sink

    ledger_dir = str(tmp_path / "ledger")
    # the old schema: (group, batch_id, tokens_added); 6 tokens spent
    write_snapshot(
        spark.createDataFrame(
            [("A", 0, 6)], "group string, batch_id long, tokens_added long"
        ),
        ledger_dir,
        note="budget ledger batch=0",
    )
    schema = "doc_id long, source string, text string"
    # budget 10: legacy 6 + 3 admits doc 1; +4 would overflow → doc 2
    # (later in hash order within its own batch) is rejected
    _, mk = _stage_json_batches(
        spark, tmp_path,
        [[(1, "A", "a b c")], [(2, "A", "d e f g h")]],
        schema,
    )
    corpus_dir = str(tmp_path / "corpus")
    q = start_budget_ingest_sink(
        mk(), corpus_dir, ledger_dir, str(tmp_path / "ckpt"), 10,
        available_now=True,
    )
    q.awaitTermination(300)
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1]
    rows = read_snapshot(spark, ledger_dir).collect()
    got = {(r.app, r.group, r.batch_id): r.tokens_added for r in rows}
    assert got[(None, "A", 0)] == 6  # legacy row carried, app NULL
    assert sum(v for (a, _, _), v in got.items() if a is not None) == 3


def test_reconcile_budget_ledger_repairs_orphaned_increment(
    spark, tmp_path
):
    """A writer that died with an in-flight increment (ledger landed,
    corpus merge didn't, never restarts) leaves quota consumed by
    tokens that never reached the corpus.  reconcile_budget_ledger
    rebuilds the ledger from the corpus; the next batch then admits
    against the TRUE totals."""
    from fortymhz_spark.sources.snapshots import (
        merge_snapshot,
        read_snapshot,
    )
    from fortymhz_spark.streaming.sinks import (
        reconcile_budget_ledger,
        start_budget_ingest_sink,
    )

    schema = "doc_id long, source string, text string"
    corpus_dir = str(tmp_path / "corpus")
    ledger_dir = str(tmp_path / "ledger")
    # batch 0 admits 4 tokens (budget 10)
    _, mk = _stage_json_batches(
        spark, tmp_path, [[(1, "A", "a b c d")]], schema
    )
    q = start_budget_ingest_sink(
        mk(), corpus_dir, ledger_dir, str(tmp_path / "ckpt"), 10,
        available_now=True,
    )
    q.awaitTermination(300)
    # a DEAD writer's orphan: 5 phantom tokens nobody will replay
    merge_snapshot(
        spark, ledger_dir,
        spark.createDataFrame(
            [("dead-writer", "A", 0, 5)],
            "app string, group string, batch_id long, tokens_added long",
        ),
        ["app", "group", "batch_id"],
        note="orphaned in-flight increment",
    )
    # without repair a 4-token doc would see 4+5=9 → 9+4 > 10: reject
    reconcile_budget_ledger(spark, corpus_dir, ledger_dir)
    rows = read_snapshot(spark, ledger_dir).collect()
    assert {(r.app, r.group, r.batch_id, r.tokens_added) for r in rows} == {
        ("<reconciled>", "A", -1, 4)
    }
    _stage_json_batches(spark, tmp_path, [[(2, "A", "e f g h")]], schema)
    q2 = start_budget_ingest_sink(
        mk(), corpus_dir, ledger_dir, str(tmp_path / "ckpt"), 10,
        available_now=True,
    )
    q2.awaitTermination(300)
    assert sorted(
        r.doc_id for r in read_snapshot(spark, corpus_dir).collect()
    ) == [1, 2]


def test_ann_codes_sink_dedupes_batch_and_drops_null_ids(
    spark, tmp_path
):
    """An at-least-once upstream re-emitting a vec_id within one
    micro-batch (or a NULL-id row) must not poison-pill the codes
    sink: duplicates collapse to a deterministic winner, NULL ids
    drop, and the stream completes."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import read_snapshot
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings")
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    seed = emb.filter(F.col("vec_id") < 100)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(seed, codes_dir, idx, corpus_version=1)

    v200 = [float(x) for x in emb.filter(
        F.col("vec_id") == 200
    ).first()["embedding"]]
    v201 = [float(x) for x in emb.filter(
        F.col("vec_id") == 201
    ).first()["embedding"]]
    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    batch = [
        (200, v200, False),
        (200, v201, False),  # duplicate id, different vector
        (None, v201, False),  # NULL id names no row
        (202, None, False),  # NULL vector cannot encode
        (201, v201, False),
    ]
    _, mk = _stage_json_batches(spark, tmp_path, [batch], schema)
    q = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "ckpt"),
        delete_col="is_deleted", available_now=True,
    )
    q.awaitTermination(300)
    ids = sorted(r.id for r in read_snapshot(spark, codes_dir).collect())
    assert ids == sorted(
        [r.vec_id for r in seed.select("vec_id").collect()] + [200, 201]
    )


def test_exactly_once_sink_retries_concurrent_write_veto(
    spark, tmp_path
):
    """A sink body losing the snapshot CAS race to a competing writer
    raises ConcurrentWriteError — the shared exactly-once helper must
    retry the (replay-idempotent) body in place instead of killing
    the streaming query, and give up only after bounded attempts."""
    from fortymhz_spark.sources.snapshots import (
        ConcurrentWriteError,
        mark_stream_txn,
    )
    from fortymhz_spark.streaming.sinks import _start_exactly_once_sink

    schema = "doc_id long, text string"
    _, mk = _stage_json_batches(
        spark, tmp_path, [[(1, "a")]], schema
    )
    table_dir = str(tmp_path / "table")
    os.makedirs(table_dir)
    calls = {"n": 0}

    def flaky_body(batch_df, batch_id, app):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConcurrentWriteError("simulated competing publish")
        mark_stream_txn(table_dir, (app, batch_id))

    q = _start_exactly_once_sink(
        mk(), table_dir, str(tmp_path / "ckpt"), flaky_body,
        available_now=True, txn_id="flaky",
    )
    q.awaitTermination(300)
    assert calls["n"] == 3


def test_pca_moments_sink_maintains_byte_identical_model(
    spark, tmp_path
):
    """Streaming PCA-moments maintenance (start_pca_moments_sink):
    seed init, then two micro-batches — adds, then adds + retractions
    — must leave the moments table such that fit_pca_from_moments is
    BYTE-identical to a from-scratch fit on the net corpus; a restart
    republishes nothing; an over-retracting batch raises instead of
    publishing a meaningless statistic."""
    from fortymhz_spark.operators.projection import (
        fit_pca,
        fit_pca_from_moments,
        init_pca_moments,
    )
    from fortymhz_spark.sources.snapshots import snapshot_versions
    from fortymhz_spark.streaming.sinks import start_pca_moments_sink

    emb = load_table(spark, SF_DIR, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    md = str(tmp_path / "moments")
    init_pca_moments(seed, md)

    def rows_of(df, deleted=False):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]], deleted)
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    b1 = rows_of(emb.filter(F.col("vec_id") % 3 == 1))
    # batch 2: the remaining third arrives AND a seed slice retracts
    b2 = rows_of(emb.filter(F.col("vec_id") % 3 == 2)) + rows_of(
        emb.filter(F.col("vec_id") % 9 == 0), deleted=True
    )
    _, mk = _stage_json_batches(spark, tmp_path, [b1, b2], schema)
    ckpt = str(tmp_path / "ckpt")
    q = start_pca_moments_sink(
        mk(), md, ckpt, delete_col="is_deleted", available_now=True
    )
    q.awaitTermination(300)

    net = emb.filter(F.col("vec_id") % 9 != 0)
    assert fit_pca_from_moments(spark, md, 8) == fit_pca(net, 8)
    n_versions = len(snapshot_versions(md))
    q2 = start_pca_moments_sink(
        mk(), md, ckpt, delete_col="is_deleted", available_now=True
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(md)) == n_versions


def test_ann_codes_sink_refit_policy_self_heals_index(spark, tmp_path):
    """The sink's drift→refit policy arm (refit_threshold=): a
    below-threshold batch maintains codes WITHOUT touching the index
    (no corpus scan, no publish), an above-threshold batch triggers
    the corpus-level refit — exactly one new index version, codes
    byte-identical to a manual rebuild over the corpus snapshot — and
    the post-refit live index serves the re-applied batch."""
    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    normal = emb.select(
        (F.col("vec_id") + 200_000).alias("vec_id"), "embedding"
    )
    drifted = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * x).alias("embedding"),
    )
    # the corpus snapshot the refit rebuilds from: everything the
    # stream will have delivered (the documented upstream contract)
    full = emb.unionByName(normal).unionByName(drifted)
    corpus_dir = str(tmp_path / "corpus")
    write_snapshot(full, corpus_dir, note="raw vectors")

    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(emb, codes_dir, idx, corpus_version=1)

    # threshold between the healthy-batch error and the corpus-mix
    # error, so batch 1 (normal) stays under and batch 2 (drifted)
    # and the corpus-level decision both land over
    fit_err = ann_drift_report(normal, idx).first()["mean_quant_err"]
    mix_err = ann_drift_report(full, idx).first()["mean_quant_err"]
    drift_err = ann_drift_report(drifted, idx).first()["mean_quant_err"]
    assert fit_err < mix_err < drift_err
    threshold = (fit_err + mix_err) / 2

    def rows_of(df):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>"
    _, mk = _stage_json_batches(
        spark, tmp_path, [rows_of(normal), rows_of(drifted)], schema
    )
    q = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "ckpt"),
        available_now=True,
        refit_threshold=float(threshold),
        index_dir=idx_dir, corpus_dir=corpus_dir,
    )
    q.awaitTermination(300)

    # exactly ONE refit fired (batch 1 must not have): v1 + one rebuild
    assert len(snapshot_versions(idx_dir)) == 2
    idx2 = load_ann_index(spark, idx_dir)
    assert idx2.version == 2

    # the final codes table == a manual rebuild over the corpus under
    # the refit index (which itself == a manual fit on the corpus)
    man_idx_dir = str(tmp_path / "man_idx")
    build_ann_index(full, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    man_idx = load_ann_index(spark, man_idx_dir)
    assert idx2.coarse == man_idx.coarse and idx2.books == man_idx.books
    man_codes_dir = str(tmp_path / "man_codes")
    build_ann_codes(full, man_codes_dir, man_idx)
    key = lambda r: tuple(r)
    got = read_snapshot(spark, codes_dir).collect()
    want = load_ann_codes(spark, man_codes_dir, man_idx).collect()
    assert sorted(map(key, got)) == sorted(map(key, want))

    # replay is inert: marks skip both batches, no new versions anywhere
    nv_idx, nv_codes = (
        len(snapshot_versions(idx_dir)),
        len(snapshot_versions(codes_dir)),
    )
    q2 = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "ckpt"),
        available_now=True,
        refit_threshold=float(threshold),
        index_dir=idx_dir, corpus_dir=corpus_dir,
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == nv_idx
    assert len(snapshot_versions(codes_dir)) == nv_codes


def test_ann_codes_sink_carries_metadata_at_rest(spark, tmp_path):
    """A metadata-at-rest codes table (build_ann_codes meta_cols=)
    maintained by the STREAM: the sink resolves the recorded column
    set at start (raising immediately if the stream lacks one), rides
    it through the per-batch dedup deterministically, and the final
    table equals a from-scratch metadata build."""
    import pytest as _pytest

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import read_snapshot
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings")
    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(seed, codes_dir, idx, meta_cols=["label"])

    def rows_of(df):
        return [
            (
                int(r["vec_id"]),
                [float(x) for x in r["embedding"]],
                int(r["label"]),
            )
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>, label int"
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    _, mk = _stage_json_batches(spark, tmp_path, [rows_of(batch)], schema)

    # a stream missing a recorded attribute fails at START, not as a
    # first-batch poison pill
    with _pytest.raises(ValueError, match="meta_cols"):
        start_ann_codes_sink(
            mk().drop("label"), codes_dir, idx, str(tmp_path / "ckpt_bad")
        )

    q = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    scratch_dir = str(tmp_path / "scratch")
    build_ann_codes(emb, scratch_dir, idx, meta_cols=["label"])
    key = lambda r: tuple(r)
    got = read_snapshot(spark, codes_dir).collect()
    want = load_ann_codes(spark, scratch_dir, idx).collect()
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_ann_codes_sink_defers_refit_when_corpus_lags_stream(
    spark, tmp_path
):
    """The refit COVERAGE GUARD (round-11 advisor item): when
    corpus_dir lags the stream by 2+ triggers, a refit would rebuild
    codes WITHOUT the earlier batches' rows — silent serving
    corruption.  The sink must detect the gap, DEFER the refit (no
    index publish), keep maintaining codes under the current index,
    and refit normally once the corpus catches up."""
    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    normal = emb.select(
        (F.col("vec_id") + 200_000).alias("vec_id"), "embedding"
    )
    drifted = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * x).alias("embedding"),
    )
    drifted2 = emb.select(
        (F.col("vec_id") + 300_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * x * x).alias("embedding"),
    )
    # the corpus snapshot LAGS: it holds only the seed when the
    # drift-triggering batch 2 arrives (batch 1's rows are missing)
    corpus_dir = str(tmp_path / "corpus")
    write_snapshot(emb, corpus_dir, note="seed only — lags the stream")

    idx_dir = str(tmp_path / "idx")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    codes_dir = str(tmp_path / "codes")
    build_ann_codes(emb, codes_dir, idx)

    fit_err = ann_drift_report(normal, idx).first()["mean_quant_err"]
    full = emb.unionByName(normal).unionByName(drifted)
    mix_err = ann_drift_report(full, idx).first()["mean_quant_err"]
    batch2_err = ann_drift_report(drifted, idx).first()["mean_quant_err"]
    batch3_err = ann_drift_report(drifted2, idx).first()["mean_quant_err"]
    assert fit_err < mix_err < batch2_err
    assert mix_err < batch3_err
    threshold = (fit_err + mix_err) / 2

    def rows_of(df):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>"
    _, mk = _stage_json_batches(
        spark, tmp_path, [rows_of(normal), rows_of(drifted)], schema
    )
    kw = dict(
        available_now=True, refit_threshold=float(threshold),
        index_dir=idx_dir, corpus_dir=corpus_dir,
    )
    q = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "ckpt"), **kw
    )
    q.awaitTermination(300)

    # batch 2 crossed the threshold but the refit was DEFERRED: no
    # index publish, and the codes table tracked BOTH batches under
    # the original index (byte-identical to a manual encode)
    assert len(snapshot_versions(idx_dir)) == 1
    scratch = str(tmp_path / "scratch_v1")
    build_ann_codes(full, scratch, idx)
    key = lambda r: tuple(r)
    assert sorted(map(key, read_snapshot(spark, codes_dir).collect())) == (
        sorted(map(key, load_ann_codes(spark, scratch, idx).collect()))
    )

    # the corpus catches up; the NEXT above-threshold batch refits
    write_snapshot(full, corpus_dir, note="caught up")
    _stage_json_batches(spark, tmp_path, [rows_of(drifted2)], schema)
    q2 = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "ckpt"), **kw
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == 2
    idx2 = load_ann_index(spark, idx_dir)
    man_idx_dir = str(tmp_path / "man_idx")
    build_ann_index(full, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    man_idx = load_ann_index(spark, man_idx_dir)
    assert idx2.coarse == man_idx.coarse and idx2.books == man_idx.books
    man_codes_dir = str(tmp_path / "man_codes")
    build_ann_codes(full.unionByName(drifted2), man_codes_dir, man_idx)
    assert sorted(map(key, read_snapshot(spark, codes_dir).collect())) == (
        sorted(
            map(key, load_ann_codes(spark, man_codes_dir, man_idx).collect())
        )
    )


def test_ann_codes_sink_tombstone_fraction_refit_arm(spark, tmp_path):
    """The sink's tombstone-mass trigger (refit_deleted_fraction=): a
    small delete batch stays below the threshold (no index publish),
    a later heavy delete crosses it and fires the corpus-level refit
    — new index + codes byte-identical to a manual rebuild over the
    surviving corpus — even though quantization drift never moved."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        codes_deleted_fraction,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)
    corpus_dir = str(tmp_path / "corpus")
    write_snapshot(emb, corpus_dir, note="seed")

    small = emb.filter(F.col("vec_id") % 11 == 0)   # ~9 %
    heavy = emb.filter(
        (F.col("vec_id") % 11 != 0) & (F.col("vec_id") % 2 == 0)
    )  # roughly another 45 %

    def del_rows(df):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]], True)
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    kw = dict(
        delete_col="is_deleted", available_now=True,
        refit_deleted_fraction=0.3, index_dir=idx_dir,
        corpus_dir=corpus_dir,
    )
    # batch 1: small delete — fraction ~0.09, below the 0.3 arm
    _, mk = _stage_json_batches(spark, tmp_path, [del_rows(small)], schema)
    q = start_ann_codes_sink(mk(), codes_dir, idx, str(tmp_path / "c1"), **kw)
    q.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == 1
    assert 0.0 < codes_deleted_fraction(codes_dir) < 0.3

    # corpus catches up with batch 1's deletes (lockstep contract),
    # then the heavy delete crosses the arm
    after_small = emb.join(small.select("vec_id"), ["vec_id"], "anti")
    write_snapshot(after_small, corpus_dir, note="minus small")
    _stage_json_batches(spark, tmp_path, [del_rows(heavy)], schema)
    q2 = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "c1"), **kw
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == 2
    idx2 = load_ann_index(spark, idx_dir)

    # the refit fits on the SURVIVING population (corpus snapshot
    # minus this batch's own deletes — the anti-churn rule)
    survivors = after_small.join(heavy.select("vec_id"), ["vec_id"], "anti")
    man_idx_dir = str(tmp_path / "man_idx")
    build_ann_index(
        survivors, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16
    )
    man_idx = load_ann_index(spark, man_idx_dir)
    assert idx2.coarse == man_idx.coarse and idx2.books == man_idx.books
    man_codes_dir = str(tmp_path / "man_codes")
    build_ann_codes(survivors, man_codes_dir, man_idx)
    key = lambda r: tuple(r)
    assert sorted(map(key, read_snapshot(spark, codes_dir).collect())) == (
        sorted(
            map(key, load_ann_codes(spark, man_codes_dir, man_idx).collect())
        )
    )
    # the refit spent the tombstone mass
    assert codes_deleted_fraction(codes_dir) == 0.0


def test_ann_codes_sink_tombstone_retry_on_addonly_batch(spark, tmp_path):
    """Refit-retry LIVENESS (round-12 advisor item): the tombstone
    arm reads STANDING table state, so after a coverage-guard
    deferral it must re-evaluate on EVERY armed batch — a stream
    that turns to low-drift ADD-ONLY batches once the corpus catches
    up previously never re-checked the standing deleted mass, and
    the stale index persisted forever.  Staged here exactly:
    batch 1 extends (corpus lags), batch 2's heavy delete crosses
    the arm but DEFERS on coverage, the corpus catches up, and
    batch 3 — adds only, no deletes — must now fire the refit."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        codes_deleted_fraction,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    # the extend batches stay SMALL relative to the seed: the
    # tombstone fraction measures NET shrinkage vs the fresh-encode
    # base, so large extends would mask the deletes (the documented
    # codes_deleted_fraction caveat) and the arm would never cross
    extra = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    ).limit(24)
    late = emb.select(
        (F.col("vec_id") + 200_000).alias("vec_id"), "embedding"
    ).limit(24)
    heavy = emb.filter(F.col("vec_id") % 2 == 0)  # ~50 % of the seed

    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)
    corpus_dir = str(tmp_path / "corpus")
    write_snapshot(emb, corpus_dir, note="seed only — lags the stream")

    def rows_of(df, deleted=False):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]], deleted)
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    kw = dict(
        delete_col="is_deleted", available_now=True,
        refit_deleted_fraction=0.3, index_dir=idx_dir,
        corpus_dir=corpus_dir,
    )
    # batches 1+2: extend while the corpus lags, then a heavy delete
    # that CROSSES the arm — the coverage guard defers (batch 1's
    # rows are absent from the corpus snapshot)
    _, mk = _stage_json_batches(
        spark, tmp_path,
        [rows_of(extra), rows_of(heavy, deleted=True)], schema,
    )
    with pytest.warns(RuntimeWarning, match="DEFERRED"):
        q = start_ann_codes_sink(
            mk(), codes_dir, idx, str(tmp_path / "c1"), **kw
        )
        q.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == 1  # deferred, no publish
    assert codes_deleted_fraction(codes_dir) > 0.3  # mass still standing

    # the corpus catches up with the live state (seed + batch-1 adds
    # minus batch-2 deletes); batch 3 carries ONLY low-drift adds —
    # no deletes — and must still re-check the standing mass and fire
    live = emb.unionByName(extra).join(
        heavy.select("vec_id"), ["vec_id"], "anti"
    )
    write_snapshot(live, corpus_dir, note="caught up")
    _stage_json_batches(spark, tmp_path, [rows_of(late)], schema)
    q2 = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "c1"), **kw
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == 2  # the retry fired
    idx2 = load_ann_index(spark, idx_dir)

    # refit fit on the caught-up corpus; batch 3's adds re-applied
    # under the new index — byte-identical to a manual rebuild
    man_idx_dir = str(tmp_path / "man_idx")
    build_ann_index(live, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    man_idx = load_ann_index(spark, man_idx_dir)
    assert idx2.coarse == man_idx.coarse and idx2.books == man_idx.books
    man_codes_dir = str(tmp_path / "man_codes")
    build_ann_codes(live.unionByName(late), man_codes_dir, man_idx)
    key = lambda r: tuple(r)
    assert sorted(map(key, read_snapshot(spark, codes_dir).collect())) == (
        sorted(
            map(key, load_ann_codes(spark, man_codes_dir, man_idx).collect())
        )
    )
    assert codes_deleted_fraction(codes_dir) == 0.0  # mass spent


def test_ann_codes_sink_retunes_after_refit(spark, tmp_path):
    """The KNOB half of the self-healing loop (round-12): a refit
    invalidates persisted serving knobs by contract, so the sink's
    ``tuning_dir=`` arm must re-run the tuner against the NEW
    (index, codes) pair after every refit — the recorded operating
    point then tracks the geometry and ``load_ann_serving
    (tuning_dir=)`` keeps serving tuned, warning-free, with no
    operator in the loop."""
    import warnings as _warnings

    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
        load_ann_serving,
        load_ann_tuning,
        tune_ann_serving,
    )
    from fortymhz_spark.sources.snapshots import (
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    tune_dir = str(tmp_path / "tuning")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)
    corpus_dir = str(tmp_path / "corpus")
    write_snapshot(emb, corpus_dir, note="seed")

    # the deployment's day-0 tune, persisted against index v1
    codes = load_ann_codes(spark, codes_dir, idx)
    tune_ann_serving(
        emb, idx, k=5, target_recall=0.6, sample_queries=8,
        codes=codes, tuning_dir=tune_dir,
    )
    assert load_ann_tuning(tune_dir, index_version=1) is not None

    # tuning_dir without an armed refit policy is a misconfiguration
    with pytest.raises(ValueError, match="tuning_dir"):
        start_ann_codes_sink(
            emb, codes_dir, idx, str(tmp_path / "cbad"),
            tuning_dir=tune_dir,
        )

    heavy = emb.filter(F.col("vec_id") % 2 == 0)  # ~50 % — crosses
    rows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]], True)
        for r in heavy.collect()
    ]
    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    _, mk = _stage_json_batches(spark, tmp_path, [rows], schema)
    q = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "c1"),
        delete_col="is_deleted", available_now=True,
        refit_deleted_fraction=0.3, index_dir=idx_dir,
        corpus_dir=corpus_dir, tuning_dir=tune_dir,
        tune_target=0.6, tune_sample=8, tune_k=5,
    )
    q.awaitTermination(300)

    # the refit fired AND the knobs were re-tuned against index v2:
    # the artifact has a second version paired to the new geometry,
    # and the serving load attaches it with no staleness warning
    assert len(snapshot_versions(idx_dir)) == 2
    assert len(snapshot_versions(tune_dir)) == 2
    t2 = load_ann_tuning(tune_dir, index_version=2)
    assert t2 is not None and t2["index_version"] == 2
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        served_idx, _ = load_ann_serving(
            spark, idx_dir, codes_dir, tuning_dir=tune_dir
        )
    assert served_idx.version == 2
    assert served_idx.tuning["nprobe"] == t2["nprobe"]


def test_ann_codes_sink_refit_autoheals_stale_corpus(spark, tmp_path):
    """Coverage-guard AUTO-HEAL (round-12, the r11 verdict's item
    #9): a corpus that lags the stream's DELETES by 2+ triggers —
    rows earlier batches tombstoned still sit in the snapshot — used
    to defer the refit forever under a persistently lagging
    upstream.  Those rows are locally healable (unlike missing raw
    vectors): the refit now excludes ids the codes table does not
    serve, warns AUTO-HEALED, and converges — the rebuilt pair is
    byte-identical to a manual rebuild on the true survivors and
    never resurrects the stale rows."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        codes_deleted_fraction,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    small = emb.filter(F.col("vec_id") % 11 == 0)   # ~9 % — below arm
    heavy = emb.filter(
        (F.col("vec_id") % 11 != 0) & (F.col("vec_id") % 2 == 0)
    )  # ~45 % — crosses the arm at batch 2

    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)
    corpus_dir = str(tmp_path / "corpus")
    # the corpus NEVER catches up with either delete batch: by the
    # time batch 2 triggers, batch 1's tombstones are 2 triggers
    # stale in the snapshot
    write_snapshot(emb, corpus_dir, note="seed — never updated")

    def del_rows(df):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]], True)
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    _, mk = _stage_json_batches(
        spark, tmp_path, [del_rows(small), del_rows(heavy)], schema
    )
    with pytest.warns(RuntimeWarning, match="AUTO-HEALED"):
        q = start_ann_codes_sink(
            mk(), codes_dir, idx, str(tmp_path / "c1"),
            delete_col="is_deleted", available_now=True,
            refit_deleted_fraction=0.3, index_dir=idx_dir,
            corpus_dir=corpus_dir,
        )
        q.awaitTermination(300)

    # the refit CONVERGED despite the stale corpus: new index, codes
    # byte-identical to a manual rebuild on the true survivors
    # (seed − small − heavy), no resurrection of batch-1 tombstones
    assert len(snapshot_versions(idx_dir)) == 2
    idx2 = load_ann_index(spark, idx_dir)
    survivors = (
        emb.join(small.select("vec_id"), ["vec_id"], "anti")
        .join(heavy.select("vec_id"), ["vec_id"], "anti")
    )
    man_idx_dir = str(tmp_path / "man_idx")
    build_ann_index(
        survivors, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16
    )
    man_idx = load_ann_index(spark, man_idx_dir)
    assert idx2.coarse == man_idx.coarse and idx2.books == man_idx.books
    man_codes_dir = str(tmp_path / "man_codes")
    build_ann_codes(survivors, man_codes_dir, man_idx)
    key = lambda r: tuple(r)
    assert sorted(map(key, read_snapshot(spark, codes_dir).collect())) == (
        sorted(
            map(key, load_ann_codes(spark, man_codes_dir, man_idx).collect())
        )
    )
    assert codes_deleted_fraction(codes_dir) == 0.0  # fresh base


def test_retune_population_upserts_batch_adds(spark):
    """The post-refit re-tune population is an UPSERT, not a union
    (round-13 advisor item): a corpus row this batch's adds update
    would otherwise contribute a second, stale vector serving can
    never return — biasing the tuner's brute-force ground truth (and
    even samplable as a query).  One row per id, the add's vector
    winning; with no adds the corpus passes through untouched."""
    from fortymhz_spark.streaming.sinks import _retune_population

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema
    )
    adds = spark.createDataFrame(
        [(1, [0.5, 0.5]), (3, [1.0, 1.0])], schema
    )
    pop = _retune_population(corpus, adds, "vec_id", "embedding", True)
    got = {int(r["vec_id"]): list(r["embedding"]) for r in pop.collect()}
    assert pop.count() == 3  # one row per id — no duplicates
    assert got == {1: [0.5, 0.5], 2: [0.0, 1.0], 3: [1.0, 1.0]}

    noadd = _retune_population(corpus, adds, "vec_id", "embedding", False)
    assert sorted(
        (int(r["vec_id"]), list(r["embedding"])) for r in noadd.collect()
    ) == [(1, [1.0, 0.0]), (2, [0.0, 1.0])]


def test_ann_codes_sink_tombstone_retry_on_empty_batch(spark, tmp_path):
    """Refit-retry liveness for GENUINELY EMPTY micro-batches
    (round-13 advisor item): the round-12 fix re-checked standing
    tombstone mass inside the sink body, but the shared exactly-once
    wrapper's empty-batch early return meant the body never ran for a
    zero-row trigger — the 'on EVERY batch, empty ones included'
    contract held only for batches whose rows all filtered out.  Now
    an armed tombstone arm opts the sink into running on empty
    batches: after a coverage-guard deferral, a zero-row heartbeat
    trigger must fire the deferred refit once the corpus catches
    up."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        codes_deleted_fraction,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )
    from fortymhz_spark.streaming.sinks import start_ann_codes_sink

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    extra = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    ).limit(24)
    heavy = emb.filter(F.col("vec_id") % 2 == 0)  # ~50 % of the seed

    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx)
    corpus_dir = str(tmp_path / "corpus")
    write_snapshot(emb, corpus_dir, note="seed only — lags the stream")

    def rows_of(df, deleted=False):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]], deleted)
            for r in df.collect()
        ]

    schema = "vec_id long, embedding array<double>, is_deleted boolean"
    kw = dict(
        delete_col="is_deleted", available_now=True,
        refit_deleted_fraction=0.3, index_dir=idx_dir,
        corpus_dir=corpus_dir,
    )
    # batch 1 extends while the corpus lags; batch 2's heavy delete
    # crosses the arm but DEFERS on coverage (batch 1's rows are
    # absent from the corpus snapshot)
    _, mk = _stage_json_batches(
        spark, tmp_path,
        [rows_of(extra), rows_of(heavy, deleted=True)], schema,
    )
    with pytest.warns(RuntimeWarning, match="DEFERRED"):
        q = start_ann_codes_sink(
            mk(), codes_dir, idx, str(tmp_path / "c1"), **kw
        )
        q.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == 1  # deferred, no publish
    assert codes_deleted_fraction(codes_dir) > 0.3  # mass still standing

    # the corpus catches up; batch 3 carries ZERO rows (a heartbeat
    # trigger) — the standing mass must still be re-checked and fire
    live = emb.unionByName(extra).join(
        heavy.select("vec_id"), ["vec_id"], "anti"
    )
    write_snapshot(live, corpus_dir, note="caught up")
    _stage_json_batches(spark, tmp_path, [[]], schema)
    q2 = start_ann_codes_sink(
        mk(), codes_dir, idx, str(tmp_path / "c1"), **kw
    )
    q2.awaitTermination(300)
    assert len(snapshot_versions(idx_dir)) == 2  # the retry fired
    idx2 = load_ann_index(spark, idx_dir)

    # byte-identical to a manual rebuild on the caught-up corpus (the
    # empty batch contributed no rows to re-apply)
    man_idx_dir = str(tmp_path / "man_idx")
    build_ann_index(live, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    man_idx = load_ann_index(spark, man_idx_dir)
    assert idx2.coarse == man_idx.coarse and idx2.books == man_idx.books
    man_codes_dir = str(tmp_path / "man_codes")
    build_ann_codes(live, man_codes_dir, man_idx)
    key = lambda r: tuple(r)
    assert sorted(map(key, read_snapshot(spark, codes_dir).collect())) == (
        sorted(
            map(key, load_ann_codes(spark, man_codes_dir, man_idx).collect())
        )
    )
    assert codes_deleted_fraction(codes_dir) == 0.0  # mass spent
