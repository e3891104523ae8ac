"""Custom Python data source (``dthits``) tests: batch partitioning,
batch/stream agreement, multi-batch offset advancement."""

from __future__ import annotations

import tempfile
import time

import pytest
from pyspark.sql import functions as F

from fortymhz_spark.sources.dt_datasource import hits_for_orbit, register
from fortymhz_spark.streaming.sinks import run_to_memory


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _expected_rows(n_orbits: int) -> list[tuple]:
    return [r for o in range(n_orbits) for r in hits_for_orbit(o)]


def test_batch_read_matches_formula(spark):
    df = spark.read.format("dthits").option("nOrbits", 100).load()
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(_expected_rows(100))


def test_batch_read_parallelism(spark):
    df = (
        spark.read.format("dthits")
        .option("nOrbits", 64)
        .option("numPartitions", 16)
        .load()
    )
    assert df.rdd.getNumPartitions() == 16
    # partitioning must not change the data
    assert df.count() == len(_expected_rows(64))


def test_stream_single_batch_equals_batch(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    s = (
        spark.readStream.format("dthits")
        .option("orbitsPerBatch", 100)
        .option("nOrbits", 100)
        .load()
    )
    out = run_to_memory(s, spark, timeout_seconds=90)
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(_expected_rows(100))
    # the checkpoint run_to_memory made for itself is gone
    assert not list(tmp_path.glob("fmhz_ckpt_*"))


def test_stream_advances_over_micro_batches(spark, tmp_path):
    name = "dthits_multi"
    s = (
        spark.readStream.format("dthits")
        .option("orbitsPerBatch", 10)
        .option("nOrbits", 50)
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        want = sorted(_expected_rows(50))
        deadline = time.time() + 60
        got: list = []
        while time.time() < deadline and len(got) < len(want):
            got = sorted(tuple(r) for r in spark.table(name).collect())
            time.sleep(0.5)
        assert got == want  # every orbit exactly once, across ≥5 batches
    finally:
        q.stop()


def test_occupancy_over_custom_source(spark):
    """The analysis layer composes with the custom source unchanged."""
    from fortymhz_spark.streaming.queries import streaming_channel_occupancy

    df = spark.read.format("dthits").option("nOrbits", 200).load()
    occ = (
        df.filter((F.col("HEAD") == 2) & (F.col("TDC_CHANNEL") <= 128))
        .groupBy("FPGA", "TDC_CHANNEL")
        .count()
    )
    total = occ.agg(F.sum("count")).collect()[0][0]
    assert total == len(_expected_rows(200))
    # streaming twin over the streaming form of the same source
    s = (
        spark.readStream.format("dthits")
        .option("orbitsPerBatch", 200)
        .option("nOrbits", 200)
        .load()
    )
    out = run_to_memory(
        streaming_channel_occupancy(s), spark, output_mode="complete",
        timeout_seconds=90,
    )
    got = {(r["fpga"], r["channel"]): r["n_hits"] for r in out.collect()}
    want = {
        (int(r["FPGA"]), int(r["TDC_CHANNEL"])): r["count"]
        for r in occ.collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# read_with_quarantine (sources/batch.py): dirty-input splitting
# ---------------------------------------------------------------------------


def test_read_with_quarantine_splits_and_persists(spark, tmp_path):
    from fortymhz_spark.sources.batch import read_with_quarantine

    src = tmp_path / "in.csv"
    src.write_text(
        "1,alice,10.5\n"
        "2,bob,notanumber\n"   # type failure on column 3
        "3,carol,7.25\n"
        "garbage line\n"       # arity failure
        "4,dan,1.0\n"
    )
    qdir = str(tmp_path / "quarantine")
    valid, corrupt = read_with_quarantine(
        spark, str(src), "id INT, name STRING, score DOUBLE",
        quarantine_dir=qdir,
    )
    assert sorted((r["id"], r["name"], r["score"]) for r in valid.collect()) == [
        (1, "alice", 10.5),
        (3, "carol", 7.25),
        (4, "dan", 1.0),
    ]
    got = {r["raw_record"]: r for r in corrupt.collect()}
    assert set(got) == {"2,bob,notanumber", "garbage line"}
    # partially-parsed columns survive for triage
    assert got["2,bob,notanumber"]["name"] == "bob"
    # persisted rejects readable independently
    assert spark.read.parquet(qdir).count() == 2


def test_read_with_quarantine_rerun_is_run_scoped(spark, tmp_path):
    """Re-running the same triage against the same quarantine root must
    return ONLY this run's rejects (no double-count from the prior
    run's append), while the root keeps the cumulative history."""
    from fortymhz_spark.sources.batch import read_with_quarantine

    src = tmp_path / "in.csv"
    src.write_text("1,alice\nbad,row,extra\n2,bob\n")
    qdir = str(tmp_path / "quarantine")
    schema = "id INT, name STRING"
    _, corrupt1 = read_with_quarantine(spark, str(src), schema, quarantine_dir=qdir)
    _, corrupt2 = read_with_quarantine(spark, str(src), schema, quarantine_dir=qdir)
    assert corrupt1.count() == 1
    assert corrupt2.count() == 1          # NOT 2: prior run excluded
    assert spark.read.parquet(qdir).count() == 2  # root is cumulative


def test_read_with_quarantine_json_and_validation(spark, tmp_path):
    from fortymhz_spark.sources.batch import read_with_quarantine

    src = tmp_path / "in.json"
    src.write_text(
        '{"k": 1, "v": "a"}\n'
        "this is not json\n"
        '{"k": 2, "v": "b"}\n'
    )
    valid, corrupt = read_with_quarantine(
        spark, str(src), "k INT, v STRING", fmt="json"
    )
    assert sorted((r["k"], r["v"]) for r in valid.collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    assert [r["raw_record"] for r in corrupt.collect()] == ["this is not json"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fmt"):
        read_with_quarantine(spark, str(src), "k INT", fmt="xml")
