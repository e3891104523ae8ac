"""Orbit assembly end to end on inputs written by the test itself.

Seeded DT hits go to parquet files cut mid-orbit, with some
non-physical hits mixed in, and stream through ``file_stream`` →
``assemble_orbits`` → ``start_parquet_sink``.  The sink must equal the
batch twin over the same files.  Nothing here reads a fixture from
outside the test's temp directory.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from fortymhz_spark.schemas import DT_HIT
from fortymhz_spark.streaming import assemble_orbits, file_stream, start_parquet_sink
from fortymhz_spark.streaming.state import ORBIT_SUMMARY, assemble_orbits_batch


def _write_hits(out_dir: str, seed: int, n_files: int, hits_per_file: int) -> list[pa.Table]:
    """Write ``n_files`` files of ``hits_per_file`` hits in orbit order,
    1-6 hits per orbit, so file cuts fall mid-orbit.  About a tenth of
    the hits are non-physical: a non-2 HEAD or a channel above 128."""
    rng = np.random.default_rng(seed)
    n = n_files * hits_per_file
    per_orbit = rng.integers(1, 7, size=n)
    orbit = np.repeat(1_000 + np.cumsum(rng.integers(1, 4, size=n)), per_orbit)[:n]
    head = np.where(rng.random(n) < 0.05, rng.choice([0, 1, 3], size=n), 2)
    channel = np.where(rng.random(n) < 0.05, rng.integers(129, 137, size=n),
                       rng.integers(1, 129, size=n))
    cols = {
        "HEAD": head,
        "FPGA": rng.integers(0, 2, size=n),
        "TDC_CHANNEL": channel,
        "ORBIT_CNT": orbit,
        "BX_COUNTER": rng.integers(0, 3564, size=n),
        "TDC_MEAS": rng.integers(1, 31, size=n),
    }
    schema = to_arrow_schema(DT_HIT)
    table = pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema}, schema=schema)
    parts = []
    for i in range(n_files):
        part = table.slice(i * hits_per_file, hits_per_file)
        path = os.path.join(out_dir, f"hits-{i}.parquet")
        pq.write_table(part, path)
        # increasing mtimes: the file source replays the files in order
        os.utime(path, (1e9 + i, 1e9 + i))
        parts.append(part)
    return parts


def test_assemble_orbits_stream_matches_batch_with_two_state_partitions(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("hits", "sink", "ckpt"))
    os.mkdir(src)
    parts = _write_hits(src, seed=11, n_files=3, hits_per_file=300)
    orbits = [set(p.column("ORBIT_CNT").to_pylist()) for p in parts]
    assert orbits[0] & orbits[1] and orbits[1] & orbits[2]  # orbits straddle files
    heads = pa.concat_tables(parts).column("HEAD").to_pylist()
    assert 0 < sum(h != 2 for h in heads) < len(heads)

    want = {
        tuple(r)
        for r in assemble_orbits_batch(spark.read.schema(DT_HIT).parquet(src)).collect()
    }
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        query = start_parquet_sink(
            assemble_orbits(file_stream(spark, src, DT_HIT, max_files_per_trigger=1),
                            inactivity_ms=1_000),
            out,
            ckpt,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        got: set = set()
        deadline = time.time() + 150
        while time.time() < deadline and query.exception() is None:
            if os.path.isdir(os.path.join(out, "_spark_metadata")):
                got = {tuple(r) for r in spark.read.schema(ORBIT_SUMMARY).parquet(out).collect()}
                if len(got) >= len(want):
                    break
            time.sleep(1.0)
        progress = query.recentProgress
    finally:
        query.stop()
    assert query.exception() is None
    assert got == want
    assert sum(p["numInputRows"] for p in progress) == 3 * 300
    assert progress[-1]["stateOperators"][0]["numShufflePartitions"] == 2
