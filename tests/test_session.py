"""The product session's shuffle-partition posture, checked in a fresh
JVM: the suite's own session is already up and pins its counts."""

from __future__ import annotations

import os
import subprocess
import sys

_PROBE = """
from fortymhz_spark.session import get_session
from fortymhz_spark.sources.snapshots import _batch_partitions

def counts(spark):
    conf = spark._jsparkSession.sessionState().conf()
    aqe_on = conf.numShufflePartitions()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    aqe_off = conf.numShufflePartitions()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark.conf.get("spark.sql.shuffle.partitions"), aqe_on, aqe_off, _batch_partitions(spark)

spark = get_session(master="local[3]")
print("COUNTS", *counts(spark))
spark.conf.unset("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
print("COUNTS", *counts(spark))
print("COUNTS", *counts(get_session(master="local[3]", shuffle_partitions=5)))
"""


def test_product_session_sizes_state_to_cores_and_batch_to_32():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=repo, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    counts = [line.split()[1:] for line in out.stdout.splitlines() if line.startswith("COUNTS")]
    # defaults: state operators (AQE off) get the 3 cores; batch plans and
    # compact_snapshot's default file count (a quarter of it) start from 32
    assert counts[0] == ["3", "32", "3", "32"]
    # without an AQE initial count, batch plans fall back to the shuffle count
    assert counts[1] == ["3", "3", "3", "3"]
    # an explicit count pins both
    assert counts[2] == ["5", "5", "5", "5"]
