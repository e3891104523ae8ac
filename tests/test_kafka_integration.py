"""Live-Kafka round-trip (env-gated).

The sandbox has no broker and no spark-sql-kafka connector jar, so this
module skips cleanly here; point ``KAFKA_BOOTSTRAP_SERVERS`` at a broker
(and launch Spark with the connector on the classpath) to run the full
produce → stream-consume → exactly-once comparison that mirrors the
reference's main loop (``/root/reference/code/dask_kafka/core.py:84-122``).
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP_SERVERS")

pytestmark = pytest.mark.skipif(
    BOOTSTRAP is None,
    reason="set KAFKA_BOOTSTRAP_SERVERS (and add the spark-sql-kafka "
    "connector to the classpath) to run the live-Kafka round trip",
)


def _connector_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def test_kafka_round_trip_exactly_once(spark, tmp_path):
    """Produce the package's DT-hit fixture to a fresh topic as JSON,
    consume it back through the streaming reader with a checkpoint, and
    assert the decoded rows equal the source exactly (no loss, no
    dupes) — including across a stop/restart mid-topic."""
    if not _connector_available(spark):
        pytest.skip("spark-sql-kafka connector not on the classpath")

    from fortymhz_spark.schemas import DT_HIT
    from fortymhz_spark.sources.batch import read_hits_csv
    from fortymhz_spark.streaming.sinks import write_batch_to_kafka
    from fortymhz_spark.streaming.sources import kafka_stream

    topic = f"fmhz_test_{uuid.uuid4().hex[:12]}"
    hits = read_hits_csv(spark)
    write_batch_to_kafka(hits, topic, BOOTSTRAP)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def consume_available():
        stream = kafka_stream(spark, topic, BOOTSTRAP, schema=DT_HIT, batch_size=25)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    consume_available()  # multiple micro-batches (batch_size < row count)
    consume_available()  # restart from checkpoint: must be a no-op
    got = spark.read.parquet(out)
    want = hits.select([F.col(f.name) for f in DT_HIT.fields])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
