"""SparkSession factory with scale-oriented defaults.

The reference engine hand-schedules one read task per Kafka partition
(``/root/reference/code/dask_kafka/core.py:66-70``); Spark's planner
does that for us.  What we own here is the configuration posture:
AQE on (runtime coalescing + skew-join handling), Arrow on (fast
pandas/UDF boundary), UTC session timezone (deterministic event-time
semantics), and a split shuffle-partition posture:

- Streaming state operators get one partition per core
  (``spark.sql.shuffle.partitions`` = ``defaultParallelism``).  Spark
  runs stateful streams with AQE off, so this is the count their state
  operators use.  Every trigger of a keyed state operator runs one
  state-store task per partition, data or not, so a count above the
  cores only adds per-trigger coordination.  Spark fixes the count in a
  query's checkpoint at first start; a restarted query keeps it, so
  checkpoints written under an older posture keep theirs.
- Batch plans, and stateless streams (which keep AQE), start from
  ``BATCH_SHUFFLE_PARTITIONS`` (32) through
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, which
  AQE then coalesces to the data.

Callers that pass ``shuffle_partitions`` (tests, tools) get that one
count for both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Starting shuffle width of a batch plan under AQE, before coalescing.
BATCH_SHUFFLE_PARTITIONS = 32

# Runtime-settable confs applied even when the session is created by an
# external harness (the driver owns the session in verify runs).
_RUNTIME_CONFS: dict[str, str] = {
    # Some driver fixture generations store events.ts as parquet
    # TIMESTAMP(NANOS), which Spark has no native type for; read as
    # int64 nanos and let the events loader convert (sources/batch.py —
    # which also handles the MICROS/NTZ form newer fixtures use).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle coalescing, skew-join splitting, dynamic
    # broadcast selection — essential at 100 TB where static plans
    # misjudge partition sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session.

    Safe to call on a session we did not create; every conf here is a
    runtime conf (not a static SparkConf), so this works from inside
    driver-harness callbacks.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A locked-down session may refuse some confs; queries are
            # written to degrade gracefully (only nanosAsLong is load-
            # bearing, and it has been runtime-settable since 3.2).
            pass
    return spark


def get_session(
    app_name: str = "fortymhz-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry points serve the test harness and a real cluster (where
    spark-submit supplies the master).  ``shuffle_partitions`` pins both
    the stream-state and batch partition counts; unset, stream state gets
    ``defaultParallelism`` and batch plans ``BATCH_SHUFFLE_PARTITIONS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_CONNECT_MODE"):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions or BATCH_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = tune_session(builder.getOrCreate())
    if shuffle_partitions is None:
        # The core count is known only once the context is up.
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark
