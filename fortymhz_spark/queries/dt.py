"""DT-domain queries over the package's DT-hit fixture.

These reproduce the reference's analysis surface (channel occupancy,
hits-per-orbit — the analyses its notebook sets up at
``/root/reference/code/test_reader.ipynb`` but stops short of) against
``sources/dt_hits.csv``, the package's own fixture in the reference's
CSV format (FIXTURES.md §A).  Each oracle reads the same file via
DuckDB ``read_csv``, so Spark and DuckDB see identical rows; the file
holds repeated-channel and non-physical hits so the distinct-count and
physical-hit filters are exercised.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fortymhz_spark.functions.dt import is_physical_hit
from fortymhz_spark.queries.registry import Registry, scratch_dir
from fortymhz_spark.sources.batch import DEFAULT_HITS_CSV, read_hits_csv

reg = Registry()
QUERIES = reg.queries
ORACLE = reg.oracle

_CSV = DEFAULT_HITS_CSV


@reg.query(
    "q_dt_channel_occupancy",
    oracle=f"""
    SELECT FPGA::INT AS fpga, TDC_CHANNEL::INT AS channel, COUNT(*) AS n_hits
    FROM read_csv('{_CSV}', header=true)
    WHERE HEAD = 2 AND TDC_CHANNEL <= 128
    GROUP BY 1, 2
    ORDER BY n_hits DESC, fpga, channel
    """,
)
def q_dt_channel_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = read_hits_csv(spark)
    return (
        hits.filter(is_physical_hit())
        .groupBy(
            F.col("FPGA").cast("int").alias("fpga"),
            F.col("TDC_CHANNEL").cast("int").alias("channel"),
        )
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy(F.desc("n_hits"), "fpga", "channel")
    )


@reg.query(
    "q_dt_hits_per_orbit",
    oracle=f"""
    SELECT ORBIT_CNT::BIGINT AS orbit, COUNT(*) AS n_hits,
           MIN(BX_COUNTER)::INT AS first_bx, MAX(BX_COUNTER)::INT AS last_bx
    FROM read_csv('{_CSV}', header=true)
    WHERE HEAD = 2
    GROUP BY 1
    ORDER BY orbit
    """,
)
def q_dt_hits_per_orbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = read_hits_csv(spark)
    return (
        hits.filter(F.col("HEAD") == 2)
        .groupBy(F.col("ORBIT_CNT").cast("long").alias("orbit"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("BX_COUNTER").cast("int").alias("first_bx"),
            F.max("BX_COUNTER").cast("int").alias("last_bx"),
        )
        .orderBy("orbit")
    )


@reg.query(
    "q_dt_event_time_span",
    oracle=f"""
    SELECT
      ORBIT_CNT::BIGINT AS orbit,
      CAST(MIN((ORBIT_CNT * 3564 + BX_COUNTER + TDC_MEAS / 30.0) * 25e-9) AS DOUBLE) AS t_first,
      CAST(MAX((ORBIT_CNT * 3564 + BX_COUNTER + TDC_MEAS / 30.0) * 25e-9) AS DOUBLE) AS t_last
    FROM read_csv('{_CSV}', header=true)
    WHERE HEAD = 2
    GROUP BY 1
    ORDER BY orbit
    """,
)
def q_dt_event_time_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = read_hits_csv(spark).filter(F.col("HEAD") == 2)
    # Mirror the oracle's arithmetic shape exactly: min/max are
    # order-independent, so doubles are safe here.
    t = (
        (
            F.col("ORBIT_CNT") * F.lit(3564)
            + F.col("BX_COUNTER")
            + F.col("TDC_MEAS") / F.lit(30.0)
        )
        * F.lit(25e-9)
    ).cast("double")
    return (
        hits.groupBy(F.col("ORBIT_CNT").cast("long").alias("orbit"))
        .agg(F.min(t).alias("t_first"), F.max(t).alias("t_last"))
        .orderBy("orbit")
    )


@reg.query(
    "q_dt_orbit_assembly",
    oracle=f"""
    SELECT
      ORBIT_CNT::BIGINT AS orbit,
      COUNT(*) AS n_hits,
      COUNT(DISTINCT TDC_CHANNEL) AS n_channels,
      MIN(BX_COUNTER)::INT AS first_bx,
      MAX(BX_COUNTER)::INT AS last_bx
    FROM read_csv('{_CSV}', header=true)
    WHERE HEAD = 2 AND TDC_CHANNEL <= 128
    GROUP BY 1
    ORDER BY orbit
    """,
)
def q_dt_orbit_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming orbit assembler
    (fortymhz_spark/streaming/state.py) — same output, pure aggs.
    The streaming form is equivalence-tested against this in
    tests/test_streaming.py::test_assemble_orbits_stateful."""
    from fortymhz_spark.streaming.state import assemble_orbits_batch

    return (
        assemble_orbits_batch(read_hits_csv(spark))
        .select(
            F.col("ORBIT_CNT").cast("long").alias("orbit"),
            "n_hits",
            "n_channels",
            "first_bx",
            "last_bx",
        )
        .orderBy("orbit")
    )


@reg.query(
    "q_dt_streaming_occupancy",
    oracle=f"""
    SELECT FPGA::INT AS fpga, TDC_CHANNEL::INT AS channel, COUNT(*) AS n_hits
    FROM read_csv('{_CSV}', header=true)
    WHERE HEAD = 2 AND TDC_CHANNEL <= 128
    GROUP BY 1, 2
    ORDER BY n_hits DESC, fpga, channel
    """,
)
def q_dt_streaming_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel occupancy computed by an actual Structured Streaming
    run (file source → streaming agg → memory sink, AvailableNow),
    then checked against the same DuckDB oracle as the batch form —
    streaming execution is inside the correctness gate, not beside
    it.  Replaces the reference's manual read_batch()+pandas loop
    (``/root/reference/code/test_reader.ipynb`` cell-2)."""
    import shutil

    from fortymhz_spark.streaming import (
        hits_file_stream,
        run_to_memory,
        streaming_channel_occupancy,
    )

    d = scratch_dir("hits_")
    shutil.copy(_CSV, os.path.join(d, "hits.csv"))
    occ = streaming_channel_occupancy(hits_file_stream(spark, d))
    got = run_to_memory(occ, spark, output_mode="complete")
    return got.orderBy(F.desc("n_hits"), "fpga", "channel")


@reg.query(
    "q_dt_custom_source_occupancy",
    oracle="""
    WITH orbits AS (SELECT unnest(generate_series(0, 299)) AS o),
    hits AS (
      SELECT o, unnest(generate_series(0, (o % 5) + 1)) AS h FROM orbits
    )
    SELECT
      CAST((o + h) % 2 AS INT) AS fpga,
      CAST((7*o + 13*h) % 128 + 1 AS INT) AS channel,
      COUNT(*) AS n_hits
    FROM hits
    GROUP BY 1, 2
    ORDER BY n_hits DESC, fpga, channel
    """,
)
def q_dt_custom_source_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel occupancy over the custom Python data source
    (sources/dt_datasource.py).  The source generates rows by pure
    integer arithmetic, so DuckDB reproduces the *entire source* with
    generate_series — the custom-source read path itself sits inside
    the differential gate."""
    from fortymhz_spark.sources.dt_datasource import register

    register(spark)
    hits = spark.read.format("dthits").option("nOrbits", 300).load()
    return (
        hits.groupBy(
            F.col("FPGA").cast("int").alias("fpga"),
            F.col("TDC_CHANNEL").cast("int").alias("channel"),
        )
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy(F.desc("n_hits"), "fpga", "channel")
    )
