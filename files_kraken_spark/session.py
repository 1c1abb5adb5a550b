"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); production target is a
multi-executor cluster reading ~100 TB. The settings below are the ones
that matter at both scales:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast selection) — at 100 TB skewed keys are a given.
- Arrow on — every Pandas UDF crossing is batched, never per-row.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so we set the
  *initial* number generously and let AQE shrink.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "files-kraken-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local corpora are ONE parquet file per table — without a small
        # split size the scan stage runs single-threaded (measured 4× on
        # TPC-H Q1). On a real cluster data arrives as many files and
        # this goes back up (SPARK_GRAFT_MPB=128m+).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MPB", "8m"),
        )
        # Round-14 config-sweep knobs (guide §1.2 step 3 / §9), defaults
        # = Spark defaults = the behavior every prior record measured.
        # Interleaved A/B at sf0.1 measured all three flat-to-noise on
        # this box (OPTIMIZATION_r14.md "Config sweep"), so none is
        # adopted locally; they stay parameterized for cluster tuning
        # (zstd shuffle codec is the §9 recommendation once shuffles
        # hit real disks/NICs instead of this box's page cache).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        .config("spark.ui.enabled", "false")
        # PySpark otherwise walks the Python stack and makes about four
        # extra py4j calls per Column function to attach a query
        # context to error messages: ~3.5k → ~1.5k py4j calls per
        # change tick of the watch loop
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we didn't build

    (e.g. the driver harness hands us one). Only touches conf keys that
    are mutable after session start.
    """
    for k, v in {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; fine
    return spark
