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


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def _engine_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's conf defaults, shared by ``get_session`` and
    ``tune_existing``. Codec, join preference and Arrow batch size stay
    at Spark's own defaults (a round-14 interleaved A/B at sf0.1 found
    zstd, preferSortMergeJoin=false and other batch sizes flat-to-worse
    here); ``get_session(extra_conf=...)`` overrides any key."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or _cpus()),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Local corpora are ONE parquet file per table — without a small
        # split size the scan stage runs single-threaded (measured 4× on
        # TPC-H Q1). On a real cluster data arrives as many files and
        # this goes back up (SPARK_GRAFT_MPB=128m+).
        "spark.sql.files.maxPartitionBytes": os.environ.get("SPARK_GRAFT_MPB", "8m"),
        "spark.ui.enabled": "false",
        # PySpark otherwise walks the Python stack and makes about four
        # extra py4j calls per Column function to attach a query
        # context to error messages: ~3.5k → ~1.5k py4j calls per
        # change tick of the watch loop
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }


def get_session(
    app_name: str = "files-kraken-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    b = SparkSession.builder.appName(app_name).master(master or f"local[{_cpus()}]")
    for k, v in {**_engine_conf(shuffle_partitions), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply ``_engine_conf`` to a session we didn't build (e.g. the
    one ``__spark_entry__.entry`` is handed). Keys fixed once the
    session has started (memory, UI, debugging) are skipped."""
    for k, v in _engine_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; fine
    return spark
