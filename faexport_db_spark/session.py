"""SparkSession factory with the engine's standard configuration.

Scale notes (tuned for a real cluster, testable on local[N]):
- UTC session timezone everywhere: the reference is tz-aware UTC
  throughout (faexport_db/models/user.py:135,139); without this,
  oracle comparisons and merge tie-breaks drift.
- AQE on: runtime coalescing + skew-join handling. ``website_id`` is a
  skewed partition key in the reference's data (FurAffinity dominates),
  so skew mitigation is a first-class requirement.
- Arrow on: every Pandas-UDF path (file-merge fold, multimodal decode)
  moves batches over Arrow, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def get_spark(
    app_name: str = "faexport_db_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the core count: at local scale a
    shuffle fan-out of 200 (Spark's default) makes 60k-row stages pay
    ~170 empty-task launches; on a cluster the caller sizes it to
    ~2-3x total cores. AQE coalescing trims the excess either way.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{DEFAULT_CPUS}]")
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_CPUS))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing floors post-shuffle reads
        # at minPartitionSize (default 1m). Byte-advisory coalescing
        # misjudges CPU-DENSE, small-byte stages: the M7 clash fold
        # (interpreted aggregate + canonical-JSON render per entity)
        # shuffles ~6 MB and was squeezed onto 5 tasks — measured
        # 1.7→1.1 s at sf0.1 with a 64k floor (embed verify −12%,
        # others neutral). The floor only changes plans whose stage
        # shuffles < cores × 1 MB; at real scale such a stage is
        # either trivial (finishes in ms regardless) or CPU-dense —
        # where more parallelism is exactly right. Env-overridable for
        # clusters that prefer the coarser default.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Untagged parquet timestamps (timestamp[us], no tz) read as
        # session-TZ TIMESTAMP, not TIMESTAMP_NTZ: the engine is
        # UTC-instant throughout and event-time watermarks require
        # TIMESTAMP type.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
