"""SparkSession factory tuned for this engine.

The reference obtains its session from Glue
(``stage_1_hcp_channel_all_hardcode.py:1273-1277``); here we build a
plain local session with scale-aware defaults:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong somewhere; AQE
  re-plans per stage.
- cores from ``SPARK_GRAFT_CPUS``, else the host's usable cores
  (the process's CPU affinity set).
- driver heap from ``SPARK_GRAFT_DRIVER_MEM``, else half the host's
  physical memory in whole GiB (at least ``1g``) — a fixed large
  heap lets one long-lived local JVM outgrow a small host.
- shuffle partitions sized to the local core count for tests; on a
  real cluster this should be ~2-3x total cores (or left to AQE with
  a high initial value).
- UTC session timezone so timestamp semantics match the DuckDB
  oracle used for differential testing.
- Arrow enabled for the Pandas-UDF paths in llm_ops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical memory in
    whole GiB, at least ``1g``."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2**31)}g"


def get_spark(
    app_name: str = "gcp_dataengineering_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet uses TIMESTAMP(NANOS); read as long nanos
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
