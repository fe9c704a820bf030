"""SparkSession factory.

One place to set every scale-relevant knob. The reference delegates all
execution to Databricks-default Spark (no tuning anywhere in its notebooks);
we make the defaults explicit and 100-TB-minded:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast)
- shuffle partitions sized for the local harness; on a real cluster this is
  overridden to ~2-3x total cores via ``extra_conf``
- UTC session timezone so results hash-match the DuckDB oracle
- Arrow enabled for any pandas-interop path
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """60% of physical memory, in MB: local[N] is one JVM, and a heap
    sized past the host's RAM ends in the OOM killer on a swapless host
    rather than in a clean Spark error."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total * 6 // 10 // (1024 * 1024)}m"


_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # local[N] = single JVM; driver memory is the only pool that matters.
    # Sized from the host; SPARK_GRAFT_DRIVER_MEM overrides per deployment.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
    "spark.ui.enabled": "false",
    # broadcast threshold: dims in both the banking star schema and TPC-H-ish
    # testdata are tiny; AQE also converts to broadcast at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark rejects;
    # read as long and convert in the loader (queries.load).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # catalog tables (bucketed layouts) land in /tmp, not the caller's cwd
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/end_to_end_azure_data_engineering_warehouse"
    ),
    # reliable-tier pinning (engine.pin): when a deployment sets a
    # checkpoint dir, every pin site writes reliable checkpoints — this
    # lets the ContextCleaner delete their rdd files once the frames are
    # garbage, so a long-lived session doesn't grow the checkpoint dir
    # without bound. No effect on the local localCheckpoint tier.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def get_spark(app_name: str = "end_to_end_azure_data_engineering_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session. ``extra_conf`` wins over defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
