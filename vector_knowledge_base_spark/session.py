"""SparkSession factory tuned for this engine.

Local mode mirrors the driver environment (``local[$SPARK_GRAFT_CPUS]``);
on a real cluster the same configs apply, only the master changes. The
session defaults are chosen for the 100 TB design point:

- AQE on (runtime partition coalescing, skew-join splitting),
- Arrow on (every pandas UDF crosses the JVM/Python boundary in columnar
  batches, not rows),
- shuffle partitions sized to the parallelism at hand (the driver runs
  local[32]; a production job would set this to ~2-3x total cores or let
  AQE coalesce from a higher initial number),
- broadcast threshold left at default 10 MB — all dimension tables in the
  star schema (region/nation/supplier/part/customer) are broadcast-size,
- DataFrame-debugging call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
  every ``pyspark.sql.functions`` call walks the Python stack, makes
  three py4j round trips and retries ``import IPython``/``ipykernel``
  (~26 MB of driver RSS on first use when IPython is installed). Only
  the Python call-site line of a DataFrame error's query context is
  lost; error classes and messages are unchanged. PySpark caches the
  flag per process on its first wrapped call, so it is a session
  default here; pass it in ``extra_conf`` as ``"true"`` to turn
  capture back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "vector-knowledge-base-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    cores. ``shuffle_partitions`` defaults to the same number — at local
    scale a 1:1 mapping avoids tiny-partition overhead; AQE coalesces
    further at runtime.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
