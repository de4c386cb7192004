"""SparkSession factory.

Rebuild of the reference's session builder
(``src/main/scala/com/kanseiu/spark/common/SparkSessionBuilder.scala:7-21``):
Hive-style dynamic partition handling, a configurable warehouse, and sane
local-mode defaults.  Unlike the reference (hard-coded host ``master``,
HDFS/metastore URIs, 512m executors -- Constants.scala:6-12), every knob is a
parameter so the same code runs on ``local[N]`` and on a 1000-executor
cluster.

Scale notes
-----------
- ``spark.sql.shuffle.partitions`` defaults to a small value for local test
  runs; on a real cluster leave AQE's ``coalescePartitions`` to right-size
  post-shuffle partitions from a deliberately high initial number.
- AQE is enabled (skew-join splitting + partition coalescing) -- this is the
  mechanism that keeps the SCD-1 window dedup and the full-outer delta merge
  healthy when one business key is hot at 100 TB.
- ``partitionOverwriteMode=dynamic`` reproduces the reference's
  ``hive.exec.dynamic.partition`` INSERT OVERWRITE semantics
  (SparkSessionBuilder.scala:15-16) for DataFrame writes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "bigdata_scala_offline_data_clean_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Parameters default from environment for the driver harness:
    ``SPARK_GRAFT_CPUS`` sets local parallelism, otherwise ``local[*]``.

    ``checkpoint_dir`` (or ``SPARK_GRAFT_CHECKPOINT_DIR``) sets the
    pin policy, with one rule: **a checkpoint dir means every pin is
    replicated and eager.**  Every ``ordering.pin_frame`` then writes a
    ``DataFrame.checkpoint(eager=True)`` there, which survives executor
    loss; with no dir every pin is a non-replicated ``localCheckpoint``.
    On a cluster point it at HDFS/S3.  There is no per-call override.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ckpt = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def stop_session(spark: SparkSession) -> None:
    """Explicit stop, mirroring the reference's per-job ``sparkSession.stop()``
    (SimpleDataCleanUtils.scala:33)."""
    spark.stop()
