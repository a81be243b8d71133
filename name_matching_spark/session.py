"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "name_matching_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the linkage workload.

    Local defaults come from ``SPARK_GRAFT_CPUS`` (driver contract); on a real
    cluster, pass ``master=None`` and let spark-submit own the master/executor
    sizing — every other setting below is cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing + skew-join splitting complement our
        # explicit block salting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches feed the vectorized kernels; the DL kernel chunks
        # each batch so its DP tensors stay inside the kernel cell budget
        # at any batch size (64k rows below)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: fewer Python round trips AND better
        # batch-local pair memoization (more duplicate pairs per batch) —
        # ~25% off the fused-scoring stage at sf0.1
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    if master is not None:
        builder = builder.config("spark.master", master)
    elif not SparkSession.getActiveSession():
        builder = builder.config("spark.master", f"local[{cpus}]")
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
