"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the config choices are the ones that
matter on a real cluster too: AQE (runtime re-planning + skew-join
handling), explicit shuffle partitioning, Arrow for any Python exchange,
and broadcast-join headroom for the dimension tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "river_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Runtime re-planning: coalesces tiny shuffle partitions, splits skewed
        # ones, converts sort-merge→broadcast when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batches for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (region/nation/supplier/part/customer) stay far under
        # this; lets Catalyst pick broadcast-hash joins without hints.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Single-JVM local mode: driver heap IS the executor heap. 32 task
        # threads sharing 16g GC-thrash on the persisted LSH intermediates;
        # 32g keeps full-GC pauses out of the measurements (box has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.1's union output-partitioning propagation (default on)
        # reports a union of two N-partition hash-partitioned children as
        # a 2N-partition partitioning; a downstream sort-merge join that
        # trusts it then dies with "Can't zip RDDs with unequal numbers
        # of partitions" (reproduced in tests/test_review_fixes.py::
        # test_union_then_smj_executes). Broadcast joins mask it at
        # laptop scale, but SMJ is exactly the 100 TB path, so the
        # optimization is disabled until the planner handles it.
        .config("spark.sql.unionOutputPartitioning", "false")
        # The driver's parquet stores TIMESTAMP(NANOS) which Spark rejects;
        # read as long nanos and convert explicitly (see queries.tables.ts()).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

