"""SparkSession factory with scale-oriented defaults.

The reference relied on a Databricks-managed session; we build our own
(SURVEY.md §7). Defaults are tuned so the same code runs on local[N]
for tests and on a multi-executor cluster unchanged:

- AQE on (runtime re-plan: dynamic coalesce, skew-join splitting).
- Arrow on (vectorized pandas_udf / toPandas transfer).
- shuffle partitions sized by env, not hard-coded.
- codegen cache sized to the working set. Spark keeps compiled
  whole-stage classes in one JVM-wide LRU cache of
  ``spark.sql.codegen.cache.maxEntries`` (default 100). Measured
  distinct classes per warm unit of the perfbench workloads (4-core
  host, ``CodegenMetrics``): a ``corpus_prep`` shard 142–145, an
  ``etl_medallion`` batch 226–255, a ``bi_read`` pass 10. A working set
  above 100 evicts every class before its next use, so each warm unit
  recompiled all of them (1.5–2.7 s of Janino per unit).
  ``CODEGEN_CACHE_ENTRIES`` = 1000 holds about four of the largest
  working set (255), so a unit's classes survive the units of another
  kind run between them (a whole ``etl_medallion`` run compiles ~330).
  It is a static conf, so it binds only when this factory creates the
  JVM's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "databricks_data_warehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-safe defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # dynamic partition overwrite: gold/silver refreshes rewrite only
        # the partitions they touch (critical at 100 TB).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # broadcast joins for dimension tables up to 64 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
        # reader rejects; read as long and convert in the catalog layer.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
