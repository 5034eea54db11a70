"""SparkSession factory.

Design notes (100 TB posture):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  sort-merge→broadcast demotion are the main levers that survive a 1000×
  scale-up without re-tuning.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under AQE;
  locally we keep it ≈ cores so tiny fixtures don't fragment into empty
  tasks. On a real cluster you'd set it high (2–3× total cores) and let
  AQE coalesce.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are naive/UTC).
- Arrow on for every Python↔JVM exchange (toPandas, pandas_udf,
  applyInPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt-local-duckdb-deltalake-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all local cores.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        # Local sizing: every shuffle stage pays ~task-launch × partitions;
        # at the fixture scales that floor dominates (measured: 32 → 8
        # initial partitions halves cheap-query wall-clock). 16 keeps
        # CPU-bound stages parallel while AQE coalesces the rest. On a
        # real cluster set this 2–3× total cores and let AQE coalesce.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "16"))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory size rather than max parallelism:
        # fewer, fuller reduce tasks — lower task-launch floor locally,
        # healthier partition sizes at scale.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32MB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # no "[Stage N:>" progress bars in captured logs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # FAIR scheduling (optimization guide §2.6): the bench drains
        # 468 queries through a 16-thread pool; under FIFO a query
        # built from many tiny SEQUENTIAL jobs (the tokenizer learners'
        # one-job-per-round loops) queues each job behind whole stages
        # of concurrent queries — measured 94 s pooled elapsed for an
        # 8 s serial query. FAIR time-slices task slots across jobs so
        # sequential chains progress; single-query runs see no change.
        .config("spark.scheduler.mode", os.environ.get(
            "SPARK_GRAFT_SCHEDULER", "FAIR"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
