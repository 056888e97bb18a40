"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting is
chosen to survive a multi-executor cluster at 100 TB:

- AQE on (runtime coalesce, skew-join splitting) so shuffle partition counts
  self-correct at scale;
- shuffle partitions sized to cores locally; on a real cluster AQE's
  ``advisoryPartitionSizeInBytes`` governs instead;
- Arrow enabled for the (rare) Pandas-UDF path;
- session timezone pinned to UTC so results are oracle-comparable.

The reference engine's analogous knobs: per-server thread pool
(pinot-core/.../operator/CombineOperator.java:59-64), 10k-doc blocks
(pinot-core/.../plan/DocIdSetPlanNode.java:31). Spark replaces both with
task-level parallelism + whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "realtime_olap_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession — the one session
    builder for the engine, the tests, bench.py and the scripts."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    # Opt-in connector packages (Kafka, Avro): a comma-separated
    # spark.jars.packages list resolved at session start, e.g.
    #   SPARK_GRAFT_PACKAGES=org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2
    # Env-gated because resolution needs network access and the sandbox
    # ships no connector jars (KafkaPartitionLevelConsumer.java:38 analog
    # enters through readStream.format("kafka") once present).
    packages = os.environ.get("SPARK_GRAFT_PACKAGES", "")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Disable PySpark's per-op call-site capture (error-context
        # debugging aid): it wraps every DataFrame/Column call in ~4 extra
        # py4j round trips (a conf RPC, origin set/clear) plus a Python
        # stack walk — measured at ~45% of plan-construction wall time on
        # deep query trees. Errors still raise with full JVM messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if packages:
        builder = builder.config("spark.jars.packages", packages)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
