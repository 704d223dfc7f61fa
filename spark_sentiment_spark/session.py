"""SparkSession factory with scale-oriented defaults.

The reference configures dynamic allocation + external shuffle service + Kryo
(SRC/Sentiment.scala:57-63). On Spark 3/4 the equivalent posture is AQE
(runtime shuffle-partition coalescing, skew-join splitting) plus Arrow for any
Python exchange. These defaults are what we would run on a 1000-executor
cluster; tests override master to ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SCALE_DEFAULTS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for every pandas UDF / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Lexicons / dimension tables are tiny; let broadcast joins kick in freely.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Partition parquet scans at 128MB — the sweet spot for 100TB table scans.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.session.timeZone": "UTC",
    # The events table carries TIMESTAMP(NANOS) parquet timestamps, which
    # Spark refuses by default; read them as nano-longs and convert in load().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "spark-sentiment",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[SPARK_GRAFT_CPUS]``, or to the CPUs this
    process may run on when the variable is unset; ``shuffle_partitions``
    defaults to the same count. On a real cluster pass ``master`` and a
    high ``shuffle_partitions`` and let AQE coalesce from there.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_SCALE_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
