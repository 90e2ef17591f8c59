"""SparkSession factory with scale-appropriate defaults.

All engine code obtains its session here so that AQE, Arrow, and shuffle
sizing are consistent between tests, bench, and the driver entry point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bisque_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE + skew-join on: the frontier's host distribution is Zipf-skewed
      by construction, so runtime coalescing/skew splitting is mandatory.
    - Arrow on: every parse/decode/validate operator is a pandas UDF.
    - shuffle partitions default to cores locally; on a real cluster this
      should be ~2-3x total cores (set via spark-submit conf).
    - Python workers fork from `worker_daemon`, so a reused worker does
      not re-read pyspark.zip and the spark-core jar on every task.
    """
    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # Python workers must be able to import this package regardless of
    # the driver's cwd (on a real cluster: spark-submit --py-files; in
    # local mode the worker processes inherit PYTHONPATH).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "bisque_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
