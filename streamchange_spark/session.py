"""SparkSession factory tuned for this engine.

Local-mode defaults that also translate to a real cluster: AQE (runtime
coalescing + skew-join splitting), Arrow for all pandas UDF traffic, UTC
session timezone (required for byte-identical comparison against UTC-naive
DuckDB oracles), shuffle parallelism sized to cores instead of the 200
default.

DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
PySpark wraps every DataFrame, Column and ``functions`` call in
``_with_origin``, which costs about five extra Py4J round trips per call
(the active session, a conf read, the ``PySparkCurrentOrigin`` lookup, its
``set`` and ``clear``) plus a failed ``import IPython`` that rescans
``sys.path``. Building one tier query makes hundreds of such calls, so the
capture cost the driver about as much as planning the query. What error
messages lose: an analysis or runtime error no longer names the Python
file and line of the DataFrame call in its query context; the message,
the error class and the Python traceback are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "streamchange_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    extra_conf = dict(extra_conf or {})
    driver_mem = extra_conf.pop(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g")
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batches so per-key pandas groups stay within worker
        # memory even for hot (skewed) keys.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        # Fixed, pre-touched heap + a GC that never uncommits: G1 returns
        # heap pages to the OS between queries, and refaulting them through
        # the hypervisor in virtualized sandboxes costs seconds of kernel
        # time per query with huge variance (measured: a 1.5s scan ran
        # 6-40s under G1, stable 1.2-2.5s with this). Fixed executor heaps
        # are standard practice on real clusters too.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
