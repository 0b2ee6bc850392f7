"""SparkSession factory (SURVEY §7.1 step 1).

Local-mode tuned defaults; on a real cluster the same builder is used with
``master`` unset (picked up from spark-submit) and shuffle partitions sized
to ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package, put on the Python workers' path
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "hadoop-copier-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE is on (runtime coalesce + skew-join split), timezone pinned UTC so
    timestamp semantics match the DuckDB oracle, Arrow enabled for the
    pandas-UDF fast path. The generated-code cache holds 1000 classes, so
    a warm query compiles none.

    Python workers fork from ``_worker_daemon`` instead of
    ``pyspark.daemon``: before CPython 3.12 every task otherwise re-reads
    the central directory of ``pyspark.zip`` about 16 times (200-300 ms of
    CPU per task), which dominated small Python jobs such as a copy
    request. Every Python worker, including one that runs no engine code,
    then starts from this package, so the directory that holds it goes
    first in ``spark.executorEnv.PYTHONPATH``, ahead of any value passed in
    ``extra_conf``; Spark merges that into the workers' ``PYTHONPATH``,
    whatever the driver's working directory.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet (rounds 1-3 events fixtures) surfaces as
        # int64 epoch-nanos instead of a reader error; set here ONCE so
        # fixture loading never mutates shared session state (VERDICT r5 #4)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "hadoop_copier_spark._worker_daemon")
        # Generated-class cache: at the default 100 entries (4 LRU segments
        # of 25) the SQL mix's 99 classes thrash it, and every warm pass
        # compiles dozens of classes again; 1000 holds them all.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    conf = dict(extra_conf or {})
    path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = _ROOT + os.pathsep + path if path else _ROOT
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
