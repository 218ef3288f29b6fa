"""SparkSession construction tuned for the CDC engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
submit to a real cluster via ``spark-submit --py-files`` (AQE on, Arrow on,
shuffle partitions sized to the parallelism level rather than the 200
default).

DataFrame origin capture (``spark.python.sql.dataFrameDebugging.enabled``)
is off. With it on, PySpark wraps every ``pyspark.sql.functions`` call and
every Column method: each call looks up the active session, reads
``spark.sql.stackTracesInDataFrameContext``, walks the Python stack and
sets and clears the JVM-side origin, mostly as py4j round trips. The
engine builds a plan per epoch and per read from hundreds of such calls,
each of which paid that overhead on top of its own work. All the capture
adds is the Python call site in the query context of an error message;
the error itself and its JVM stack trace are unchanged.
PySpark reads the setting once per process, at the first wrapped call
under an active session, so it holds for every session of a process whose
first session comes from here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "nifi_nlp_processor_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls ``local[N]``; default reads ``SPARK_GRAFT_CPUS``
    (falling back to ``local[*]``). ``shuffle_partitions`` defaults to the
    core count so small-scale shuffles don't fan out into 200 empty tasks;
    on a real cluster this would be sized to ~2-3x total executor cores.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
