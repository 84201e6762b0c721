"""SparkSession factory tuned for the local[{N}] test/bench harness.

Settings chosen for 100 TB-scale habits even though tests run single-JVM:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized to
cores (not the 200 default), Arrow enabled for every pandas-UDF stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fingerprint_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int -> local[n]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or *.
    master: explicit master URL override — e.g. ``local-cluster[4,2,6144]``
    (4 worker JVMs x 2 cores x 6 GiB: separate executor processes with
    separate GC domains and a real shuffle-service path, the closest a
    single box gets to a multi-executor cluster). With an override,
    ``cores`` is only used to size shuffle partitions.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cores}]"
    n_cores = os.cpu_count() or 8 if cores == "*" else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(n_cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to Python workers (--py-files pattern): UDF
    # closures must import fingerprint_spark regardless of driver cwd
    from .deploy import ensure_pyfiles

    ensure_pyfiles(spark)
    return spark
