"""SparkSession factory with scale-oriented defaults.

All engine code assumes these session settings (UTC timestamps, AQE,
Arrow). On a real cluster the same builder is used by ``cli.py`` via
``spark-submit --py-files``; in tests/bench we run ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Driver heap for local mode: half of the host's physical memory,
    capped at 48g. A heap larger than the host lets the JVM grow past
    what the machine has, and the OS kills it before Spark would spill;
    the other half is left to the Python workers and the OS."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 48 * 1024)}m"


# Defaults chosen for the 100 TB target, not the local test rig:
#  - AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
#    shuffle partition counts at every scale.
#  - shuffle.partitions is only the *initial* number under AQE; we still
#    set it near core count locally so tiny test jobs don't create 200
#    empty tasks.
#  - Arrow on: every pandas UDF moves data as columnar Arrow batches.
#  - UTC session timezone: epoch math must agree across engines and
#    clusters (and with the DuckDB correctness oracle).
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # our post-shuffle stages are CPU-bound (feature kernels, sparse
    # assembly), not IO-bound: the 64 MB default advisory size makes
    # AQE coalesce them below core count on mid-size inputs; 16 MB
    # keeps parallelism without meaningfully hurting task overhead.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # 128 MB input splits: good parquet scan granularity at any scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # local mode = driver-only JVM: driver memory IS executor memory
    # (must be set before JVM launch; ignored on a real cluster where
    # spark-submit provides it)
    "spark.driver.memory": _driver_memory(),
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # PySpark wraps EVERY DataFrame/Column API call with a call-site
    # capture (stack inspection + 2 extra py4j round-trips) when this
    # is on — it exists only to decorate error messages with user line
    # numbers. A wide feature plan is tens of thousands of Column ops,
    # so this flag alone is ~2x driver-side plan-construction time.
    # (Cached by pyspark at first use: must be set at session build.)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "cookieblock_consent_classifier_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; under
    spark-submit the submitted master wins (builder master is only a
    default).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        conf.setdefault("spark.sql.shuffle.partitions", "32")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
