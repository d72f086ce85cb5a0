"""SparkSession factory tuned for both local testing and cluster scale.

The reference builds its session at transform/execute.py:27-40 (standalone
cluster master, Kryo, hardcoded shuffle partitions in the notebook at
transform/execute.ipynb:285). We keep Kryo (ML vectors serialize through it)
but replace magic shuffle constants with AQE, pin the session timezone to UTC
(oracle comparability), and enable Arrow for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen to survive a 1000-executor cluster unchanged: AQE handles
# shuffle-partition sizing at runtime (coalesce + skew split), so the static
# spark.sql.shuffle.partitions only seeds the initial value.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.kryoserializer.buffer.max": "256m",
    "spark.sql.parquet.filterPushdown": "true",
    # INT96 (Spark's legacy default) writes NO parquet min/max stats for
    # timestamps, silently voiding footer pruning on time columns. Set
    # MICROS once at session build so sinks never need to toggle the
    # session-wide conf mid-flight (r13 ADVICE: the per-write toggle in
    # write_sorted_parquet races concurrent writers; it remains only as a
    # locked fallback for foreign sessions).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


# SparkContext copies spark.executorEnv.* into every Python worker's
# environment; the workers otherwise see the package only when the driver's
# working directory happens to be the one that contains it.
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Driver heap for new sessions: ``$SPARK_GRAFT_DRIVER_MEM`` if set,
    else half of the host's physical memory, capped at 16g.

    In local mode the driver heap IS the executor heap for every worker
    thread, so Spark's 1g default starves cache-heavy iterative queries;
    but a fixed 16g on a 15 GB swap-less host gets the JVM OOM-killed
    once its heap fills (off-heap, Python workers and the OS need the
    rest)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    phys_mb = (
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    )
    return f"{min(phys_mb // 2, 16 * 1024)}m"


def get_spark(
    app_name: str = "movie_recommendation_etl_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    The master is ``$SPARK_MASTER``, else ``local[$SPARK_GRAFT_CPUS]``.
    Python workers find the package through ``spark.executorEnv.PYTHONPATH``
    (the directory that holds it, ahead of any value in ``extra_conf``), so
    a driver started outside the repo can still run Python on executors.
    """
    master = os.environ.get("SPARK_MASTER", f"local[{default_parallelism()}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    # Only effective at JVM creation — a getOrCreate() against a live
    # session keeps its existing heap.
    conf["spark.driver.memory"] = default_driver_memory()
    # Seed value only — AQE coalesces to actual data volume at runtime.
    conf["spark.sql.shuffle.partitions"] = str(max(default_parallelism(), 8))
    if extra_conf:
        conf.update(extra_conf)
    inherited = conf.get(_WORKER_PYTHONPATH, "").split(os.pathsep)
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        dict.fromkeys(p for p in [_PACKAGE_ROOT, *inherited] if p)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
