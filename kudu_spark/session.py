"""SparkSession factory tuned for the pyskudu engine.

Defaults chosen for the local[N] test harness but written for a real
cluster: AQE on (runtime re-plan + skew-join), UTC session timezone
(oracle comparability), Arrow enabled for the Pandas-UDF slow path,
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyskudu",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cpus in ("*", "") else int(cpus)
        shuffle_partitions = max(int(n), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # push large IN-lists down to parquet (row groups are then
        # skipped via dictionary/bloom filters — the write path enables
        # PK blooms); default threshold is only 10 values
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("PYSKUDU_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our tuning to an externally
    provided SparkSession (the driver hands us one in __spark_entry__)."""
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.parquet.filterPushdown", "true"),
        ("spark.sql.parquet.pushdown.inFilterThreshold", "1024"),
        ("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs can't change post-start; keep going
    return spark


def share_package(spark: SparkSession) -> None:
    """Let the session's Python workers import ``kudu_spark``. The
    engine's pandas UDFs (the presence probe, arrow cell assignment)
    import it inside the worker, which sees only the driver's
    PYTHONPATH, its working directory and installed packages — not a
    ``sys.path`` entry the driver added itself. The package's parent
    directory joins the PYTHONPATH Spark hands its Python workers;
    UDFs built after this call carry it."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if parent not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [parent])
