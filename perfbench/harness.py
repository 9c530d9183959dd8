"""Run isolation, the Spark session, and what a run records about its host.

Everything a run writes lives under one work directory inside the
checkout (warehouses, Spark scratch, JVM and Python temp files), and the
work directory is removed when the run ends.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import tempfile
import time

DRIVER_MEMORY = "2g"


def make_workdir(base: str) -> str:
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=base)


def local_cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_spark(workdir: str, cores: int):
    """A local[cores] session from the engine's own session factory, with
    every scratch location inside ``workdir``. Returns (spark, seconds)."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    # the JVM, its Python workers and anything else Spark starts inherit
    # these; SPARK_LOCAL_DIRS would override spark.local.dir if inherited
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp
    t0 = time.perf_counter()
    from kudu_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # the JVM is up and has run a job
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tree_bytes(root: str) -> dict[str, int]:
    """Relative path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # a temp file renamed away mid-walk
    return out


def host_record(spark, cores: int, seed: int) -> dict:
    """What the run ran on, and the engine cache limits its data sizes
    should be read against."""
    from pyspark import __version__ as pyspark_version

    from kudu_spark import meta
    from kudu_spark.table import KEY_FRAME_CACHE_MAX, Table

    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "spark_local_cores": cores,
        "spark_master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark_version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "engine_caches": {
            "DIRTY_CACHE_MAX_BYTES": Table.DIRTY_CACHE_MAX_BYTES,
            "KEY_FRAME_CACHE_MAX": KEY_FRAME_CACHE_MAX,
            "meta._STATE_CACHE_MAX": meta._STATE_CACHE_MAX,
            "meta.CHECKPOINT_EVERY": meta.CHECKPOINT_EVERY,
        },
    }
