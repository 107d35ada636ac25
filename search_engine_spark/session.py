"""SparkSession factory tuned for the index-build workload."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so executors can import it regardless of cwd —
    the in-process equivalent of ``spark-submit --py-files``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "search_engine_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return out


def _default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """``SPARK_DRIVER_MEM``, else a quarter of the machine's MemTotal.

    Local mode runs ALL task threads in the driver JVM: an 8g heap under
    32 concurrent tasks thrashed GC (postings build 13.5 s @ local[8] vs
    SLOWER at local[32]), and 32g restored linear scaling on a 128 GiB
    box; the default keeps that quarter-of-RAM ratio on any host. Real
    clusters size executors instead."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{kb // (4 * 1024)}m"


def get_spark(
    app_name: str = "search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Cores and driver heap come from the machine (``_default_cpus``,
    ``_default_driver_mem``). Defaults are scale-aware: AQE on (runtime
    partition coalescing + skew join splitting is the backstop for hot
    bigram terms), Arrow on (every Python-side operator is a vectorized
    pandas/Arrow UDF), UTC timezone (oracle comparisons against DuckDB).
    """
    cpus = _default_cpus()
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    evlog = os.environ.get("SPARK_EVENTLOG_DIR")
    if evlog:  # stage/task-level profiling (tools/ event-log analysis)
        os.makedirs(evlog, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", evlog
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package to executors (harmless if already importable there).
    spark.sparkContext.addPyFile(_package_zip())
    return spark
