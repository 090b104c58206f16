"""Process environment of a benchmark run.

Everything the run writes stays under one work directory inside the
checkout: Python and JVM temp files, Spark scratch space, the warehouse.
Parallelism and driver memory are pinned to the box, not to the package
defaults (32 cores, 16 GiB).
"""

from __future__ import annotations

import os
import platform
import sys
import time

RUN_ROOT = ".perfbench"


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark task slots: half the CPUs. A busy slot runs a JVM task thread
    and, for Python and Arrow operators, a Python worker beside it, and the
    client process and the JVM's own threads need CPU as well; with half the
    CPUs as slots the runnable threads stay near ``nproc``, so a run on a
    shared host measures the program rather than the scheduler."""
    return max(1, nproc() // 2)


def driver_memory() -> str:
    """A quarter of physical RAM, between 1 and 4 GiB."""
    return f"{max(1, min(4, ram_bytes() // 4 // 2**30))}g"


def pin(work: str) -> None:
    """Pin the process environment before Spark or the package is imported."""
    tmp, local = f"{work}/tmp", f"{work}/spark-local"
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(spark_cpus()),
            "SPARK_DRIVER_MEMORY": driver_memory(),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # spark-submit's launcher JVM: no perf-data file under /tmp.
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    time.tzset()


def spark_conf(work: str) -> dict[str, str]:
    """Confs that only relocate scratch files, keep the JVM's perf-data file
    out of /tmp or silence the console; none changes how a query runs."""
    return {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }


def box() -> dict:
    cpu = platform.processor()
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as f:
            cpu = next(line.split(":", 1)[1].strip() for line in f if line.startswith("model name"))
    except (OSError, StopIteration):
        pass
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "spark_cpus": spark_cpus(),
        "cpu": cpu,
        "ram_gib": round(ram_bytes() / 2**30, 1),
        "driver_memory": driver_memory(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def timed_session(work: str):
    """Import the package's session module, build the session and pin the
    query confs: the benchmark's set-up. Returns ``(spark, build_s,
    confs_s)``; the set-up time is their sum."""
    t0 = time.perf_counter()
    from transilien_api_etl_spark.session import build_session, ensure_query_confs

    spark = build_session(extra_conf=spark_conf(work))
    t1 = time.perf_counter()
    ensure_query_confs(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_bytes() -> int:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0
    with open(f"/proc/{proc.pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0
