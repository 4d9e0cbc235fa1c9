"""Size Spark from the host and start, read and stop it.

The engine's own default heap (``session.py``) is sized for a much larger
machine, so the benchmark passes the deployment setting derived here:
``local[nproc]`` and a Spark driver heap of half of physical memory.  Every
Spark scratch path (warehouse, local dirs, metastore) lives under the run's
work directory inside the checkout.
"""

from __future__ import annotations

import os
import time

HEAP_SHARE = 0.5


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo", encoding="utf-8") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    return max(1, int(host_mem_bytes() * HEAP_SHARE / 2**30))


def host_record() -> dict:
    return {"cpus": host_cpus(), "heap_gb": heap_gb(),
            "mem_gb": round(host_mem_bytes() / 2**30, 1)}


def size_from_host() -> None:
    """Pass the host-derived sizing through the environment variables
    ``ploverdb_spark.session`` reads: ``local[nproc]`` with as many shuffle
    partitions, and the driver heap.  ``session.py`` reads them when it is
    first imported, so this runs before anything imports the package; child
    processes inherit it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb()}g"


def start_spark(app: str, work_dir: str):
    """Start the engine's session (``ploverdb_spark.session.get_spark``)
    with the sizing from :func:`size_from_host`; returns
    ``(spark, start_seconds)``."""
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work_dir} -Djava.io.tmpdir={local}"
        ),
        # Keep every job and stage of a run in the status store the
        # tracer reads (defaults keep 1,000).
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    from ploverdb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    spark.range(1).collect()  # the session is usable, not just built
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    got = (sc.master, sc.getConf().get("spark.driver.memory"))
    want = (f"local[{host_cpus()}]", f"{heap_gb()}g")
    if got != want:
        raise RuntimeError(f"Spark started as {got}, not the host sizing {want}")
    return spark, start_s


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid  # noqa: SLF001


def peak_rss_gb(spark) -> float:
    """VmHWM (peak resident set) of the Spark driver JVM."""
    with open(f"/proc/{jvm_pid(spark)}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("VmHWM missing")


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc  # noqa: SLF001
    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort below
            proc.kill()
            proc.wait(timeout=10)
