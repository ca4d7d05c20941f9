"""Spark session lifetime for the benchmark: one ``local[nproc]``
session per process, every file it writes kept inside the run's work
directory, and a shutdown that waits for the JVM to exit."""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the work directory."""
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap (initial = max = SPARK_GRAFT_DRIVER_MEM), so
        # resident memory follows the work done rather than when the
        # collector decided to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_MEM}"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one JSON-lines file
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    return conf


def start_session(work: str, trace: bool):
    """get_spark on local[nproc] with this run's directories; returns
    (spark, seconds it took)."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pagerank_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{_cpus()}]", shuffle_partitions=_cpus(),
                      extra_conf=_session_conf(work, trace))
    took = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def work_dir(tag: str) -> str:
    """A fresh per-process directory inside the checkout for this run's
    inputs, Spark scratch space and event log; the caller removes it."""
    path = os.path.join(ROOT, f".perfbench-work-{tag}-{os.getpid()}")
    os.makedirs(path)
    return path
