"""Process and Spark-session set-up for the benchmark.

Everything the benchmark writes stays under one work directory inside the
checkout: Python and JVM temp files, Spark's shuffle spill, event logs and
the generated inputs and tables.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def prepare_process(work: str) -> None:
    """Point every temp directory of this process, its Python workers and
    the JVM into ``work``, and let Python workers import the package (a
    ``sys.path`` entry in the driver does not reach executor processes)."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata files in /tmp from any JVM the session launches
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cores() -> int:
    """Usable cores, as ``nproc`` reports them (honours the CPU affinity
    mask, not an OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


# Driver heap cap (-Xmx). In local mode one JVM holds the driver and every
# task slot; the inputs here need well under this, and the host is shared.
HEAP = "1g"
# The heap starts small and is not touched up front, so the JVM's peak
# resident set follows the memory the program holds. The parallel collector
# with fixed generation sizes grows the heap only when retained data needs
# room; G1 grows it by GC pause timing, which on a shared host moved peak
# RSS by over a fifth between runs of the same work.
GC_OPTS = "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms256m"


def start_spark(work: str, app: str, trace: bool):
    """A ``local[nproc]`` session with console progress off; the traced run
    also writes Spark's event log into ``work/events``."""
    from kafka_connect_fs_spark.session import get_spark

    n = cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {GC_OPTS}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    spark = get_spark(app, cores=n, shuffle_partitions=n, extra_conf=conf)
    # the missing spark-avro jar makes the avro ExecutionListenerBus log an
    # ERROR per query; it is log noise, not a failed operation
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def jvm_pid(spark) -> int | None:
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """The JVM's peak resident set (VmHWM) in MB."""
    if pid is None:
        return float("nan")
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait(10)

