"""Spark session for the benchmark, with every file it writes kept inside
the benchmark's work directory (shuffle files, JVM and Python temp files).
Everything else is the engine's own ``config.get_spark`` defaults."""

from __future__ import annotations

import os
import subprocess


def start_session(work: str, width: int, app: str = "perfbench"):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # shuffle and spill files (an inherited SPARK_LOCAL_DIRS would win
    # over spark.local.dir, so set the variable itself)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM started from here (spark-submit's launcher too) keeps its
    # temp files in the work dir and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from ocr_award_extractor_spark.config import ensure_package_on_workers, get_spark

    spark = get_spark(app, master=f"local[{width}]", shuffle_partitions=width, extra={
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_workers(spark)
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
