"""The benchmark's Spark session settings, identical on every commit.

Everything a run writes (Spark local dirs, warehouse, JVM and Python temp
files) goes under one per-run directory inside the checkout, which the run
deletes when it ends, so no program-side cache survives into the next run.
"""

from __future__ import annotations

import os
import sys

DRIVER_MEM = "3g"  # the repo default (32g) exceeds a 15 GB box
NO_PERFDATA = "-XX:-UsePerfData"  # JVMs write no hsperfdata files under /tmp


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(tmp: str):
    """Point every temp-file writer of this process and its children (the
    JVM, the pool generator) at ``tmp``."""
    for sub in ("py", "jvm", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(tmp, "py"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_LOCAL_IP="127.0.0.1",
        # the JVM spark-submit runs first to build the driver command
        SPARK_LAUNCHER_OPTS=f"{NO_PERFDATA} -Djava.io.tmpdir={tmp}/jvm",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(nproc()),
        PYSPARK_PYTHON=sys.executable,
        PERFBENCH_TMP=tmp,
    )


def get_session(app: str):
    """tzspark.engine.get_spark at local[nproc] with the run-local dirs."""
    from tzspark.engine import get_spark

    tmp = os.environ["PERFBENCH_TMP"]
    return get_spark(
        app=app,
        master=f"local[{nproc()}]",
        shuffle_partitions=2 * nproc(),
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # a fixed heap: its growth would otherwise set peak_rss_mb by
            # the GC's sizing decisions, which vary from run to run
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} {NO_PERFDATA} "
            f"-Djava.io.tmpdir={tmp}/jvm",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            # one split per input file: the seed window's 2 x nproc equal
            # files become 2 x nproc equal scan tasks
            "spark.sql.files.openCostInBytes": str(1 << 30),
        },
    )


def stop(spark):
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        proc.wait(timeout=120)
