"""Start and stop the benchmark's Spark session inside its work directory.

Spark, the JVM and Python all default to /tmp for scratch files; the
benchmark points every one of them at its own work directory, so a run
reads and writes only inside the checkout it runs from.
"""

from __future__ import annotations

import os
import signal
import time

from perfbench.procstat import tree_pids

#: the GC flags open_semantic_etl_spark.session passes, kept when the
#: benchmark adds its own temp-dir flag to the same JVM option string
_JVM_FLAGS = (
    "-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions "
    "-XX:GCLockerRetryAllocationCount=64"
)


def start_spark(cores: int, workdir: str, app_name: str):
    """local[cores] session with a 2 GB driver heap and scratch space
    under ``workdir``. Must run before anything else starts the JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    import tempfile

    tempfile.tempdir = tmp
    from open_semantic_etl_spark.session import get_spark

    return get_spark(
        app_name=app_name,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"{_JVM_FLAGS} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, then wait until every process this
    one started has ended (the JVM exits when its stdin closes; the
    Python daemon and its workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while (left := [p for p in tree_pids(me) if p != me]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
