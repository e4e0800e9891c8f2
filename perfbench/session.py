"""Spark session sized for the host, with every file the run writes kept
under the benchmark's work directory.

Sizing goes through the package's public ``get_spark`` and its documented
environment variables only: ``local[<cores>]``, shuffle partitions equal to
the core count, and a fixed driver heap well under physical memory.
"""

from __future__ import annotations

import os
import sys

DRIVER_HEAP = "2g"


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def isolate_env(work_dir: str, run_dir: str) -> None:
    """Point temp files and Spark scratch space at ``run_dir`` and the
    native-kernel cache at ``work_dir`` (kept across runs, like a build)
    before the JVM starts; workers inherit this environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["FUZZYLINK_NATIVE_CACHE"] = os.path.join(work_dir, "native")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def start_spark(event_log_dir: str | None = None):
    """A session on ``local[<cores>]`` (call ``isolate_env`` first); with
    ``event_log_dir`` Spark writes its event log there (the traced run)."""
    from fuzzylink_spark.session import get_spark

    cores = host_cores()
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            # -Xms = -Xmx, touched at start: a fixed, resident heap, so the
            # tree's RSS does not follow when the collector happens to grow
            # it or first touch more of it
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)
