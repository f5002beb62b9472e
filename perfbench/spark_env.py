"""Process environment for running the program from any working directory.

Must run before ``hebrew_ner_spark.session`` is imported: that module reads
``SPARK_GRAFT_DRIVER_MEM`` at import time, and Spark's Python workers
inherit ``PYTHONPATH`` from the JVM, which inherits it from this process.
"""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")  # all run-time files stay in the checkout


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_size() -> str:
    """A quarter of host memory, between 1 and 4 GiB: the inputs are tens
    of MB, and the host is shared."""
    return f"{max(1, min(4, int(host_mem_gb() // 4)))}g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure() -> str:
    """Set the variables the program and its workers need; returns the
    scratch directory for this process."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap_size()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return tmp


def session_conf(tmp: str) -> dict:
    """Extra Spark conf: keep the JVM's temp files and warehouse in the checkout."""
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(tmp, "streaming"),
        "spark.ui.showConsoleProgress": "false",
    }
