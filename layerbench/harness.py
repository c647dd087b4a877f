"""Process set-up shared by every workload: the work directory, the
hermetic environment and the Spark session.

Every file the run writes goes under ``<checkout>/layerbench/.work``:
inputs (cached per seed), and per run the Spark warehouse, derby home,
local dirs, JVM and Python temp files, checkpoints and tables.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
INPUT_CACHE = os.path.join(WORK, "inputs")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_dir() -> str:
    """A fresh per-process directory for everything the run writes. Run
    directories left by killed runs (their pid is gone) are removed."""
    os.makedirs(WORK, exist_ok=True)
    for e in os.listdir(WORK):
        if e.startswith("run-") and not os.path.exists(f"/proc/{e[4:]}"):
            shutil.rmtree(os.path.join(WORK, e), ignore_errors=True)
    d = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "derby", "data"):
        os.makedirs(os.path.join(d, sub))
    return d


def make_hermetic(rd: str) -> None:
    """Point every temp/scratch location of Python, PySpark and the JVM
    into ``rd``. Must run before the JVM starts."""
    os.environ["TMPDIR"] = os.path.join(rd, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rd, "local")
    # spark-submit's launcher JVM: no hsperfdata file, temp files in rd
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(rd, 'tmp')}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(rd: str) -> dict[str, str]:
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={os.path.join(rd, 'tmp')}",
            f"-Dderby.system.home={os.path.join(rd, 'derby')}",
            "-XX:-UsePerfData",  # no hsperfdata file outside the run dir
        ]
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(rd, "warehouse"),
        "spark.local.dir": os.path.join(rd, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(rd: str):
    """``session.get_spark`` on ``local[nproc]``, then one trivial job so
    the session is ready to run work."""
    from fraud_detection_etl_project_spark.session import get_spark

    n = cores()
    spark = get_spark(
        app_name="layerbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=session_conf(rd),
    )
    spark.range(1).count()
    return spark


def shutdown(rd: str) -> None:
    """Stop Spark, the JVM and the Python workers under it, wait until
    every one of those processes has ended, then remove the run directory.
    Works from any point of a run, including a failed set-up."""
    from pyspark import SparkContext

    from layerbench.tracing import descendants

    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        kids = descendants(proc.pid)
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        _wait_gone(kids, timeout=30)
    shutil.rmtree(rd, ignore_errors=True)


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for processes that are not our children (so cannot be
    ``wait``-ed) to exit; kill any still alive at the deadline."""
    from layerbench.tracing import proc_stat

    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if (st := proc_stat(p)) is not None and st[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)
