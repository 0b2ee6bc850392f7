"""Process environment, Spark session and teardown for one benchmark run.

Everything a run writes (fixtures, copy tree, stream replay, Spark local
dirs, checkpoints, JVM and Python temp files) lands under one work
directory inside the benchmark's own directory, removed at exit.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time

from harness import process_tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark JVM heap: the fixtures are a few MB. A 1 GiB cap fills and is
# collected several times per run, so the peak RSS levels off instead of
# depending on when the heap last grew (2 GiB: 34 % spread across runs).
DRIVER_MEM = "1g"


def nproc() -> int:
    """CPUs this process may run on (ignores OMP_NUM_THREADS, unlike nproc(1))."""
    return len(os.sched_getaffinity(0))


def prepare_env(work_dir: str) -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers into ``work_dir``, and make the engine importable on
    the workers whatever directory the benchmark was launched from."""
    for sub in ("tmp", "spark-local", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT if not path else ROOT + os.pathsep + path
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the launcher JVM spark-submit starts would write hsperfdata to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work_dir: str, cpus: int):
    """The engine's session sized to ``cpus`` cores and shuffle partitions."""
    from hadoop_copier_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work_dir, "checkpoints"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session() -> None:
    """Stop the Spark context, shut the JVM down and wait until it and
    every other process this run started has exited."""
    from pyspark import SparkContext

    descendants = process_tree()[1:]
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    _reap(descendants + process_tree()[1:])


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie left for init to reap counts as exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _reap(pids, timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, stragglers."""
    me = os.getpid()
    pids = [p for p in set(pids) if p != me]
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.monotonic() < deadline:
            for p in pids:
                try:  # collect our own exited children
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)
        deadline = time.monotonic() + timeout_s / 4
