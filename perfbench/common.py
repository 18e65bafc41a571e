"""Paths, environment and Spark session shared by the benchmark's
processes."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
RESULTS_DIR = os.path.join(BENCH_DIR, "results")

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
CACHE_TERMS = 1024  # scripts/run_engine.py serve's default


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs from /proc/stat: the share
    of time the hypervisor ran someone else, for the result file's run
    context. (0, 0) where the file is missing."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def prepare_process(scratch: str) -> None:
    """Put the checkout on this process's and the Python workers' import
    path, and keep temporary files inside ``scratch`` (under the
    checkout). Call before importing pyspark."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(x for x in (ROOT, pp) if x)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def spark_session(app: str, scratch: str):
    """A quiet local[4] session through the program's own factory."""
    from wiki_search_engine_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    spark = get_spark(
        app_name=app,
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int | None = None) -> list[int]:
    """Every live process under ``pid`` (default: this one), from the
    parent links in /proc."""
    root = os.getpid() if pid is None else pid
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: fields follow the last ')'
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is
    still running after ``timeout`` seconds and wait for that too."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 30.0
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait until the JVM and
    the Python workers it started have ended. ``spark.stop()`` alone
    leaves the JVM running until this process exits, and it outlives
    this process by a few seconds."""
    from pyspark import SparkContext

    under = descendants()
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may be gone already
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        wait_gone(under)
