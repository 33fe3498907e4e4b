"""Process set-up, Spark session lifetime, statistics and host probes."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "ydb_vector_search_demo_spark"


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def prepare_environment(cpus: int) -> None:
    """Keep every file the run writes inside the checkout: Python and JVM
    temp files, Spark scratch space and the shipped package zip. Must run
    before pyspark starts its JVM. Runs in one checkout are sequential, so
    scratch space a previous run left behind is removed."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin pipe (its exit signal)
    and wait for the process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class JobCounter:
    """Jobs, executed stages and tasks of one operation, through a job group
    set on the calling thread and read back from the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(jobs), stages, tasks


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    idx = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[idx])


def canary_s() -> float:
    """Single-thread CPU canary: best of three fixed integer loops."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def host_probe() -> dict:
    return {"load1": os.getloadavg()[0], "canary_s": canary_s(), "t": time.time()}
