"""Process, session and statistics plumbing shared by the workloads.

Everything a run touches lives under ``<checkout>/.perfbench_work/<run>``,
created fresh and removed when the run ends; the Spark JVM this module
starts is stopped and waited for before the process exits.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(CHECKOUT, ".perfbench_work")
OUT_ROOT = os.path.join(CHECKOUT, ".perfbench_out")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    """CPUs this process may run on: what ``env -u OMP_NUM_THREADS nproc``
    prints, so ``local[n]`` matches the repository's tier-1 test command."""
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it; with fewer than eleven samples, the
    maximum and its percentile."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return float(s[-1]), 100.0
    return float(s[n - 11]), 100.0 * (n - 10) / n


class Workdir:
    """A fresh per-run directory inside the checkout. Temporary files of
    this process and of the JVM it launches are redirected into it."""

    def __init__(self, name: str):
        self.root = os.path.join(WORK_ROOT, name)
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


class Session:
    """One local Spark session on every CPU of the host, built through the
    engine's own ``build_session`` with only what the harness needs on
    top: local/temp directories inside the run dir, no console progress
    bar, no JVM perf-data file in /tmp."""

    def __init__(self, work: Workdir):
        from th2_listener_mysql_binlog_go_spark.session import build_session

        n = nproc()
        tmp = work.path("tmp")
        self.cpus = n
        self.spark = build_session(
            "perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
            extra_conf={
                "spark.local.dir": work.path("spark-local"),
                "spark.sql.warehouse.dir": work.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm = self.spark._jvm
        self._mx = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    # ---- JVM resource probes (public management beans and /proc) -------

    def gc_s(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self._mx.getGarbageCollectorMXBeans()) / 1000.0

    def cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def job_ids(self, group: str | None) -> set[int]:
        """Ids of the retained Spark jobs of one job group (None: jobs
        run outside any group, as the replay runner's are)."""
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def tasks_of(self, job_ids: set[int]) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                n += si.numTasks if si else 0
        return n

    def stop(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)


class Counter:
    """Operations attempted / failed, with the reasons of failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def op(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok

    def check(self, ok: bool, what: str) -> bool:
        log(f"check {'ok  ' if ok else 'FAIL'} {what}")
        return self.op(ok, what)
