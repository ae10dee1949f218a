"""Run environment, Spark session and per-op bookkeeping shared by the
workloads.

The environment is pinned: ``local[nproc]`` with ``nproc`` from the CPU
affinity mask, console progress off, and ``SPARK_LOCAL_DIRS``, the JVM
and Python temp dirs and every working directory under one per-run
directory inside the checkout, removed at exit.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

PKG = "_big_data_analytics_and_visualization_tracking_student_progress__spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "8g"
_TICKS = os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Op:
    """One timed operation: its latency, whether it passed its checks,
    and the Spark jobs and tasks it ran."""

    latency_s: float
    ok: bool
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    extra: dict = field(default_factory=dict)


class Bench:
    """Owns the per-run directory, the Spark session and the ops."""

    def __init__(self, workload: str, seed: int, tracer=None):
        self.t0 = time.perf_counter()
        self._cpu0 = _cpu_times()
        self.workload = workload
        self.seed = seed
        self.tracer = tracer
        self.cpus = nproc()
        self.tmp = os.path.join(ROOT, ".bench_tmp", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)
        self.ops: list[Op] = []
        self.setup_failures = 0
        self.info: dict[str, object] = {}
        self.spark = None
        self._jvm_proc = None
        self._pin_env()

    def _pin_env(self) -> None:
        os.environ["TMPDIR"] = self.tmp
        import tempfile

        tempfile.tempdir = self.tmp
        local = os.path.join(self.tmp, "spark-local")
        os.makedirs(local)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(self.tmp, 'warehouse')} "
            f"--driver-java-options -Djava.io.tmpdir={self.tmp} pyspark-shell"
        )
        self.info.update(
            master=f"local[{self.cpus}]", nproc=self.cpus,
            driver_memory=DRIVER_MEMORY, threads_max=self.cpus,
            python=sys.version.split()[0],
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    # -- session ---------------------------------------------------------
    def start_spark(self):
        import importlib

        pkg = importlib.import_module(PKG)
        t = time.perf_counter()
        span = self.tracer.open("session.start") if self.tracer else None
        self.spark = pkg.get_spark("perfbench", master=f"local[{self.cpus}]")
        if span:
            self.tracer.close(span)
        self.info["session_start_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_proc = self.spark.sparkContext._gateway.proc
        import pyspark

        self.info["pyspark"] = pyspark.__version__
        return self.spark

    def stop(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the run dir."""
        try:
            if self.spark is not None:
                gateway = self.spark.sparkContext._gateway
                self.spark.stop()
                gateway.shutdown()
            if self._jvm_proc is not None:
                if self._jvm_proc.stdin:
                    self._jvm_proc.stdin.close()
                try:
                    self._jvm_proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self._jvm_proc.kill()
                    self._jvm_proc.wait()
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)
            parent = os.path.dirname(self.tmp)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    def cpu_shares(self) -> dict[str, float]:
        """Host CPU time since the run began, as shares of all CPU time:
        busy (user + system) and stolen by the hypervisor.  A high or
        varying steal share explains wall-time noise no code change made."""
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        total = sum(d) or 1
        return {"cpu_busy_share": (d[0] + d[1] + d[2]) / total,
                "cpu_steal_share": d[7] / total if len(d) > 7 else 0.0}

    def _pids(self) -> list[int]:
        pids = [os.getpid()]
        if self._jvm_proc is not None:
            pids.append(self._jvm_proc.pid)
        return pids

    def cpu_s(self) -> float:
        """CPU seconds (user + system, all threads) this process and the
        JVM have used.  Time the hypervisor steals and time spent
        waiting for a CPU are not in it, so it moves less than wall time
        when the host is busy."""
        ticks = 0
        for pid in self._pids():
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        return ticks / _TICKS

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of this process plus the JVM."""
        kb = 0
        for pid in self._pids():
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    # -- Spark job accounting -------------------------------------------
    def next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def job_stats(self, job_ids) -> tuple[int, int]:
        """``(jobs, tasks)`` over the given job ids, read from the
        status tracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in list(info.stageIds):
                stage = st.getStageInfo(s)
                if stage is not None:
                    tasks += stage.numTasks
        return jobs, tasks

    def group_stats(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        return self.job_stats(st.getJobIdsForGroup(group))

    # -- failures --------------------------------------------------------
    @staticmethod
    def report_failure(what: str, exc: BaseException | None = None) -> None:
        print(f"FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)
