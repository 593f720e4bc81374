"""Spark session lifecycle for one benchmark run.

Keeps every file Spark writes inside the run's work directory, samples the
resident memory (PSS) of the driver JVM and its Python workers, reads task-side
totals from Spark's status store (which works with the UI off), and stops
every process it started.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from use_clickhouse_2_analyze_mysql_binlog_spark.session import get_spark

CPUS = 4


def _children(pid: int) -> list[int]:
    """All descendants of ``pid`` (Python workers are forked by the JVM)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked workers count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Resident memory of a process tree (summed PSS), sampled every
    ``period`` s as ``(wall time, kB)`` pairs."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period = pid, period
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in _children(self.pid))
            self.samples.append((time.time(), kb))
            self._stop.wait(self.period)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    def mean_mb(self, t0: float, t1: float) -> float:
        """Mean over the samples taken in ``[t0, t1]``."""
        kb = [k for t, k in self.samples if t0 <= t <= t1]
        return sum(kb) / len(kb) / 1024.0

    def peak_mb(self) -> float:
        return max(k for _, k in self.samples) / 1024.0


class SparkEnv:
    """One JVM per run; sessions can be restarted inside it."""

    def __init__(self, work: str, repo: str):
        self.work = work
        self.spark: SparkSession | None = None
        self.mem: MemSampler | None = None
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        # the gateway's handshake files and Python's temp files stay in work
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        # Python workers import the package from the checkout too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        import tempfile

        tempfile.tempdir = os.path.join(work, "tmp")

    def start(self) -> SparkSession:
        """Create a session (launching the JVM on first use)."""
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CPUS}]",
            conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.mem is None:
            self.mem = MemSampler(SparkContext._gateway.proc.pid)
        return self.spark

    def restart(self) -> SparkSession:
        self.spark.stop()
        return self.start()

    def status_totals(self) -> dict[str, float]:
        """Task-side totals over every stage the status store kept."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0)
        out["jobs"] = float(store.jobsList(None).size())
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_ms"] += s.executorRunTime()
            out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            out["gc_ms"] += s.jvmGcTime()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def close(self) -> None:
        """Stop the sampler, Spark and the JVM, and wait for them."""
        if self.mem is not None:
            self.mem.close()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

