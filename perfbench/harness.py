"""Run-level plumbing shared by every workload: the Spark session the
benchmark pins, op accounting, order statistics, memory and host records,
and shutdown of every process the run started."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_BASE = Path(__file__).resolve().parent / "_work"


def median(values):
    return statistics.median(values) if values else float("nan")


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if not values:
        return float("nan"), float("nan"), float("nan")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values, percentiles=(99.9, 99.0, 95.0, 90.0)):
    """Highest percentile with at least ten samples beyond it, as
    (percentile, value, samples_beyond), or None when there are too few."""
    n = len(values)
    for p in percentiles:
        beyond = int(n * (1 - p / 100.0))
        if beyond >= 10:
            ordered = sorted(values)
            return p, ordered[min(n - 1, int(round(p / 100.0 * (n - 1))))], beyond
    return None


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 when it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def children_of(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    pending = [p for p in pids if _alive(p)]
    while pending and time.monotonic() < deadline:
        time.sleep(0.1)
        pending = [p for p in pending if _alive(p)]
    for p in pending:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while pending and any(_alive(p) for p in pending):
        time.sleep(0.1)


class Session:
    """The benchmark's SparkSession at ``local[nproc]`` with shuffle
    partitions pinned to ``nproc`` and every scratch path inside the work
    directory. ``get_spark`` would otherwise default to 32 of each."""

    def __init__(self, work: Path, nproc: int, trace: bool):
        self.work = work
        self.nproc = nproc
        self.trace = trace
        self.eventlog_dir = work / "eventlog"
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from dataset_dedupe_estimator_spark import get_spark

        tmp = self.work / "tmp"
        # no JVM perf-data files in /tmp, from spark-submit's launcher either
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # a 1 GiB heap committed up front: the JVM's resident set then
        # does not depend on when its collector chose to grow the heap
        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g -XX:-UsePerfData",
        }
        if self.trace:
            self.eventlog_dir.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog_dir.as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def warm(self, python_workers: bool):
        """One job per core before anything is timed; with
        ``python_workers`` it starts the Python workers too."""
        n = self.nproc
        df = self.spark.range(n * 4, numPartitions=n)
        if python_workers:
            # a lambda pickles by value: workers cannot import this module
            df = df.mapInArrow(lambda batches: batches, "id long")
        df.count()

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + (vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0)

    def host(self) -> dict:
        import numpy
        import pyarrow
        import pyspark

        from dataset_dedupe_estimator_spark.operators import native

        return {
            "nproc": self.nproc,
            "master": self.spark.sparkContext.master,
            "defaultParallelism": self.spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "python": sys.version.split()[0],
            "native_compiled": bool(native.available()),
        }

    def stop(self):
        """Stop Spark, the JVM and the Python workers it forked, and wait
        until each has exited."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError

        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        workers = children_of(proc.pid)
        self.spark.stop()
        try:
            gateway.shutdown()
        except Py4JError:  # the JVM may already be gone; the wait below decides
            traceback.print_exc(file=sys.stderr)
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        wait_gone(workers, 10.0)
        self.spark = None


@dataclass
class Op:
    """One attempted operation of the timed phase."""

    kind: str
    wall_s: float = 0.0
    ok: bool = True
    error: str = ""
    info: dict = field(default_factory=dict)


class Ledger:
    """Every op attempted, its wall time and whether its output checked."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.ops: list[Op] = []

    def run(self, kind: str, fn, check=None, info=None, span=True) -> Op:
        """Time ``fn()`` (inside an ``op.<kind>`` span when ``span``); run
        ``check(result)`` outside the timed region. An exception or a
        failed check marks the op failed, and the run goes on."""
        op = Op(kind, info=dict(info or {}))
        t0 = time.perf_counter()
        try:
            if span:
                with self.tracer.span(f"op.{kind}"):
                    result = fn()
            else:
                result = fn()
            op.wall_s = time.perf_counter() - t0
        except Exception as e:  # an op that raises is a failed op, not a crash
            op.wall_s = time.perf_counter() - t0
            op.ok = False
            op.error = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
            self.ops.append(op)
            return op
        if check is not None:
            try:
                problem = check(result)
            except Exception as e:  # a check that cannot run fails the op
                problem = f"check raised {type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            if problem:
                op.ok = False
                op.error = problem
        self.ops.append(op)
        return op

    @property
    def attempted(self):
        return len(self.ops)

    @property
    def failed(self):
        return sum(1 for o in self.ops if not o.ok)


def dump_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(obj, indent=1, sort_keys=True, default=str))
