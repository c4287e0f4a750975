"""One benchmark run's lifetime: its scratch directory inside the
checkout, the one Spark session (one driver JVM), memory high-water
marks, and the hygiene checks at the end."""

from __future__ import annotations

import os
import resource
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass

from crossbench.trace import Tracer

MiB = 1024 * 1024


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


@dataclass(frozen=True)
class Proc:
    ppid: int
    comm: str
    start: int  # start time in clock ticks since boot: (pid, start) is unique
    zombie: bool  # exited, not yet reaped


def _proc_table() -> dict[int, Proc]:
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(d)] = Proc(
            ppid=int(fields[1]),
            comm=comm,
            start=int(fields[19]),
            zombie=fields[0] == "Z",
        )
    return table


def _below(table: dict[int, Proc], pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, proc in table.items():
        kids.setdefault(proc.ppid, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def descendants(pid: int | None = None) -> dict[int, tuple[str, int]]:
    """pid → (command name, start time) of every running process below
    ``pid`` (this process by default)."""
    table = _proc_table()
    return {
        p: (table[p].comm, table[p].start)
        for p in _below(table, pid or os.getpid())
        if not table[p].zombie
    }


def still_alive(procs: dict[int, tuple[str, int]]) -> dict[int, str]:
    """The processes of ``procs`` that still run (same pid, same start
    time — a reused pid is another process)."""
    table = _proc_table()
    return {
        p: comm
        for p, (comm, start) in procs.items()
        if p in table and table[p].start == start and not table[p].zombie
    }


class Harness:
    def __init__(self, root: str, workload: str, trace: bool):
        self.trace = trace
        self.work = os.path.join(
            root, ".crossbench_work", f"{workload}-{os.getpid()}"
        )
        self.tracer = Tracer(trace)
        self.spark = None
        self._gateway_proc = None
        self.jvm_peak_bytes = 0
        self.jvm_marks: list[tuple[int, int]] = []  # (heap, non-heap) bytes
        self.hygiene: list[str] = []
        self._started: dict | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------ session
    def start_session(self, app: str, input_bytes: int):
        """The run's only Spark session. Every file Spark, the JVM and the
        Python workers write goes below the run's scratch directory; the
        event log is on only in a traced run."""
        for d in ("local", "tmp", "warehouse", "events"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from crossbar_data_process_spark import get_spark
        from pyspark import SparkContext

        self.spark = get_spark(
            app_name=f"crossbench-{app}", input_bytes=input_bytes, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = getattr(SparkContext._gateway, "proc", None)
        self.check_single_jvm("session start")
        return self.spark

    def check_single_jvm(self, when: str) -> None:
        jvms = [p for p, (c, _t) in descendants().items() if c == "java"]
        if len(jvms) != 1:
            self.hygiene.append(f"{len(jvms)} JVMs running at {when}")

    def event_log_path(self) -> str:
        files = [
            f for f in os.listdir(self.path("events")) if not f.startswith(".")
        ]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log, found {files}")
        return self.path("events", files[0])

    # ------------------------------------------------------------- memory
    def mark_memory(self) -> None:
        """Record the driver JVM's live memory: heap after a full GC plus
        non-heap in use. Called after each write, never inside a timed
        operation. Lazily grown RSS of a large heap says how much the JVM
        has touched, not how much the work needs; live memory repeats.

        Two collections: the first one lets Spark's context cleaner see
        the operation's dead broadcasts and shuffles, which it frees on
        its own thread; the second one then finds their blocks
        unreachable. One collection alone reads either the
        before or the after state, depending on the cleaner's timing."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = int(mx.getHeapMemoryUsage().getUsed())
        nonheap = int(mx.getNonHeapMemoryUsage().getUsed())
        self.jvm_marks.append((heap, nonheap))
        self.jvm_peak_bytes = max(self.jvm_peak_bytes, heap + nonheap)

    def peak_mem_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
        return (self.jvm_peak_bytes + py) / MiB

    # ------------------------------------------------------------ teardown
    def stop_spark(self) -> None:
        """Stop Spark and end the driver JVM; the event log is complete
        afterwards."""
        from pyspark import SparkContext

        # Python workers hang off the JVM and are re-parented when it
        # exits, so take the census of everything this run started first
        self._started = descendants()
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
                proc = self._gateway_proc
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        self.hygiene.append("driver JVM did not exit")
                        proc.kill()
                        proc.wait(timeout=10)

    def cleanup(self) -> None:
        """Wait until every process the run started has exited, then
        remove the scratch directory. Anything still running after the
        grace period is killed and reported as a hygiene failure."""
        if self.spark is not None or self._started is None:
            self.stop_spark()
        started = self._started
        deadline = time.monotonic() + 20
        started.update(descendants())
        left = still_alive(started)
        while left and time.monotonic() < deadline:
            time.sleep(0.2)
            left = still_alive(started)
        if left:
            self.hygiene.append(f"processes outlived the run: {left}")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass
