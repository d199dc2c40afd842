"""Measurement plumbing that reads the engine from outside the package.

Everything here observes ``crawlers_spark`` without editing it: the
SparkContext job counter, Spark's JSON event log, the process table under
``/proc`` and the files a checkpoint leaves on disk. Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    first_job: int
    last_job: int  # exclusive
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder around calls into the package's layers.

    ``jobs`` is a callable returning the SparkContext's next job id, so
    every span also knows which Spark jobs ran inside it.
    """

    def __init__(self, run_id: str, jobs):
        self.run_id = run_id
        self._jobs = jobs
        self._stack: list[str] = []
        self.spans: list[Span] = []

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.parent = tracer._stack[-1] if tracer._stack else None
                tracer._stack.append(name)
                self.first_job = tracer._jobs()
                self.start = time.monotonic()
                self.counts: dict = {}
                return self.counts

            def __exit__(self, *exc):
                end = time.monotonic()
                tracer._stack.pop()
                tracer.spans.append(Span(
                    name, self.start, end, self.parent, tracer.run_id,
                    self.first_job, tracer._jobs(), self.counts,
                ))
                return False

        return _Ctx()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id,
                    "jobs": [s.first_job, s.last_job], "counts": s.counts,
                }) + "\n")


# ------------------------------------------------------- spark counters


def job_counter(spark):
    """Callable returning the next Spark job id (jobs run so far)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def next_job_id() -> int:
        v = dag.nextJobId()
        # an AtomicInteger on some Spark builds, a plain int on others
        return int(v.get()) if hasattr(v, "get") else int(v)

    return next_job_id


class EventLog:
    """Per-job task metrics parsed from Spark's uncompressed JSON event log."""

    CONF = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }

    def __init__(self, path: str):
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    for s in e["Stage IDs"]:
                        self.stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    job = self.stage_job.get(e["Stage ID"])
                    if job is not None:
                        self.tasks.setdefault(job, []).append(e)

    @staticmethod
    def find(log_dir: str) -> str:
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
                 if not f.endswith(".inprogress")]
        return max(files, key=os.path.getmtime)

    def totals(self, first_job: int, last_job: int) -> dict:
        """Summed task metrics over jobs ``first_job <= id < last_job``."""
        out = dict(tasks=0, shuffle_bytes=0, spill_bytes=0, gc_ms=0,
                   python_run_ms=0)
        for job in range(first_job, last_job):
            for e in self.tasks.get(job, []):
                m = e.get("Task Metrics") or {}
                out["tasks"] += 1
                out["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                out["gc_ms"] += m.get("JVM GC Time", 0)
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Name") == "time to run Python workers":
                        out["python_run_ms"] += int(a.get("Update", 0))
        return out


# ------------------------------------------------------------ processes


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every readable process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        table[int(d)] = int(stat[stat.rfind(")") + 2:].split()[1])
    return table


def _pss(pid: int) -> int:
    """Proportional set size in bytes: RSS with each shared page split
    between the processes sharing it, so a sum over the forked Python
    workers does not count their common pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory(root: int) -> int:
    """Summed PSS of ``root`` and all its descendants (this process, the JVM, the Python workers)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss(pid)
        todo.extend(children.get(pid, []))
    return total


def _start_time(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2:].split()[19]


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched and every process under it
    (the Python worker daemon and its workers), and wait until all have
    exited. ``SparkSession.stop`` stops the context but leaves the JVM
    running until this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    children: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    started, todo = {}, [proc.pid]
    while todo:
        pid = todo.pop()
        started[pid] = _start_time(pid)
        todo.extend(children.get(pid, []))
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF on its stdin
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the workers were re-parented when the JVM exited; wait for them by
    # pid and start time, so a recycled pid is not mistaken for one
    deadline = time.monotonic() + timeout_s
    alive = [p for p, t in started.items() if t is not None and _start_time(p) == t]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _start_time(p) == started[p]]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class RssSampler:
    """Background thread sampling the process tree's summed resident memory."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------- on disk


def walk_dir(path: str) -> tuple[int, int]:
    """(file count, byte count) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# ----------------------------------------------------------- run record


def environment(spark) -> dict:
    """What a reader needs to compare two runs: host, versions, confs."""
    import pyarrow
    import pyspark

    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch", "spark.driver.memory",
        "spark.io.compression.codec", "spark.local.dir",
    )
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java,
        "spark_conf": {k: spark.conf.get(k, conf.get(k, None)) for k in keys},
    }
