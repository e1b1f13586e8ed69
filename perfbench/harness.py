"""Measurement plumbing shared by the workloads: process environment,
peak memory sampling, spans and their self times, and readers for the
engine's public progress and status APIs.

Everything here observes the program from outside: it times calls into
the program, reads ``StreamingQueryProgress`` and the status tracker,
and reads JVM counters over the existing gateway. It sets no engine
configuration; the one environment variable it sets that steers the
engine, SPARK_LOCAL_DIRS, is explained in ``prepare_env``.
"""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import threading
import time
from datetime import datetime


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started: uptime minus the start tick
    from /proc, both on the boot clock (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(root: str, work: str) -> None:
    """Size the session and make the program importable by Python
    workers. SPARK_GRAFT_CPUS is the program's own sizing knob.
    SPARK_LOCAL_DIRS is not the program's: it moves the engine's
    scratch space (shuffle files, spilled blocks) from its default, the
    JVM's temp dir, into ``work`` so that a run writes only inside its
    checkout."""
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # Naive timestamps collected in Python render in the process zone;
    # pin it so checks compare UTC with UTC.
    os.environ["TZ"] = "UTC"
    time.tzset()


def _tree(root_pid: int) -> set[int]:
    """This process and all of its descendants."""
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parents[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by this process and its descendants: the JVM and the Python
    workers."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_engine(grace_s: float = 60.0) -> None:
    """Stop the engine this process started and wait until each of its
    processes has ended: the session, the JVM (which exits once its
    stdin closes) and the Python workers under it. A process still
    alive after ``grace_s`` is killed. Does nothing when no engine was
    started."""
    from pyspark import SparkContext

    others = _tree(os.getpid()) - {os.getpid()}
    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline, killed = time.time() + grace_s, False
    while any(_alive(p) for p in others) and time.time() < deadline + 10:
        if time.time() > deadline and not killed:
            for p in others:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            killed = True
        time.sleep(0.05)


class RssSampler:
    """Samples the resident memory of this process and all of its
    descendants (the JVM and the Python workers) every ``interval``
    seconds and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))


class Tracer:
    """In-memory spans: (name, layer, start, end, parent index). With
    ``enabled`` false, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost = 0.0  # seconds spent on tracing itself
        self._stack: list[int] = []

    @contextlib.contextmanager
    def bookkeeping(self):
        """Time work done only because tracing is on, so the traced run
        can report what tracing cost."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **counts):
        """Time a call made from the benchmark's own code; yields the
        span's index. Spans opened inside it become its children."""
        if not self.enabled:
            yield -1
            return
        with self.bookkeeping():
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(
                {"name": name, "layer": layer, "start": time.time(), "end": None, "parent": parent, "counts": counts}
            )
            self._stack.append(idx)
        try:
            yield idx
        finally:
            with self.bookkeeping():
                self._stack.pop()
                self.spans[idx]["end"] = time.time()

    def add(self, name: str, layer: str, start: float, end: float, parent: int, **counts) -> int:
        """Record a span rebuilt after the fact (from engine progress)."""
        if not self.enabled:
            return -1
        self.spans.append(
            {"name": name, "layer": layer, "start": start, "end": end, "parent": parent, "counts": counts}
        )
        return len(self.spans) - 1

    def self_ms_by_layer(self) -> dict[str, float]:
        """Span duration minus the part of it that child spans cover,
        summed per layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["parent"] >= 0:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            own = max(0.0, (s["end"] - s["start"]) - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own * 1000.0
        return out


def gc_ms(spark) -> int:
    """Accumulated JVM garbage-collection time, over JMX."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


def session_conf(spark) -> dict[str, str]:
    """Every SQL conf the session reports; compared before and after a
    workload to prove the benchmark set none."""
    return {r[0]: r[1] for r in spark.sql("SET").collect()}


def epoch(ts: str) -> float:
    """Seconds since the epoch of an ISO-8601 progress timestamp."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_records(query) -> list[dict]:
    """Flatten ``StreamingQueryProgress`` entries of one query into
    plain dicts (batch start/commit epoch, phases, rows, state)."""
    out = []
    for p in query.recentProgress:
        start = epoch(p.timestamp)
        dur = dict(p.durationMs)
        ops = list(p.stateOperators or [])
        out.append(
            {
                "batch": p.batchId,
                "start": start,
                "commit": start + dur.get("triggerExecution", 0) / 1000.0,
                "durations": dur,
                "rows": int(p.numInputRows),
                "state_updates_ms": sum(o.allUpdatesTimeMs for o in ops),
                "state_removals_ms": sum(o.allRemovalsTimeMs for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_rows_total": sum(o.numRowsTotal for o in ops),
                "state_rows_updated": sum(o.numRowsUpdated for o in ops),
                "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_dropped_late": sum(o.numRowsDroppedByWatermark for o in ops),
                "state_instances": sum(o.numStateStoreInstances for o in ops),
            }
        )
    return out


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """Jobs and tasks the status tracker retains for a job group (a
    streaming query runs its jobs under its run id)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for st in info.stageIds if info else []:
            sinfo = tracker.getStageInfo(st)
            tasks += sinfo.numTasks if sinfo else 0
    return len(jobs), tasks


def median(xs) -> float:
    """Median, or 0.0 for no samples (a failed run still reports)."""
    return float(statistics.median(xs)) if xs else 0.0
