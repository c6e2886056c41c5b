"""Run isolation, host-sized session, spans and RSS sampling.

``isolate()`` must run before pyspark is imported: it points every
on-disk location the engine or Spark writes to (warehouse, local dirs,
standing-index cache, temp files) under a fresh per-run root inside the
benchmark's own directory, and sizes the session through the package's
existing environment knobs only (SPARK_GRAFT_CPUS,
SPARK_GRAFT_DRIVER_MEM). ``Session`` owns the one JVM of a run and can
stop and re-create the SparkContext in it, with the event log on or
off, without a second JVM.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
PACKAGE = "dbt_datbricks_demo_spark"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of host memory, clamped to [1 GB, 8 GB]: local[N] runs
    every task in the driver heap, and the machine is shared."""
    return max(1024, min(8192, host_mem_mb() // 4))


def isolate() -> str:
    """Create the run's temp root and point the environment at it."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise FileNotFoundError(f"package {PACKAGE}/ not found under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "local", "cache", "warehouse", "data", "events"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(host_cores()),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
            "SPARK_GRAFT_CACHE_DIR": os.path.join(tmp, "cache"),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": os.path.join(tmp, "tmp"),
            # the JVM spark-submit runs to build the driver's command line
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return tmp


def cleanup(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(WORK)
    except OSError:
        pass


class Session:
    """The run's SparkSession. ``start()`` creates it (the first call
    also launches the JVM); ``stop()`` stops the SparkContext but keeps
    the JVM; ``shutdown()`` ends the JVM and waits for it."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.event_log = False  # takes effect at the next start()
        self.spark = None

    def conf(self) -> dict[str, str]:
        tmp = self.tmp
        conf = {
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # -XX:-UsePerfData: no /tmp/hsperfdata_* file, so the run
            # writes nothing outside its root
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # Tracer looks jobs up by id in the status store; keep every
            # job of a run there
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if self.event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file:" + os.path.join(tmp, "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self):
        from dbt_datbricks_demo_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:  # the JVM may already be gone
            pass
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    gateway JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, IndexError, ValueError):
                continue
        total, todo, seen = 0, [root], set()
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Spans set by the benchmark around each call into a layer.

    Each span runs under its own Spark job group and description, so
    the jobs it launches are named in the event log. Which jobs a span
    launched is decided by job id: one client runs one call at a time,
    and a SparkContext numbers its jobs consecutively, so the span owns
    every job id that StatusTracker first reports between its start and
    its end. That also covers jobs from threads the package starts
    itself (the test runner's pool, a streaming query's micro-batches),
    which do not inherit the caller's job group, and it works with the
    event log off.

    The benchmark's own work inside a pass (correctness checks, clean-up)
    runs in spans of layer ``bench``; their jobs and wall time are left
    out of the pass's figures."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        # StatusTracker learns of a job from the listener bus, which runs
        # behind the scheduler: drained at every span boundary, so a job
        # is not seen late and handed to the next span
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_job = 0

    def _advance(self) -> int:
        self._bus.waitUntilEmpty()
        while self.tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        return self._next_job

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        first = self._advance()
        self.sc.setJobGroup(f"pb{sid}", name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"pb{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"] = list(range(first, self._advance()))

    def jobs_in(self, spans: list[dict]) -> int:
        """Jobs the program launched under the given spans: the jobs of
        the benchmark's own checks (spans of layer ``bench``) are not
        counted."""
        bench = {j for s in self.spans if s["layer"] == "bench" for j in s.get("jobs", ())}
        return len({j for s in spans for j in s.get("jobs", ())} - bench)
