"""Run plumbing shared by the workloads: the run context, the Spark session
and its status tracker, spans, and process memory.

Everything is measured from outside the program: spans wrap calls into the
package's public functions, job and task counts come from Spark's public
status tracker, and memory from ``/proc``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import Span

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def prepare_env(work: str) -> None:
    """Point every scratch path of Spark, the JVM and Python workers into
    the run's work directory, before the JVM starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if traced:  # keep every job's record for the per-layer counts
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


@dataclass
class Tracer:
    """In-memory spans around layer calls.

    Disabled, every method is a no-op, so untraced runs pay nothing but a
    function call. Enabled, a span can also own a Spark job group, whose
    jobs and tasks are counted from the status tracker when the run ends.
    """

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _groups: list[tuple[str, str]] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _next: int = 0
    _patches: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str, request: str | None = None, sc=None,
             parent: int | None = None):
        """Time ``name`` and yield its span id. The parent is the caller's
        open span on this thread unless ``parent`` names one on another
        thread. With ``sc`` the span's Spark jobs form their own job group,
        counted later under ``name``."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        prev_group = None
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"pb-{sid}", name)
            self._groups.append((f"pb-{sid}", name))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if sc is not None:
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev_group, prev_group)
            with self._lock:
                self.spans.append(Span(name, start, end, sid, parent, request))
                self.bookkeeping_s += (start - t0) + (time.perf_counter() - end)

    def patch(self, module, attr: str, replacement) -> None:
        """Swap ``module.attr`` for ``replacement`` until :meth:`restore`."""
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def wrap(self, module, attr: str, name: str, sc=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper until
        :meth:`restore`. No-op when disabled."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name, sc=sc):
                return orig(*args, **kwargs)

        self.patch(module, attr, spanned)

    def wrap_everywhere(self, func, name: str) -> None:
        """Wrap ``func`` in every loaded package module that imported it
        by name (``from ... import func``)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("realtime_datawarehouse_spark") and getattr(
                mod, func.__name__, None
            ) is func:
                self.wrap(mod, func.__name__, name)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def job_counts(self, sc) -> dict[str, dict[str, int]]:
        """{span name: {"jobs", "tasks"}} summed over that name's groups."""
        out: dict[str, dict[str, int]] = {}
        if not self._groups:
            return out
        tracker = sc.statusTracker()
        time.sleep(0.5)  # let the listener bus deliver the last job ends
        for group, name in self._groups:
            agg = out.setdefault(name, {"jobs": 0, "tasks": 0})
            for jid in tracker.getJobIdsForGroup(group):
                agg["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        agg["tasks"] += st.numCompletedTasks
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@dataclass
class Run:
    """What a workload gets: its arguments, scratch space and tracer."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    work: str
    tracer: Tracer
    spark: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds


def new_run(workload: str, seed: int, seconds: float, traced: bool) -> Run:
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return Run(workload, seed, seconds, traced, work, Tracer(traced))


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's _SUCCESS and
    hidden checksum files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()
