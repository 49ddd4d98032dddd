"""Measurement plumbing: spans with Spark job groups, the event-log fold,
process memory and the host fingerprint.

Everything here observes the engine from outside. A span sets the Spark
job group for its duration, so every job the engine launches inside it is
attributed to the innermost open span; after the session stops, the event
log is folded per job group into task metrics.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import sys
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"

# SQL metric names Spark gives the Python evaluation nodes (Arrow and
# batch), as they appear in a task's accumulables.
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}
GROUP_FIELDS = (
    "jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "peak_exec_mem_bytes", *PYTHON_ACCUMULABLES.values(),
)


class Tracer:
    """Records spans around calls into the engine's layers.

    ``span(layer, group)`` sets the Spark job group to ``group`` (default:
    the layer name) while the block runs and restores the enclosing one
    afterwards. A span's self time is its duration minus the time its
    child spans cover.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.group_layer: dict[str, str] = {}
        self.prefix = ""  # prepended to job group IDs, e.g. per iteration
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, group: str | None = None):
        group = group or layer
        self.group_layer[group] = layer
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, self.prefix + group)
        rec = {"layer": layer, "group": group, "child_s": 0.0, "start": time.perf_counter()}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - rec["start"]
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += rec["dur_s"]
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.spans.append(rec)

    @property
    def depth(self) -> int:
        """Number of spans open now."""
        return len(self._stack)


@contextmanager
def no_span(layer: str, group: str | None = None):
    yield {}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job count and summed task metrics, plus the task
    skew (max / median task run time) of the group's busiest stage.

    Every application (each SparkContext) numbers its stages from 0, so a
    stage is keyed by its application's log directory and its ID."""
    stage_group: dict[tuple, str] = {}
    groups: dict[str, dict] = {}
    stage_runs: dict[tuple, list[int]] = {}

    def rec(g):
        if g not in groups:
            groups[g] = {k: 0 for k in GROUP_FIELDS}
        return groups[g]

    for path in event_log_files(log_dir):
        app = os.path.dirname(path)
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = job_group(ev)
                    rec(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((app, sid), g)
                elif kind == "SparkListenerTaskEnd":
                    sid = (app, ev["Stage ID"])
                    r = rec(stage_group.get(sid, "(none)"))
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    r["tasks"] += 1
                    r["failed_tasks"] += bool(info.get("Failed"))
                    run_ms = m.get("Executor Run Time", 0)
                    stage_runs.setdefault(sid, []).append(run_ms)
                    r["executor_run_s"] += run_ms / 1e3
                    r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    r["peak_exec_mem_bytes"] = max(
                        r["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                    )
                    for acc in info.get("Accumulables", []):
                        key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                        if key and acc.get("Update") is not None:
                            v = float(acc["Update"])
                            # the time metrics are milliseconds
                            r[key] += v / 1e3 if key.endswith("_s") else v
    for g, r in groups.items():
        sids = [s for s, gg in stage_group.items() if gg == g and stage_runs.get(s)]
        busiest = max(sids, key=lambda s: sum(stage_runs[s]), default=None)
        runs = stage_runs.get(busiest, [])
        med = statistics.median(runs) if runs else 0
        r["task_skew"] = max(runs) / med if med else 1.0
    return groups


def event_log_files(log_dir: str) -> list[str]:
    """Spark 4 writes each application's log as a directory of rolled
    ``events_*`` files."""
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    # events_<n>_<appId>: read each application's files in roll order
    return sorted(paths, key=lambda p: (os.path.dirname(p),
                                        int(os.path.basename(p).split("_")[1])))


def job_group(job_start: dict) -> str:
    return (job_start.get("Properties") or {}).get(GROUP_KEY) or "(none)"


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class RssSampler:
    """Peak summed resident memory of this process's descendants: the
    driver JVM and the Python workers it forks."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(os.getpid()))
            self._stop.wait(self.interval_s)


def descendants(root_pid: int) -> dict[int, int]:
    """Resident kB of every process descending from ``root_pid``."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status", encoding="utf-8") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(fields["PPid"]), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    out, todo = {}, list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return out


def descendants_rss_mb(root_pid: int) -> float:
    return sum(descendants(root_pid).values()) / 1024


def stop_jvm(timeout_s: float = 60) -> None:
    """End the JVM PySpark launched (it exits when its stdin closes) and
    wait until it and the Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="utf-8") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def cpu_reference_s(rounds: int = 200_000) -> float:
    """Seconds for a fixed single-threaded hashing loop (median of three):
    a reading of the host's current speed, so that host drift can be told
    from a change."""
    import hashlib

    times = []
    for _ in range(3):
        h = b"perfbench"
        t0 = time.perf_counter()
        for _ in range(rounds):
            h = hashlib.sha256(h).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def host_fingerprint(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": sys.platform,
    }
