"""Measurement helpers: host stamps, /proc process-tree sampling, spans,
and the Spark event-log rollup of task metrics per span.

psutil is not installed, so memory and CPU come straight from /proc.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
CANARY_S = 0.3       # length of the CPU canary
RSS_INTERVAL = 0.25  # seconds between memory samples


# -- host stamps --------------------------------------------------------------

def read_steal() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / dt, 3) if dt > 0 else 0.0


def cpu_canary() -> float:
    """Single-core busy-loop rate (iterations/s): an outside signal of host
    speed, taken before the measurement it tags."""
    t0 = time.perf_counter()
    iters = 0
    while time.perf_counter() - t0 < CANARY_S:
        x = 0
        for i in range(2000):
            x += i * i
        iters += 1
    return round(iters / (time.perf_counter() - t0), 1)


def tree_digest(base: str, suffixes: tuple[str, ...] | None = None) -> str:
    """sha256 over the names and bytes of the files under ``base`` (only
    those ending in one of ``suffixes``, when given)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(base)):
        dirs.sort()
        for f in sorted(files):
            if suffixes is None or f.endswith(suffixes):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_rev(root: str) -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def stamps(root: str, threads: int) -> dict:
    import pyspark

    from deepex_spark.kernel._cnative import load_cbeam

    return {
        "threads": threads,
        "nproc": os.cpu_count(),
        "git_rev": git_rev(root),
        # the revision stamp that works in a checkout without git metadata
        "src_digest": tree_digest(os.path.join(root, "deepex_spark"), (".py", ".c")),
        "pyspark": pyspark.__version__,
        "cbeam_loaded": load_cbeam() is not None,
        "cpu_canary_ips": cpu_canary(),
    }


# -- /proc process tree ---------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(skip: int | None = None) -> list[int]:
    """This process and all its descendants (driver, JVM, Python workers),
    leaving out the subtree of process ``skip``."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        if p == skip:
            continue
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss(skip: int) -> dict[str, int]:
    """Proportional resident bytes (PSS) of every process in the tree but
    ``skip``'s subtree, keyed "pid:command". PSS splits a shared page
    between its sharers, so a child caught between fork and exec does not
    count the JVM twice."""
    out = {}
    for p in tree_pids(skip):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f"{p}:{f.read().strip()}"
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[name] = pss * 1024
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the process tree, reaped children included, so
    work done by Python workers that have since exited still counts."""
    ticks = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


class RssSampler:
    """Background thread recording the peak summed resident memory of the
    tree, less the subtree of process ``skip`` (the check reference), and
    each process's share at that peak (MB)."""

    def __init__(self, skip: int):
        self.skip = skip
        self.peak = 0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        procs = tree_rss(self.skip)
        total = sum(procs.values())
        if total > self.peak:
            self.peak = total
            self.peak_by_process = {k: round(v / 2**20, 1) for k, v in procs.items()}

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# -- spans ----------------------------------------------------------------------

class Tracer:
    """Spans recorded from the benchmark's own code around calls into the
    program's layers. Each span sets a Spark job group, so the event log's
    task metrics can be rolled up per span afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        span = {"id": sid, "name": name, "group": f"span-{sid}",
                "parent": self._stack[-1] if self._stack else None}
        self.spans.append(span)
        self._stack.append(sid)
        self.sc.setJobGroup(span["group"], name)
        cpu0, span["start"] = tree_cpu_s(), time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            span["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup("untraced", "outside every span")

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover
        (children run sequentially, inside their parent)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


# -- event log --------------------------------------------------------------------

def task_metrics_by_group(event_dir: str) -> dict[str, dict]:
    """Roll ``SparkListenerTaskEnd`` metrics up per job group from the
    uncompressed, non-rolling event log(s) under ``event_dir``."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for st in ev.get("Stage IDs", []):
                            stage_group[st] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    tasks.setdefault(group, []).append({
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    out = {}
    for group, ts in tasks.items():
        by_stage: dict[int, list[float]] = {}
        for t in ts:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        # skew of the stage that holds most task time: max / median task
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        out[group] = {
            "tasks": len(ts),
            "task_s": sum(t["run_s"] for t in ts),
            "jvm_cpu_s": sum(t["cpu_s"] for t in ts),
            "gc_s": sum(t["gc_s"] for t in ts),
            "shuffle_bytes": sum(t["shuffle_write"] for t in ts),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "task_skew": max(heavy) / med if med > 0 else 1.0,
        }
    return out
