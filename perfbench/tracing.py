"""Tracing and host bookkeeping for the benchmark: spans kept in memory,
Spark stage metrics from the UI's REST API, a /proc RSS sampler and the
host stamp every result carries."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans ``(id, name, parent, start, end)`` recorded around calls into
    the program's layers; kept in memory and written out at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cmd_out(cmd: list[str]) -> str | None:
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (p.stdout + p.stderr).strip() or None


def host_stamp(root: str) -> dict:
    """Where a result came from. Results whose ``cores`` differ are never
    compared (see ``compare.py``)."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    java = _cmd_out(["java", "-version"])
    commit = _cmd_out(["git", "-C", root, "rev-parse", "HEAD"])
    return {
        "cores": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "java": next((l for l in (java or "").splitlines() if not l.startswith("Picked up")), None),
        "python": platform.python_version(),
        # the benchmark also runs from exported trees that are not git checkouts
        "git_commit": commit if commit and len(commit) == 40 else None,
    }


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many threads)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``: its children, theirs, and so on."""
    out: list[int] = []
    todo = _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo.extend(_children(child))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of every process below this one (the Spark JVM and the
    Python workers it forks), sampled from /proc every ``period`` seconds.
    ``peak_kb_by_kind`` splits the peak by executable (java, python)."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self.peak_kb_by_kind: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_kind: dict[str, int] = {}
            for pid in descendants(me):
                kind = "java" if _comm(pid) == "java" else "python"
                by_kind[kind] = by_kind.get(kind, 0) + _rss_kb(pid)
            total = sum(by_kind.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_kb_by_kind = total, by_kind
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class StageLog:
    """Completed Spark stages, read from the UI's REST API
    (``spark.ui.enabled`` must be on; traced runs only)."""

    def __init__(self, ui_base: str):
        self.base = ui_base.rstrip("/")
        with urllib.request.urlopen(f"{self.base}/api/v1/applications", timeout=10) as r:
            self.app = json.load(r)[0]["id"]
        self.seen: set[tuple[int, int]] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/api/v1/applications/{self.app}/{path}", timeout=10) as r:
            return json.load(r)

    def mark(self) -> None:
        """Forget every stage completed so far."""
        self.seen |= {(s["stageId"], s["attemptId"]) for s in self._get("stages?status=complete")}

    def new_stages(self) -> list[dict]:
        """Stages completed since the last ``mark``/``new_stages``, in stage order,
        each with the median and max task run time in ms."""
        deadline = time.time() + 5
        # the status store lags the job's end by a few listener events
        while True:
            stages = [s for s in self._get("stages?status=complete")
                      if (s["stageId"], s["attemptId"]) not in self.seen]
            active = self._get("stages?status=active")
            if not active or time.time() > deadline:
                break
            time.sleep(0.1)
        stages.sort(key=lambda s: s["stageId"])
        for s in stages:
            self.seen.add((s["stageId"], s["attemptId"]))
            q = self._get(f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
            s["task_run_ms_p50"], s["task_run_ms_max"] = q.get("executorRunTime", [0.0, 0.0])
        return stages


def stage_metrics(stages: list[dict]) -> dict[str, float]:
    """The ``spark.*`` layer metrics over one traced call's stages.

    python residue = task run time not spent in JVM CPU, GC, shuffle fetch
    wait or shuffle write: Python workers, Arrow conversion and I/O waits.
    The window stage is the first stage of the call that reads a shuffle
    (in the extraction plan: the conv_id window, which also writes the
    salted exchange); the kernel stage is the stage with the largest
    python residue. Skew is max over median task run time. GC time comes
    from ``jvm_gc_ms`` instead: task GC time misses GC outside tasks."""
    def residue(s: dict) -> float:
        return max(0.0, s.get("executorRunTime", 0) - s.get("executorCpuTime", 0) / 1e6
                   - s.get("jvmGcTime", 0) - s.get("shuffleFetchWaitTime", 0)
                   - s.get("shuffleWriteTime", 0) / 1e6)

    def skew(s: dict | None) -> float:
        if not s or not s["task_run_ms_p50"]:
            return 1.0
        return s["task_run_ms_max"] / s["task_run_ms_p50"]

    mb = 2.0**20
    readers = [s for s in stages if s.get("shuffleReadBytes", 0) > 0]
    return {
        "spark.shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / mb,
        "spark.shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / mb,
        "spark.spill_mb": sum(s.get("diskBytesSpilled", 0) + s.get("memoryBytesSpilled", 0)
                              for s in stages) / mb,
        "spark.python_residue_ms": sum(residue(s) for s in stages),
        "spark.window_task_skew": skew(readers[0] if readers else None),
        "spark.kernel_task_skew": skew(max(stages, key=residue) if stages else None),
    }


def jvm_gc_ms(spark) -> float:
    """Total collection time of every garbage collector in the Spark JVM."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))
