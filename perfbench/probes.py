"""Measurement probes taken from outside the engine: spans around the
benchmark's own calls, host CPU counters, process memory, and Spark
stage metrics read from the driver's status API."""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written once, when the benchmark ends.

    A span has a name, start, end, parent span and the id of the run it
    belongs to. When disabled, ``span`` records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.run_id: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def per_run_totals(self, name: str) -> list[float]:
        """Sum of ``name`` spans within each run, one value per run."""
        totals: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name:
                totals[s["run"]] = totals.get(s["run"], 0.0) + s["end"] - s["start"]
        return list(totals.values())

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self_t = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": self_t[s["id"]]}) + "\n")


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_pcts(before: list[int], after: list[int]) -> tuple[float, float]:
    """(steal %, idle %) of all CPU time between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return 100.0 * d[7] / total, 100.0 * (d[3] + d[4]) / total


def peak_rss_mb(jvm_pid: int, cores: int) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus its ``cores + 1`` largest
    descendants: the Python worker daemon and one worker per core.

    Idle Python workers come and go with task timing, so counting every
    descendant would make the figure depend on how many happen to be
    alive rather than on how much memory the engine needs."""
    peaks = [_vm_hwm_kib(pid) for pid in descendants(jvm_pid)]
    top = sorted(peaks, reverse=True)[: cores + 1]
    return (_vm_hwm_kib(jvm_pid) + sum(top)) / 1024.0


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        out.append(pid)
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until each of ``pids`` has ended; raise after ``timeout`` s.
    A zombie has ended: only its parent's wait is missing."""
    deadline = time.monotonic() + timeout
    while any(_running(pid) for pid in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {pids}")
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class SparkStats:
    """Per-run Spark stage metrics. Each run's jobs carry one job group,
    so the metrics of a run belong to that run alone."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        """Stage metrics summed over every job of ``group``; waits until
        the status store has recorded the end of each job."""
        self.sc.setJobGroup("", "")
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.02)
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        skew = 1.0
        for s in stages:
            if s["numCompleteTasks"] < 2:
                continue
            q = self._get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                skew = max(skew, q[1] / q[0])
        tot = lambda k: sum(s.get(k, 0) for s in stages)  # noqa: E731
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.shuffle_write_bytes": tot("shuffleWriteBytes"),
            "spark.shuffle_read_bytes": tot("shuffleReadBytes"),
            "spark.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "spark.task_skew": skew,
            "spark.executor_run_s": tot("executorRunTime") / 1e3,
            "spark.executor_cpu_s": tot("executorCpuTime") / 1e9,
            "spark.gc_s": tot("jvmGcTime") / 1e3,
            "spark.input_bytes": tot("inputBytes"),
        }


def median_by_key(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}
