"""Measurement helpers: layer spans, Spark job attribution, event-log replay,
and peak-memory sampling.

A span wraps one call into an engine layer from the benchmark's own code. In
a traced run it tags the Spark jobs the call launches with the job group
``bench/<workload>/<layer>`` and counts them through ``statusTracker``; in an
untraced run it does nothing at all, so the end-to-end numbers are measured
without it. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def span(self, layer: str):
        """Time one layer call; yields the span record (or None untraced)."""
        if not self.enabled:
            yield None
            return
        group = f"bench/{self.workload}/{layer}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "start_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        before = self._group_jobs(group)
        self.sc.setJobGroup(group, f"{group} span={rec['id']}")
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(
                    f"bench/{self.workload}/{parent['layer']}",
                    f"bench/{self.workload}/{parent['layer']} span={parent['id']}",
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs = sorted(self._group_jobs(group) - before)
            tracker = self.sc.statusTracker()
            stages = [s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds]
            rec["jobs"] = len(jobs)
            rec["stages"] = len(stages)
            rec["tasks"] = sum(
                info.numTasks for s in stages if (info := tracker.getStageInfo(s))
            )

    def seconds(self, layer: str) -> list[float]:
        return [s["seconds"] for s in self.spans if s["layer"] == layer]

    def total(self, layer: str) -> float:
        return float(sum(self.seconds(layer)))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def replay_event_log(path: str, since_ms: float, until_ms: float, group_prefix: str) -> dict:
    """Task and job totals for the jobs submitted in [since_ms, until_ms]
    whose job group starts with ``group_prefix`` (so the jobs of the
    benchmark's own correctness checks, which run outside any span, are left
    out), and the submission times of every job in the log.

    Reads the plain-text JSON event log Spark writes when
    ``spark.eventLog.enabled`` is on (compression and rolling off).
    """
    jobs: dict[int, set[int]] = {}
    job_submit: list[float] = []
    stage_of: dict[int, int] = {}
    tasks = failed = 0
    run_ms = gc_ms = shuffle_bytes = spill_bytes = 0
    slowest_ms = 0
    task_events = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job_submit.append(ev["Submission Time"])
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if since_ms <= ev["Submission Time"] <= until_ms and group.startswith(group_prefix):
                    jobs[ev["Job ID"]] = set(ev["Stage IDs"])
                    for s in ev["Stage IDs"]:
                        stage_of[s] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                task_events.append(ev)
    for ev in task_events:
        if ev["Stage ID"] not in stage_of:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        tasks += 1
        failed += bool(info.get("Failed"))
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        slowest_ms = max(slowest_ms, info["Finish Time"] - info["Launch Time"])
    return {
        "jobs": len(jobs),
        "job_submit_ms": job_submit,
        "tasks": tasks,
        "failed_tasks": failed,
        "executor_run_s": run_ms / 1000.0,
        "shuffle_write_mb": shuffle_bytes / 1e6,
        "spill_mb": spill_bytes / 1e6,
        "gc_s": gc_ms / 1000.0,
        "slowest_task_s": slowest_ms / 1000.0,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once, split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak summed PSS of a process and all its descendants, sampled from
    /proc on a background thread (the driver JVM and its Python workers)."""

    def __init__(self, root_pid: int, interval_s: float = 0.1) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids = _children_map()
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
