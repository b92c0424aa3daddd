"""Measurement from outside the engine: runner capture, Spark's job and
task counters, the event log, process-tree memory and a CPU probe."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

from gelly_partitioning_spark.superstep import SuperstepRunner


class RunnerCapture:
    """Collect every ``SuperstepRunner`` the engine creates inside a block.

    The algorithms build their runner internally (and CC skips its
    single-task rung when a caller passes one), so the benchmark wraps the
    class constructor instead of passing runners in.
    """

    def __init__(self):
        self.runners: list[SuperstepRunner] = []
        self._orig = None

    def __enter__(self):
        self.runners = []
        orig = self._orig = SuperstepRunner.__init__

        def init(runner, *a, **k):
            orig(runner, *a, **k)
            self.runners.append(runner)

        SuperstepRunner.__init__ = init
        return self

    def __exit__(self, *exc):
        SuperstepRunner.__init__ = self._orig
        return False

    def loop_stats(self) -> dict:
        """supersteps, batches, loop wall and the median per-superstep wall
        over batches after the first (the first carries plan/JIT cost)."""
        metrics = [m for r in self.runners for m in r.metrics]
        per = []
        for r in self.runners:
            prev = 0
            for m in r.metrics:
                per.append(m.wall_sec / max(1, m.superstep - prev))
                prev = m.superstep
        tail = per[1:] or per
        return {
            "supersteps": max((m.superstep for m in metrics), default=0),
            "batches": len(metrics),
            "loop_s": sum(m.wall_sec for m in metrics),
            "superstep_s": statistics.median(tail) if tail else 0.0,
        }


def job_counts(sc, group: str) -> dict:
    """Jobs, executed stages and tasks Spark's status tracker attributes to
    a job group. Stages skipped because their shuffle output was reused
    run no tasks and are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def parse_event_log(log_dir: Path) -> dict:
    """Per job group: shuffle bytes, summed task run time and task skew.

    ``task_skew`` is the largest max/median task run time over the group's
    stages that shuffle, the straggler ratio the Split-Merge kernel exists
    to flatten.
    """
    stage_group: dict[int, str] = {}
    per_stage = defaultdict(list)
    out = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    for f in sorted(log_dir.rglob("events_*")):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    rd = tm.get("Shuffle Read Metrics", {})
                    wr = tm.get("Shuffle Write Metrics", {})
                    read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    written = wr.get("Shuffle Bytes Written", 0)
                    run_s = tm.get("Executor Run Time", 0) / 1000.0
                    g = out[group]
                    g["shuffle_read_bytes"] += read
                    g["shuffle_write_bytes"] += written
                    g["task_busy_s"] += run_s
                    per_stage[(group, ev["Stage ID"])].append((run_s, read + written))
    for (group, _), tasks in per_stage.items():
        times = [t for t, _ in tasks]
        if len(times) > 1 and any(b for _, b in tasks):
            med = statistics.median(times)
            skew = max(times) / med if med > 0 else 1.0
            out[group]["task_skew"] = max(out[group]["task_skew"], skew)
    return {g: dict(v) for g, v in out.items()}


def _tree_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM PySpark launched and wait until it and
    every process below it (the Python worker daemon) have exited."""
    from pyspark import SparkContext

    pids = _tree_pids(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Sum over the process tree (driver Python, JVM, Python workers) of
    each process's kernel-recorded peak resident set, sampled while the
    benchmark runs so processes that exit early still count."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        for pid in _tree_pids(os.getpid()):
            self.peaks[pid] = max(self.peaks.get(pid, 0), _hwm_kb(pid))

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self):
        self._thread.start()
        return self

    def stop_mb(self) -> float:
        self._sample()
        self._stop.set()
        self._thread.join(timeout=10)
        return sum(self.peaks.values()) / 1024.0


def probe_machine(iters: int = 3_000_000) -> float:
    """Seconds for a fixed single-core integer loop: a reading of the
    machine's speed in this window, recorded beside the metrics."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0
