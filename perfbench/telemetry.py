"""What the benchmark records besides wall time: spans, peak RSS, and the
per-job-group task metrics of a Spark event log.

Nothing here touches ``cca_spark``: spans wrap the benchmark's own calls
into the library, RSS is read from ``/proc`` (psutil is not available),
and stage metrics come from the JSON event log Spark writes when
``spark.eventLog.enabled`` is set.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans (name, start, end, parent, run id), written at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.records:
                f.write(json.dumps(rec) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_s(pid: int) -> float:
    """utime + stime of the process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds spent so far by a process tree."""
    return sum(_cpu_s(p) for p in process_tree(root))


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of every CPU, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


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
    """Peak summed RSS of a process tree (the JVM and its Python workers),
    sampled on a background thread between ``start`` and ``stop``;
    ``reset`` reads the peak so far and starts a new one."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in process_tree(self.root_pid))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def reset(self) -> float:
        """Return the peak so far in MB and start a new peak."""
        self.sample()
        peak, self.peak_kb = self.peak_kb, 0
        return peak / 1024.0

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# SQL metrics of the Python-UDF operators (mapInPandas / mapInArrow)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def group_metrics(event_log_dir: str) -> dict[str, dict]:
    """Task metrics per job group, from every event log under the directory.

    Returns ``{group: {jobs, tasks, failed_tasks, cpu_s, gc_s, fetch_wait_s,
    shuffle_write_bytes, spill_bytes, task_skew, python_bytes_in,
    python_bytes_out}}``. ``task_skew`` is the largest max/median task run
    time over the group's stages that ran at least two tasks."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stage_tasks: dict[int, list[float]] = {}
    acc: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return acc.setdefault(
            group,
            {
                "tasks": 0,
                "failed_tasks": 0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "fetch_wait_s": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "python_bytes_in": 0,
                "python_bytes_out": 0,
            },
        )

    # Spark 4 writes rolling logs: a directory of ``events_<n>_<app>`` files
    paths = sorted(
        os.path.join(d, name)
        for d, _, names in os.walk(event_log_dir)
        for name in names
        if not name.startswith((".", "appstatus"))  # .crc checksums, status marker
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        # a stage reused (skipped) by a later job ran under the first
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    b = bucket(group)
                    info = ev.get("Task Info", {})
                    b["tasks"] += 1
                    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                        b["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    b["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
                    b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    stage_tasks.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
                    for a in info.get("Accumulables", []):
                        if a.get("Name") == PY_SENT:
                            b["python_bytes_in"] += int(a.get("Update", 0))
                        elif a.get("Name") == PY_RETURNED:
                            b["python_bytes_out"] += int(a.get("Update", 0))

    for group, b in acc.items():
        b["jobs"] = jobs.get(group, 0)
        skews = [
            max(ts) / max(statistics.median(ts), 1.0)
            for sid, ts in stage_tasks.items()
            if stage_group.get(sid) == group and len(ts) >= 2
        ]
        b["task_skew"] = max(skews, default=1.0)
    for group, n in jobs.items():
        if group not in acc:
            bucket(group).update(jobs=n, task_skew=1.0)
    return acc
