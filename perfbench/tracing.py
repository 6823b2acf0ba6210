"""Measurement helpers: spans, Spark event-log task metrics per job group,
process-tree RSS sampling and CPU pinning. Nothing here imports pyspark."""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


class Spans:
    """Named wall-clock intervals of one run, kept in memory and written
    out when the run ends. Every span's parent is the run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def record(self, name: str, start: float, end: float, **extra) -> None:
        self.items.append(
            {"name": name, "start": start, "end": end, "parent": self.run_id, **extra}
        )

    def walls(self, name: str) -> list[float]:
        """Durations of the spans named `name` or `name#<rep>`."""
        return [
            s["end"] - s["start"]
            for s in self.items
            if s["name"] == name or s["name"].startswith(name + "#")
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.items}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark event log -> task metrics per job group
# ---------------------------------------------------------------------------

SUMMED = ("spark_jobs", "core_s", "gc_s", "py_bytes", "shuffle_bytes",
          "bytes_written", "records_read")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _event_files(evdir: str) -> list[str]:
    # Spark writes either one file per app or a rolling directory
    # (eventlog_v2_<app>/events_<n>_<app>); read both shapes.
    return sorted(
        p
        for pat in ("*", "*/events_*")
        for p in glob.glob(os.path.join(evdir, pat))
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )


def group_metrics(evdir: str) -> dict[str, dict]:
    """Per job group: spark_jobs, core_s (task run time), gc_s, py_bytes
    (Arrow bytes to + from Python workers), shuffle_bytes (written),
    bytes_written (output), records_read (input), and the run times of
    the tasks that read shuffle data (for skew)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {"spark_jobs": 0, "core_s": 0.0, "gc_s": 0.0, "py_bytes": 0,
             "shuffle_bytes": 0, "bytes_written": 0, "records_read": 0,
             "reduce_task_s": []},
        )

    for path in _event_files(evdir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut by an unfinished write
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    g(name)["spark_jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, name)
                elif kind == "SparkListenerTaskEnd":
                    m = g(stage_group.get(ev["Stage ID"], "-"))
                    tm = ev.get("Task Metrics") or {}
                    run_s = tm.get("Executor Run Time", 0) / 1000
                    m["core_s"] += run_s
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                    m["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    m["bytes_written"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                    m["records_read"] += (tm.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
                    sr = tm.get("Shuffle Read Metrics") or {}
                    if sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0) > 0:
                        m["reduce_task_s"].append(run_s)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in (PY_SENT, PY_RECV):
                            try:
                                m["py_bytes"] += int(acc.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
    return groups


def skew_x(task_s: list[float]) -> float:
    """Longest task over the median task (1.0 when there is no spread)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 1.0


# ---------------------------------------------------------------------------
# Process tree: RSS sampling and pinning
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process exited while listing
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak of the summed RSS of this process's descendants (the driver
    JVM and its Python workers), sampled every `interval` seconds while
    the context is open."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def pin_tree(cpu: int) -> None:
    """Pin every thread of this process and of all its descendants to one
    CPU. Threads and processes started later inherit the mask."""
    for pid in [os.getpid(), *descendants(os.getpid())]:
        for task in glob.glob(f"/proc/{pid}/task/*"):
            try:
                os.sched_setaffinity(int(os.path.basename(task)), {cpu})
            except OSError:
                pass  # thread exited between listing and pinning


def tree_cpus() -> set[int]:
    """Union of the CPU masks of this process and all its descendants."""
    cpus: set[int] = set()
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            cpus |= os.sched_getaffinity(pid)
        except OSError:
            pass
    return cpus


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


_SPIN = "acc = 0\nfor i in range(1_000_000):\n    acc += i * i % 7\n"


def cpu_probe(procs: int) -> float:
    """Host-speed marker: wall seconds for `procs` fresh interpreters to
    run the same fixed loop at once. On a shared machine this follows both
    per-core speed and contention for the cores, which move the program's
    pass times by up to 1.7x over minutes."""
    t = time.perf_counter()
    spinners = [
        subprocess.Popen([sys.executable, "-S", "-c", _SPIN]) for _ in range(procs)
    ]
    for p in spinners:
        p.wait()
    return time.perf_counter() - t
