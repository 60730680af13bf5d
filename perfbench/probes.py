"""Machine sizing, /proc readers, spans and the Spark event-log fold.

Everything here is read from outside the program: /proc for CPU and memory
of the driver JVM and the Spark Python workers, the SparkContext status
tracker for job counts, and the event log Spark writes when asked to.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------- sizing

def machine() -> dict:
    """Width, heap and host state for the benchmark's Spark session."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # a quarter of the machine, 1-8 GiB: the box is shared and the KG at
    # benchmark size needs far less than the program's 24g default
    heap_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    return {
        "nproc": nproc,
        "width": min(4, nproc),
        "heap": f"{heap_gb}g",
        "mem_total_mb": mem_kb // 1024,
        "loadavg": [float(x) for x in loadavg],
        "steal_ticks": steal_ticks(),
    }


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


# ------------------------------------------------------------- processes

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def python_workers(jvm_pid: int) -> list[int]:
    """Spark Python worker processes under the JVM (daemon forks)."""
    return [p for p in descendants(jvm_pid) if "pyspark" in _cmdline(p)]


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM and its Python workers, including reaped
    children (cutime/cstime), so work done by exited workers still counts."""
    total = 0
    for p in [jvm_pid, *descendants(jvm_pid)]:
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def worker_hwm_mb(jvm_pid: int) -> float:
    return max((_status_kb(p, "VmHWM:") for p in python_workers(jvm_pid)), default=0) / 1024


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS:") / 1024


# ------------------------------------------------------------ statistics

def summary(samples: list[float]) -> dict:
    """Median, quartiles and the highest percentile with >= 10 samples
    beyond it (None when the sample is too small for any)."""
    s = sorted(samples)
    n = len(s)
    out = {"n": n, "median": statistics.median(s), "min": s[0], "max": s[-1]}
    if n >= 4:
        q = statistics.quantiles(s, n=4)
        out["q1"], out["q3"] = q[0], q[2]
    for pct in (99.9, 99, 90):
        if n * (100 - pct) / 100 >= 10:
            out[f"p{pct:g}"] = s[min(n - 1, int(n * pct / 100))]
            break
    return out


# ------------------------------------------------------------------ spans

class Spans:
    """In-memory span recorder: (name, start, end, parent, op id), printed
    with the report at the end of the run. With a SparkContext, a span also
    sets the Spark job group to its name while it is open."""

    def __init__(self, sc=None) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self.sc = sc

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        idx = len(self.rows)
        parent = self._stack[-1] if self._stack else None
        self.rows.append({"name": name, "op": op, "parent": parent, "start": time.time(), "end": None})
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.rows[idx]["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                outer = self.rows[parent]["name"] if parent is not None else "none"
                self.sc.setJobGroup(outer, outer)

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"] == name)


# -------------------------------------------------------------- event log

def fold_event_log(log_dir: str, family=lambda group: group) -> dict[str, dict]:
    """One row per job-group family: tasks, task time p50/max, shuffle
    bytes, spill and GC, from the JSON event log Spark wrote into
    `log_dir`. `family` maps a job group to the row it is folded into."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = family(group) if group else "ungrouped"
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "ungrouped")
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    tasks.setdefault(group, []).append(
                        {
                            "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "gc": m.get("JVM GC Time", 0),
                        }
                    )
    out = {}
    for group, ts in tasks.items():
        ms = [t["ms"] for t in ts]
        out[group] = {
            "tasks": len(ts),
            "task_ms_p50": statistics.median(ms),
            "task_ms_max": max(ms),
            "shuffle_read_bytes": sum(t["read"] for t in ts),
            "shuffle_write_bytes": sum(t["write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "gc_ms": sum(t["gc"] for t in ts),
        }
    return out
