"""Host facts, process-tree memory sampling, in-memory spans and the
Spark event-log reader used by the traced run."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import statistics
import sys
import threading
import time


def log(msg: str):
    """Progress on standard error; standard output carries the result."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), (f[7] if len(f) > 7 else 0)


class HostWatch:
    """loadavg at start and end, and the share of CPU time stolen by the
    hypervisor in between. Recorded with every result; no run is dropped
    because of them."""

    def __init__(self):
        self.t0 = _cpu_ticks()
        self.load0 = os.getloadavg()

    def report(self) -> dict:
        total, steal = _cpu_ticks()
        dt = total - self.t0[0]
        import pyspark

        return {
            "cores": cpu_count(),
            "driver_heap": os.environ.get("SPARK_DRIVER_MEM"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "loadavg_start": self.load0,
            "loadavg_end": os.getloadavg(),
            "steal_pct": round(100.0 * (steal - self.t0[1]) / dt, 3) if dt else 0.0,
        }


# ------------------------------------------------------- process memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once when the run ends. Times are epoch seconds so they line up with
    the event log's millisecond timestamps."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["name"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            log(f"span {name}: {rec['end'] - rec['start']:.2f} s")

    def add(self, name: str, start: float, end: float):
        """A span measured elsewhere, as a child of the open span."""
        self.spans.append({
            "name": name, "start": start, "end": end,
            "parent": self._stack[-1]["name"] if self._stack else None,
            "run_id": self.run_id,
        })

    def write(self, path: str):
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


# ------------------------------------------------------------- event log


def read_event_log(path: str) -> dict:
    """Jobs (submit/end ms, stage ids) and per-stage task records from an
    uncompressed, non-rolling Spark event log."""
    jobs, tasks = {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": [j for j in jobs.values() if "end" in j], "tasks": tasks}


def op_stats(events: dict, start: float, end: float) -> dict:
    """Spark work of the jobs that ran inside [start, end] (epoch s): only
    one op runs at a time, so interval containment attributes them."""
    lo, hi = start * 1000, end * 1000
    jobs = [j for j in events["jobs"] if j["start"] >= lo - 1 and j["end"] <= hi + 1]
    stages = {s for j in jobs for s in j["stages"] if s in events["tasks"]}
    tasks = [t for s in stages for t in events["tasks"][s]]
    # driver gap: op time during which no job of the op was running
    busy, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        if cur_e is None or j["start"] > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = j["start"], j["end"]
        else:
            cur_e = max(cur_e, j["end"])
    if cur_e is not None:
        busy += cur_e - cur_s
    skew = 0.0
    if stages:
        longest = max(stages, key=lambda s: sum(t["ms"] for t in events["tasks"][s]))
        ms = [t["ms"] for t in events["tasks"][longest]]
        skew = max(ms) / max(statistics.median(ms), 1)
    return {
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "tasks": len(tasks),
        "task_skew": skew,
        "driver_gap_s": max(end - start - busy / 1000, 0.0),
    }
