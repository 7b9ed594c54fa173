"""What the benchmark observes besides wall time: spans, the process
tree's RSS and CPU pinning (from ``/proc``; psutil is not a
dependency), and per-task metrics from Spark's local event log."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at the end. Disabled, ``span`` costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
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

    def self_times(self) -> dict[str, float]:
        """Σ per span name of duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


RSS_INTERVAL_S = 0.1
STOP_TIMEOUT_S = 60.0

# ---------------------------------------------------------------------------
# process tree: JVM + Python workers are descendants of this process
# ---------------------------------------------------------------------------


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out = [os.getpid()]
    i = 0
    while i < len(out):
        out.extend(kids.get(out[i], []))
        i += 1
    return out


def tree_rss_mb() -> float:
    total_kb = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def pin_tree(cpus: set[int]) -> None:
    """``taskset -a -p`` over the whole tree: every thread of every
    process; later children and threads inherit the mask."""
    for p in process_tree():
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                os.sched_setaffinity(int(t), cpus)
            except OSError:
                pass


def stop_jvm() -> None:
    """End the Spark JVM and wait until every process of the tree is
    gone. The JVM exits on EOF of its stdin; the Python daemon and
    workers exit with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    pids = process_tree()[1:]
    proc.stdin.close()
    proc.wait(STOP_TIMEOUT_S)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + STOP_TIMEOUT_S
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its new parent reaps it
            except OSError:
                break
            time.sleep(0.05)


class PeakRss:
    """Background sampler of the tree's summed RSS: one peak per
    ``active`` interval."""

    def __init__(self):
        self.peaks: list[float] = []
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self):
        self.peaks[-1] = max(self.peaks[-1], tree_rss_mb())

    def _loop(self):
        while not self._stop.is_set():
            if self._on.is_set():
                self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    @contextmanager
    def active(self):
        self.peaks.append(0.0)
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark event log → per-op task metrics
# ---------------------------------------------------------------------------

OP_PROPERTY = "perfbench.op"  # local property tagging every job of one op


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    info = ev.get("Task Info") or {}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "failed": bool(info.get("Failed"))
        or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
    }


def _events(log_dir: str):
    """Every event of the (rolling, uncompressed) logs under ``log_dir``."""
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if not fn.startswith("events_"):  # skip appstatus and .crc files
                continue
            with open(os.path.join(dirpath, fn)) as f:
                for line in f:
                    yield json.loads(line)


def event_log_ops(log_dir: str) -> dict[str, dict]:
    """Per op tag: tasks, run/GC seconds, shuffle and spill bytes, failed
    tasks and the widest stage's max ÷ median task run time."""
    stage_op: dict[int, str] = {}
    for ev in _events(log_dir):
        if ev.get("Event") == "SparkListenerJobStart":
            op = (ev.get("Properties") or {}).get(OP_PROPERTY)
            if op:
                for sid in ev.get("Stage IDs", []):
                    stage_op[sid] = op
    tasks: dict[str, dict[int, list[dict]]] = {}
    for ev in _events(log_dir):
        if ev.get("Event") == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            if op:
                tasks.setdefault(op, {}).setdefault(ev["Stage ID"], []).append(
                    _task_row(ev)
                )
    out = {}
    for op, stages in tasks.items():
        rows = [r for ts in stages.values() for r in ts]
        widest = max(stages.values(), key=len)
        run = [r["run_ms"] for r in widest]
        med = statistics.median(run)
        out[op] = {
            "tasks": len(rows),
            "executor_run_s": sum(r["run_ms"] for r in rows) / 1000.0,
            "gc_s": sum(r["gc_ms"] for r in rows) / 1000.0,
            "shuffle_write_bytes": sum(r["shuffle_write"] for r in rows),
            "shuffle_read_bytes": sum(r["shuffle_read"] for r in rows),
            "spill_bytes": sum(r["spill"] for r in rows),
            "failed_tasks": sum(r["failed"] for r in rows),
            "task_skew": max(run) / med if med > 0 else 1.0,
        }
    return out
