"""In-memory tracing for the benchmark: spans around calls into the
program's public functions, Spark job counts per job group, output
sizes, peak memory, and task statistics read back from a Spark event
log.

Spans are kept in a list and written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, op) of one run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1, default=str)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum and marker
    files."""
    files = total = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of the driver JVM ``pid``, the processes
    under it (Python workers), and this Python process: CPU time the
    program spent, which, unlike wall time, does not grow when the host
    takes cores away (steal)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(entry)] = int(fields[1])
        # utime, stime, and the CPU of its reaped children
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])
    total = 0
    for p in cpu:
        q = p
        while q and q != pid:
            q = parent.get(q, 0)
        if q == pid:
            total += cpu[p]
    me = os.times()
    return total / tick + me.user + me.system


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus the Python driver's."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def eventlog_stats(
    log_dir: str, groups: set[str], wall_s: float, cores: int, ops: int
) -> dict:
    """Task statistics per operation, over the jobs whose job group is
    in ``groups`` (``ops`` operations), from the Spark event log under
    ``log_dir``.

    ``spark.task_skew`` is max / median task run time in the stage with
    the most shuffle bytes read; ``spark.core_util`` is executor run
    time / (``wall_s`` x ``cores``)."""
    stages: set[int] = set()
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") in groups:
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    mine = [t for t in tasks if t.get("Stage ID") in stages]
    run_ms = gc_ms = spill = sw = sr = 0
    per_stage: dict[int, list] = {}
    for t in mine:
        m = t.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        spill += m.get("Disk Bytes Spilled", 0)
        sw += wr.get("Shuffle Bytes Written", 0)
        sr += read
        st = per_stage.setdefault(t["Stage ID"], [0, []])
        st[0] += read
        st[1].append(m.get("Executor Run Time", 0))
    skew = 0.0
    shuffled = [v for v in per_stage.values() if v[0] > 0]
    if shuffled:
        _, times = max(shuffled, key=lambda v: v[0])
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 0.0
    mb = 1024.0 * 1024.0
    return {
        "spark.shuffle_write_mb": sw / mb / ops,
        "spark.shuffle_read_mb": sr / mb / ops,
        "spark.spill_mb": spill / mb / ops,
        "spark.gc_s": gc_ms / 1000.0 / ops,
        "spark.tasks": len(mine) / ops,
        "spark.task_skew": skew,
        "spark.core_util": (run_ms / 1000.0) / (wall_s * cores) if wall_s > 0 else 0.0,
    }
