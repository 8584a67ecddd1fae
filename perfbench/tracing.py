"""Measurement from outside the engine: process-tree CPU from /proc,
layer spans with Spark job labels, and a summary of Spark's event log.

Spans are kept in memory and summarised when the run ends.  Every job
a span's thread submits carries the description
``bench:<workload>:<layer>``; jobs submitted by threads the benchmark
cannot label (the streaming engine, the HTTP handlers) are given to the
innermost span open when they were submitted.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- CPU of the process tree (/proc; psutil is not available) --------------


def _proc_table() -> dict[int, tuple[int, float, bool]]:
    """pid → (ppid, CPU seconds incl. reaped children, is Python worker)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue  # exited while listing
        # comm may contain spaces: fields resume after the last ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        # workers run as `python -m pyspark.daemon pyspark.worker`; the
        # JVM's own command line names pyspark-shell
        out[int(name)] = (int(fields[1]), ticks / _CLK_TCK, b"pyspark.daemon" in cmd)
    return out


@dataclass
class CpuSample:
    total_s: float
    python_s: float  # PySpark daemon and its forked workers


def _tree(table: dict[int, tuple[int, float, bool]]) -> list[int]:
    """This process and every live process it started, directly or not."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def descendants() -> list[int]:
    """Live processes started, directly or not, by this process."""
    return _tree(_proc_table())[1:]


def cpu_sample() -> CpuSample:
    """CPU seconds used so far by this process and every descendant:
    the driver, the JVM and the Python workers."""
    table = _proc_table()
    total = python = 0.0
    for pid in _tree(table):
        _, cpu, is_py = table[pid]
        total += cpu
        python += cpu if is_py else 0.0
    return CpuSample(total, python)


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str  # layer
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    cpu_s: float = 0.0
    python_s: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans; each span also sets the Spark job description of
    the calling thread and restores the previous one when it closes."""

    def __init__(self, sc, workload: str, run_id: str):
        self.sc = sc
        self.workload = workload
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, layer: str):
        idx = len(self.spans)
        before = cpu_sample()
        s = Span(layer, time.time(), parent=self._open[-1] if self._open else None,
                 run_id=self.run_id)
        self.spans.append(s)
        self._open.append(idx)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"bench:{self.workload}:{layer}")
        try:
            yield s
        finally:
            self.sc.setJobDescription(prev)
            self._open.pop()
            s.end = time.time()
            after = cpu_sample()
            s.cpu_s = after.total_s - before.total_s
            s.python_s = after.python_s - before.python_s

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its child spans cover."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        return (s.end - s.start) - _union_len(kids)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- event log ---------------------------------------------------------------

#: Spark engine metrics reported per layer span
ENGINE_METRICS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_bytes", "spill_bytes", "python_init_s", "driver_gap_s",
)


def read_event_log(path: str) -> dict:
    """Jobs (description, submit/end epoch seconds, stage ids) and the
    per-stage sums of task metrics from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": [s["Stage Name"] for s in e.get("Stage Infos", [])],
                }
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], dict.fromkeys(
                    ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_bytes",
                     "spill_bytes", "python_init_ms"), 0))
                m = e.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to initialize Python workers":
                        st["python_init_ms"] += int(acc.get("Update") or 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def layer_engine_metrics(log: dict, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Per layer: the ENGINE_METRICS of the jobs that ran in its spans.

    A labelled job belongs to the innermost span of its layer open at
    submission; an unlabelled one to the innermost span of any layer."""
    prefix = f"bench:{tracer.workload}:"
    spans = tracer.spans
    job_span: dict[int, int] = {}
    for jid, job in log["jobs"].items():
        desc = job["desc"] or ""
        layer = desc[len(prefix):] if desc.startswith(prefix) else None
        best = None
        for i, s in enumerate(spans):
            if s.start <= job["start"] <= s.end and (layer is None or s.name == layer):
                if best is None or s.start >= spans[best].start:
                    best = i
        if best is not None:
            job_span[jid] = best

    out: dict[str, dict[str, float]] = {}
    for name in {s.name for s in spans}:
        out[name] = dict.fromkeys(ENGINE_METRICS, 0.0)
    job_intervals: dict[int, list[tuple[float, float]]] = {}
    for jid, idx in job_span.items():
        job = log["jobs"][jid]
        m = out[spans[idx].name]
        m["jobs"] += 1
        job_intervals.setdefault(idx, []).append((job["start"], job["end"] or job["start"]))
    for sid, st in log["stages"].items():
        idx = job_span.get(log["stage_job"].get(sid, -1))
        if idx is None:
            continue
        m = out[spans[idx].name]
        m["tasks"] += st["tasks"]
        m["executor_run_s"] += st["run_ms"] / 1e3
        m["executor_cpu_s"] += st["cpu_ns"] / 1e9
        m["gc_s"] += st["gc_ms"] / 1e3
        m["shuffle_bytes"] += st["shuffle_bytes"]
        m["spill_bytes"] += st["spill_bytes"]
        m["python_init_s"] += st["python_init_ms"] / 1e3
    for idx, s in enumerate(spans):
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in job_intervals.get(idx, [])
        ]
        gap = tracer.self_time(idx) - _union_len([c for c in clipped if c[1] > c[0]])
        out[s.name]["driver_gap_s"] += max(0.0, gap)
    return out
