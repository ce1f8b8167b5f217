"""Spans around calls into the engine's layers, and their reduction to
the per-layer table.

Spans are recorded from the benchmark's own files only: the engine is
not instrumented. In a traced run each span sets the Spark job group to
its own id (``sc.setJobGroup``), so every job the call launches can be
attributed to it. After the run the Spark event log (uncompressed, not
rolled) gives the task metrics, ``sc.statusTracker()`` gives the job,
stage and task counts per group, and ``reduce_layers`` folds all of it
into ``<layer>.<metric>`` values.

Lazy layers return a plan, not a result. For them a traced run adds one
``noop`` write of the output as a child span of the same layer, so the
layer's own work is timed where it is declared. That extra write is
part of the tracing overhead.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from collections.abc import Callable, Iterable

LAYERS = (
    "io.readers",
    "io.writers",
    "io.versioned",
    "transforms",
    "quality",
    "models",
    "pipeline",
    "ext.text",
    "ext.dedup",
    "ext.curation",
    "ext.tokenizer",
    "ext.training",
    "ext.export",
)
LAYER_METRICS = (
    "calls",
    "self_s",
    "driver_s",
    "task_cpu_s",
    "queue_s",
    "gc_s",
    "shuffle_mb",
    "failed",
)
LAYER_UNITS = ("count", "s", "s", "s", "s", "s", "MB", "count")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User + system CPU seconds of a process and all its descendants
    (driver JVM and Python workers included), read from ``/proc``."""
    root_pid = root_pid or os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / tick
    return total


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class Tracer:
    """Times calls into engine layers. Disabled, ``call`` is a plain
    call; enabled, it records a span per call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # Time spent in span bookkeeping (clock, /proc, job group).
        self.bookkeeping_s = 0.0

    def call(
        self,
        layer: str,
        fn: Callable,
        *args,
        name: str | None = None,
        lazy: bool = False,
        **kwargs,
    ):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._open(layer, f"{layer}.{name or fn.__name__}")
        try:
            out = fn(*args, **kwargs)
            if lazy:
                noop = self._open(layer, span["name"] + ".noop", forced=True)
                try:
                    out.write.format("noop").mode("overwrite").save()
                finally:
                    self._close(noop)
            return out
        except BaseException:
            span["failed"] = 1
            raise
        finally:
            self._close(span)

    def _open(self, layer: str, name: str, forced: bool = False) -> dict:
        t0 = time.perf_counter()
        parent = self._stack[-1]["id"] if self._stack else None
        span = {
            "id": len(self.spans),
            "parent": parent,
            "layer": layer,
            "name": name,
            "group": f"pb{len(self.spans)}",
            "forced": forced,
            "failed": 0,
            "cpu0": tree_cpu_s(),
            "start": time.time(),
        }
        self.spans.append(span)
        self._stack.append(span)
        self.spark.sparkContext.setJobGroup(span["group"], name)
        self.bookkeeping_s += time.perf_counter() - t0
        return span

    def _close(self, span: dict) -> None:
        t0 = time.perf_counter()
        span["end"] = time.time()
        span["cpu_s"] = tree_cpu_s() - span.pop("cpu0")
        self._stack.pop()
        sc = self.spark.sparkContext
        if self._stack:
            sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.bookkeeping_s += time.perf_counter() - t0

    def overhead_s(self) -> float:
        """Time the traced run spent only because it was traced: the
        forced ``noop`` writes plus span bookkeeping."""
        forced = sum(s["end"] - s["start"] for s in self.spans if s["forced"])
        return forced + self.bookkeeping_s

    def job_counts(self) -> dict[str, tuple[int, int, int]]:
        """(jobs, stages, tasks) per span group, from the status
        tracker. Call once the traced work is done."""
        st = self.spark.sparkContext.statusTracker()
        out = {}
        for span in self.spans:
            jobs = st.getJobIdsForGroup(span["group"])
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    sinfo = st.getStageInfo(s)
                    if sinfo:
                        stages += 1
                        tasks += sinfo.numTasks
            out[span["group"]] = (len(jobs), stages, tasks)
        return out


def read_event_log(path: str) -> Iterable[dict]:
    """Events of an uncompressed, non-rolled Spark event log."""
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def task_records(events: Iterable[dict]) -> list[dict]:
    """One record per finished task: its job group, launch/finish
    times (epoch s), wait for a core after stage submission, CPU, GC,
    shuffle and output bytes."""
    stage_group: dict[tuple[int, int], str | None] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            props = ev.get("Properties") or {}
            stage_group[key] = props.get("spark.jobGroup.id")
            stage_submit[key] = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            launch = info["Launch Time"] / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            tasks.append(
                {
                    "group": stage_group.get(key),
                    "launch": launch,
                    "finish": info["Finish Time"] / 1000.0,
                    "queue_s": max(0.0, launch - stage_submit.get(key, launch)),
                    "cpu_s": (
                        m.get("Executor CPU Time", 0)
                        + m.get("Executor Deserialize CPU Time", 0)
                    )
                    / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "output_bytes": out.get("Bytes Written", 0),
                }
            )
    return tasks


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _length(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in intervals)


def _subtract(
    base: list[tuple[float, float]], cut: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """``base`` minus ``cut``; both merged and sorted."""
    out = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def reduce_layers(
    spans: list[dict],
    tasks: list[dict],
    job_counts: dict[str, tuple[int, int, int]] | None = None,
) -> dict[str, dict]:
    """Per-layer totals: ``calls`` (forced noop spans excluded),
    ``self_s`` (span time not covered by child spans), ``driver_s``
    (self time with no task running anywhere), ``task_cpu_s``,
    ``queue_s``, ``gc_s``, ``shuffle_mb`` and ``output_bytes`` of the
    tasks of the span's job group, ``failed`` calls, ``cpu_s`` (process
    tree CPU over self time, Python workers included) and the status
    tracker's ``jobs``, ``stages`` and ``tasks``."""
    job_counts = job_counts or {}
    busy = _merge([(t["launch"], t["finish"]) for t in tasks])
    by_group: dict[str, list[dict]] = defaultdict(list)
    for t in tasks:
        by_group[t["group"]].append(t)
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, dict] = {
        layer: defaultdict(float) for layer in {*LAYERS, *(s["layer"] for s in spans)}
    }
    for s in spans:
        row = out[s["layer"]]
        kids = _merge([(c["start"], c["end"]) for c in children[s["id"]]])
        own = _subtract([(s["start"], s["end"])], kids)
        row["calls"] += 0 if s["forced"] else 1
        row["failed"] += s["failed"]
        row["self_s"] += _length(own)
        row["driver_s"] += _length(_subtract(own, busy))
        # CPU of the child spans is counted in theirs.
        kid_cpu = sum(c.get("cpu_s", 0.0) for c in children[s["id"]])
        row["cpu_s"] += max(0.0, s.get("cpu_s", 0.0) - kid_cpu)
        jobs, stages, ntasks = job_counts.get(s["group"], (0, 0, 0))
        row["jobs"] += jobs
        row["stages"] += stages
        row["tasks"] += ntasks
        for t in by_group.get(s["group"], ()):
            row["task_cpu_s"] += t["cpu_s"]
            row["queue_s"] += t["queue_s"]
            row["gc_s"] += t["gc_s"]
            row["shuffle_mb"] += t["shuffle_bytes"] / 2**20
            row["output_bytes"] += t["output_bytes"]
    return {layer: dict(row) for layer, row in out.items()}
