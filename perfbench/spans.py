"""Spans kept by the benchmark, and the Spark event log read back per span.

A ``Tracer`` records one span around each call the benchmark makes into
the engine (name, start, end, parent, run id) and sets a Spark job group
for the span's duration, so that the event log can attribute jobs to it.
Spans live in memory and are written out once, when the run ends.

``harvest`` reads a plain-JSON Spark event log and adds up, for each
span, the task metrics of the jobs that ran inside it.  A job belongs to
the innermost span of its job group whose time window holds the job's
submission; child spans without a group of their own (the close stages,
rebuilt from ``run_month``'s ``stage_seconds``) therefore claim the jobs
submitted during their interval.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

# counters harvested from the event log for each span
COUNTERS = (
    "task_cpu_s", "run_s", "planning_s", "input_bytes", "output_bytes",
    "shuffle_write_bytes", "spill_bytes", "py_bytes", "jobs",
)
PY_ACCUMULATORS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None  # the parent span's path
    run_id: str
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def path(self) -> str:
        return f"{self.parent}/{self.name}" if self.parent else self.name


@dataclass
class Tracer:
    """In-memory span recorder.  ``spark`` may be None (no job groups)."""

    run_id: str
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].path if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.run_id)
        sp.group = f"{self.run_id}:{sp.path}"
        self._set_group(sp.group)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)
            self.spans.append(sp)

    def add_children(self, parent: Span, stage_seconds: dict[str, float]) -> None:
        """Rebuild a call's internal stages as consecutive child spans
        starting at the parent's start; they inherit its job group."""
        t = parent.start
        for name, secs in stage_seconds.items():
            self.spans.append(Span(name, t, t + secs, parent.path, self.run_id, parent.group))
            t += secs

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


def _owner(spans: list[Span], group: str | None, t: float) -> Span | None:
    """Innermost span of ``group`` whose window holds time ``t``; the
    outermost span of the group when none does."""
    mine = [s for s in spans if s.group == group and group is not None]
    if not mine:
        return None
    inside = [s for s in mine if s.start <= t <= s.end]
    if inside:
        return min(inside, key=lambda s: s.seconds)
    return max(mine, key=lambda s: s.seconds)


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def harvest(events: list[dict], spans: list[Span]) -> dict:
    """Add up the event log per span path.

    Returns ``{"paths": {path: {counter: value}}, "wall": {path: seconds},
    "failed_tasks": n, "peak_storage_mb": x}``.  Spans that share a path
    (a repeated warm close, say) share one row of ``COUNTERS``: task CPU
    and run time, ``planning_s`` (SQL execution start to its first job),
    task input, output, shuffle-write and disk-spill bytes, ``py_bytes``
    (bytes both ways across the Python-worker seam) and ``jobs``.
    """
    rows = {s.path: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    wall: dict[str, float] = {}
    for s in spans:
        wall[s.path] = wall.get(s.path, 0.0) + s.seconds
    stage_path: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    exec_first_job: dict[int, tuple[float, str]] = {}
    failed = 0
    peak_storage = 0.0

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            exec_start[ev["executionId"]] = ev["time"] / 1000.0
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            t = ev["Submission Time"] / 1000.0
            sp = _owner(spans, props.get("spark.jobGroup.id"), t)
            if sp is None:
                continue
            rows[sp.path]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_path[sid] = sp.path
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                first = exec_first_job.get(int(ex))
                if first is None or t < first[0]:
                    exec_first_job[int(ex)] = (t, sp.path)
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                failed += 1
            peak = ev.get("Task Executor Metrics") or {}
            peak_storage = max(
                peak_storage,
                (peak.get("OnHeapStorageMemory", 0) + peak.get("OffHeapStorageMemory", 0)) / 2**20,
            )
            path = stage_path.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics") or {}
            if path is None or not m:
                continue
            row = rows[path]
            row["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            row["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            row["shuffle_write_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            path = stage_path.get(info.get("Stage ID"))
            if path is None:
                continue
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PY_ACCUMULATORS:
                    rows[path]["py_bytes"] += float(acc.get("Value", 0) or 0)

    for ex, (t_job, path) in exec_first_job.items():
        if ex in exec_start:
            rows[path]["planning_s"] += max(0.0, t_job - exec_start[ex])
    return {"paths": rows, "wall": wall, "failed_tasks": failed, "peak_storage_mb": peak_storage}


def layer(harvested: dict, path: str, cores: int) -> dict[str, float]:
    """Counters of span ``path`` and every span below it, with
    ``core_busy`` = task run time / (the span's wall time x cores)."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for p, row in harvested["paths"].items():
        if p == path or p.startswith(path + "/"):
            for k, v in row.items():
                total[k] += v
    wall = harvested["wall"].get(path, 0.0)
    total["core_busy"] = total["run_s"] / (wall * cores) if wall > 0 else 0.0
    return total
