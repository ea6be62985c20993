"""Spark event log -> spans, SQL metrics and self time per layer.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is
set (uncompressed here: ``spark.eventLog.compress=false``). This module
turns those events, plus the spans the runner records around its own
calls, into one tree:

    pass (runner) -> call (runner) -> job -> stage -> task

A job's parent is the runner span that contains its submission time, a
stage's parent the job that submitted it, a task's parent its stage.

Self time is measured in wall seconds over ``cores`` task slots. In each
interval between two span boundaries, every running task takes
``1/cores`` of the interval, and the idle slots are charged to the
innermost enclosing non-task span: a stage (``stage_tail``: cores wait
for the stage's slowest task), a job outside its stages (``scheduler``),
a call outside its jobs (``driver``: planning, commits, driver-side
Python) or the pass outside its calls (``bench``: the runner itself).
A task's share is split over its own metrics (scan time, shuffle write
time, fetch wait, Python worker time, sort time). What its metrics do
not cover goes to the operator its task metrics show it ran (``write``
for a task that wrote output, ``arrow_jvm`` for one that ran
MapInPandas) or else to ``jvm``. The buckets therefore sum to the
pass's wall time by construction, so their sum says nothing about
coverage. ``coverage`` counts only the metric-backed buckets
(``ATTRIBUTED``); the catch-all ones (``UNATTRIBUTED``: ``jvm``, the
idle-slot buckets and the runner) are reported as their own share.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.stats import max_over_median, median

#: self-time buckets, in report order
LAYERS = (
    "scan",
    "exchange",
    "python",
    "arrow_jvm",
    "sort",
    "write",
    "jvm",
    "stage_tail",
    "scheduler",
    "driver",
    "bench",
)
#: buckets backed by a task's own metrics
ATTRIBUTED = ("scan", "exchange", "python", "arrow_jvm", "sort", "write")
#: catch-all buckets: task time no metric explains, idle slots, the runner
UNATTRIBUTED = ("jvm", "stage_tail", "scheduler", "driver", "bench")

_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    id: str
    parent: str | None
    kind: str  # pass | call | job | stage | task
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[int(m["accumulatorId"])] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", ()):
        _walk_plan(child, out)


def spark_spans(events: list[dict]) -> tuple[list[Span], dict[int, tuple[str, str]]]:
    """Jobs, stages and tasks as spans (job parents left unset), plus the
    SQL accumulator index: accumulator id -> (plan node, metric name)."""
    acc: dict[int, tuple[str, str]] = {}
    jobs: dict[int, Span] = {}
    job_stage_ids: dict[int, set[int]] = {}
    active_jobs: list[int] = []
    stages: dict[tuple[int, int], Span] = {}
    tasks: list[Span] = []
    for e in events:
        kind = e.get("Event", "")
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], acc)
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            t = e["Submission Time"] / 1000.0
            jobs[jid] = Span(f"job-{jid}", None, "job", f"job {jid}", t, t)
            job_stage_ids[jid] = set(e.get("Stage IDs", ()))
            active_jobs.append(jid)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in jobs:
                jobs[jid].end = e["Completion Time"] / 1000.0
            if jid in active_jobs:
                active_jobs.remove(jid)
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            owners = [j for j in active_jobs if key[0] in job_stage_ids[j]]
            parent = owners[-1] if owners else (active_jobs[-1] if active_jobs else None)
            t = info.get("Submission Time", 0) / 1000.0
            stages[key] = Span(
                f"stage-{key[0]}.{key[1]}",
                f"job-{parent}" if parent is not None else None,
                "stage",
                info.get("Stage Name", ""),
                t,
                t,
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if key in stages:
                stages[key].end = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            updates = {
                int(a["ID"]): _num(a.get("Update"))
                for a in info.get("Accumulables", ())
                if "ID" in a
            }
            tasks.append(
                Span(
                    f"task-{info['Task ID']}",
                    f"stage-{key[0]}.{key[1]}",
                    "task",
                    f"task {info['Task ID']}",
                    info["Launch Time"] / 1000.0,
                    info["Finish Time"] / 1000.0,
                    {
                        "updates": updates,
                        "metrics": e.get("Task Metrics") or {},
                        "failed": bool(info.get("Failed")),
                    },
                )
            )
    return [*jobs.values(), *stages.values(), *tasks], acc


def link(runner: list[Span], spark: list[Span]) -> list[Span]:
    """Give each job the innermost runner span that contains its
    submission time; drop Spark spans outside every runner span."""
    ranked = sorted(runner, key=lambda s: (s.kind != "call", s.duration))
    kept_jobs: set[str] = set()
    for s in spark:
        if s.kind != "job":
            continue
        for r in ranked:
            if r.start <= s.start <= r.end:
                s.parent = r.id
                kept_jobs.add(s.id)
                break
    kept_stages = {
        s.id for s in spark if s.kind == "stage" and s.parent in kept_jobs
    }
    return [
        *runner,
        *(s for s in spark if s.kind == "job" and s.id in kept_jobs),
        *(s for s in spark if s.kind == "stage" and s.id in kept_stages),
        *(s for s in spark if s.kind == "task" and s.parent in kept_stages),
    ]


def _descendants(spans: list[Span], root: Span) -> list[Span]:
    children: dict[str | None, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    out: list[Span] = []
    todo = [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, ()))
    return out


def _metric(task: Span, acc: dict[int, tuple[str, str]], name: str) -> float:
    return sum(v for a, v in task.attrs["updates"].items() if acc.get(a, ("", ""))[1] == name)


def _node_ran(task: Span, acc: dict[int, tuple[str, str]], prefix: str) -> bool:
    return any(acc.get(a, ("", ""))[0].startswith(prefix) for a in task.attrs["updates"])


def _writes(task: Span) -> bool:
    out = task.attrs["metrics"].get("Output Metrics", {})
    return bool(out.get("Records Written") or out.get("Bytes Written"))


def task_parts(task: Span, acc: dict[int, tuple[str, str]]) -> dict[str, float]:
    """A task's wall time (seconds) split by its own metrics; the part no
    metric covers goes to the writer or the Arrow operator when the task
    ran one, else to ``jvm``."""
    m = task.attrs["metrics"]
    read = m.get("Shuffle Read Metrics", {})
    write = m.get("Shuffle Write Metrics", {})
    parts = {
        "scan": _metric(task, acc, "scan time") / 1e3,
        "exchange": write.get("Shuffle Write Time", 0) / 1e9
        + read.get("Fetch Wait Time", 0) / 1e3,
        "python": sum(_metric(task, acc, n) for n in (_PY_START, _PY_INIT, _PY_RUN)) / 1e3,
        "sort": _metric(task, acc, "sort time") / 1e3,
    }
    dur = task.duration
    covered = sum(parts.values())
    if covered > dur > 0:
        parts = {k: v * dur / covered for k, v in parts.items()}
        covered = dur
    if _writes(task):
        owner = "write"
    elif _metric(task, acc, _PY_RUN) or _node_ran(task, acc, "MapInPandas"):
        owner = "arrow_jvm"
    else:
        owner = "jvm"
    parts[owner] = parts.get(owner, 0.0) + max(0.0, dur - covered)
    return parts


_DEPTH = {"pass": 0, "call": 1, "job": 2, "stage": 3}
_IDLE_LAYER = {"pass": "bench", "call": "driver", "job": "scheduler", "stage": "stage_tail"}


def self_times(
    spans: list[Span], root: Span, cores: int, acc: dict[int, tuple[str, str]]
) -> dict[str, float]:
    """Wall seconds of ``root`` per layer (see the module docstring)."""
    tree = [s for s in _descendants(spans, root) if s.end > root.start and s.start < root.end]
    lo, hi = root.start, root.end
    points = sorted({lo, hi, *(min(max(t, lo), hi) for s in tree for t in (s.start, s.end))})
    out = dict.fromkeys(LAYERS, 0.0)
    task_share: dict[str, float] = defaultdict(float)
    tasks = [s for s in tree if s.kind == "task"]
    frames = [s for s in tree if s.kind != "task"]
    for a, b in zip(points, points[1:]):
        dt = b - a
        if dt <= 0:
            continue
        running = [t for t in tasks if t.start <= a and t.end >= b]
        slots = max(cores, len(running))
        for t in running:
            task_share[t.id] += dt / slots
        idle = dt * max(0, cores - len(running)) / cores
        if idle:
            inner = max(
                (f for f in frames if f.start <= a and f.end >= b),
                key=lambda f: _DEPTH[f.kind],
            )
            out[_IDLE_LAYER[inner.kind]] += idle
    for t in tasks:
        share = task_share.get(t.id, 0.0)
        if share <= 0 or t.duration <= 0:
            continue
        scale = share / t.duration
        for layer, secs in task_parts(t, acc).items():
            out[layer] += secs * scale
    return out


def pass_metrics(
    spans: list[Span], root: Span, cores: int, acc: dict[int, tuple[str, str]]
) -> dict[str, float]:
    """Per-layer metrics of one pass: Spark's own SQL and task metrics
    summed over the pass's tasks, counts, and self time per layer."""
    tree = _descendants(spans, root)
    tasks = [s for s in tree if s.kind == "task"]
    wall = root.duration
    task_secs = [t.duration for t in tasks]
    py_rows = [
        sum(
            v
            for a, v in t.attrs["updates"].items()
            if acc.get(a, ("", "")) == ("MapInPandas", "number of output rows")
        )
        for t in tasks
        if _node_ran(t, acc, "MapInPandas")
    ]

    def tm(section: str | None, key: str) -> float:
        return sum(
            (t.attrs["metrics"].get(section, {}) if section else t.attrs["metrics"]).get(key, 0)
            for t in tasks
        )

    def sql(name: str, node_prefix: str = "") -> float:
        return sum(
            v
            for t in tasks
            for a, v in t.attrs["updates"].items()
            if acc.get(a, ("", ""))[1] == name and acc[a][0].startswith(node_prefix)
        )

    write_task_s = sum(task_parts(t, acc)["write"] for t in tasks if _writes(t))
    m = {
        "sources.scan_s": sql("scan time") / 1e3,
        "sources.rows_read": sql("number of output rows", "Scan "),
        "sources.write_s": write_task_s,
        "sources.bytes_written": tm("Output Metrics", "Bytes Written"),
        "pipeline.shuffle_write_s": tm("Shuffle Write Metrics", "Shuffle Write Time") / 1e9,
        "pipeline.shuffle_bytes": tm("Shuffle Write Metrics", "Shuffle Bytes Written"),
        "pipeline.fetch_wait_s": tm("Shuffle Read Metrics", "Fetch Wait Time") / 1e3,
        "pipeline.partition_skew": max_over_median(py_rows) if py_rows else 0.0,
        "pipeline.py_start_s": sql(_PY_START) / 1e3,
        "pipeline.py_init_s": sql(_PY_INIT) / 1e3,
        "pipeline.py_run_s": sql(_PY_RUN) / 1e3,
        "pipeline.py_bytes_sent": sql(_PY_SENT),
        "pipeline.py_bytes_returned": sql(_PY_RETURNED),
        "pipeline.sort_s": sql("sort time") / 1e3,
        "spark.jobs": float(sum(1 for s in tree if s.kind == "job")),
        "spark.stages": float(sum(1 for s in tree if s.kind == "stage")),
        "spark.tasks": float(len(tasks)),
        "spark.failed_tasks": float(sum(1 for t in tasks if t.attrs["failed"])),
        "spark.idle_core_s": max(0.0, cores * wall - sum(task_secs)),
        "spark.task_s_p50": median(task_secs) if task_secs else 0.0,
        "spark.task_s_max": max(task_secs, default=0.0),
        "spark.executor_cpu_s": tm(None, "Executor CPU Time") / 1e9,
        "spark.gc_s": tm(None, "JVM GC Time") / 1e3,
    }
    for layer, secs in self_times(spans, root, cores, acc).items():
        m[f"self.{layer}_s"] = secs
    return m


def coverage(m: dict[str, float], job_s: float) -> dict[str, float]:
    """Metric-backed and catch-all self time of a pass, each as a share
    of ``job_s`` (the untraced pass time)."""
    return {
        "trace.coverage": sum(m[f"self.{k}_s"] for k in ATTRIBUTED) / job_s,
        "trace.unattributed": sum(m[f"self.{k}_s"] for k in UNATTRIBUTED) / job_s,
    }
