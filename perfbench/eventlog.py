"""Per-job-group profile parsed from a Spark event log.

The benchmark tags every timed call with ``sparkContext.setJobGroup`` and
runs its traced sessions with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``, so the log is one plain JSON-lines
file. ``parse`` folds it into one ``GroupProfile`` per job group.

Python-UDF metrics come from the SQL accumulators Spark attaches to the
Python runner node ("time to run Python workers", "data sent to Python
workers", ...): their per-task updates ride on every task-end event.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

_PY_RUN = "time to run Python workers"
_PY_INIT = ("time to initialize Python workers", "time to start Python workers")
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


@dataclass
class Task:
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    py_run_s: float
    py_init_s: float
    bytes_to_py: int
    bytes_from_py: int


@dataclass
class Stage:
    stage_id: int
    submitted_ms: int
    completed_ms: int
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(self.completed_ms - self.submitted_ms, 0) / 1e3

    @property
    def is_python(self) -> bool:
        return any(t.py_run_s > 0 for t in self.tasks)


@dataclass
class GroupProfile:
    """Everything the event log says about one job group."""

    jobs: int = 0
    stages: dict[int, Stage] = field(default_factory=dict)

    @property
    def tasks(self) -> list[Task]:
        return [t for s in self.stages.values() for t in s.tasks]

    def total(self, attr: str) -> float:
        return sum(getattr(t, attr) for t in self.tasks)

    def summary(self) -> dict[str, float]:
        runs = [t.run_s for t in self.tasks]
        return {
            "jobs": self.jobs,
            "stages": len(self.stages),
            "tasks": len(runs),
            "run_core_s": sum(runs),
            "cpu_core_s": self.total("cpu_s"),
            "gc_core_s": self.total("gc_s"),
            "spill_bytes": self.total("spill_bytes"),
            "shuffle_read_bytes": self.total("shuffle_read_bytes"),
            "shuffle_write_bytes": self.total("shuffle_write_bytes"),
            "task_max_s": max(runs, default=0.0),
            "task_median_s": statistics.median(runs) if runs else 0.0,
            "python_run_s": self.total("py_run_s"),
            "python_init_s": self.total("py_init_s"),
            "bytes_to_python": self.total("bytes_to_py"),
            "bytes_from_python": self.total("bytes_from_py"),
        }


def _accum(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", []):
        name = a.get("Name")
        if name in (_PY_RUN, _PY_SENT, _PY_BACK) or name in _PY_INIT:
            out[name] = out.get(name, 0.0) + float(a.get("Update") or 0)
    return out


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    acc = _accum(ev.get("Task Info") or {})
    return Task(
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        shuffle_read_bytes=rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0),
        shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
        # SQL timing accumulators are in milliseconds, size ones in bytes
        py_run_s=acc.get(_PY_RUN, 0.0) / 1e3,
        py_init_s=sum(acc.get(k, 0.0) for k in _PY_INIT) / 1e3,
        bytes_to_py=int(acc.get(_PY_SENT, 0)),
        bytes_from_py=int(acc.get(_PY_BACK, 0)),
    )


def parse_lines(lines) -> dict[str, GroupProfile]:
    """Event-log lines -> {job group: profile}. Jobs without a group are
    filed under the empty string.

    Raises ValueError on a job or task logged twice, as happens when the
    event-log listener is registered twice and every count would double."""
    groups: dict[str, GroupProfile] = {}
    stage_group: dict[int, str] = {}
    stages: dict[int, Stage] = {}
    seen_jobs: set[int] = set()
    seen_tasks: set[tuple[int, int]] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if ev["Job ID"] in seen_jobs:
                raise ValueError(f"job {ev['Job ID']} logged twice")
            seen_jobs.add(ev["Job ID"])
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(g, GroupProfile()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            key = (sid, ev["Task Info"]["Task ID"])
            if key in seen_tasks:
                raise ValueError(f"task {key[1]} of stage {sid} logged twice")
            seen_tasks.add(key)
            stages.setdefault(sid, Stage(sid, 0, 0)).tasks.append(_task(ev))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], 0, 0))
            st.submitted_ms = info.get("Submission Time", 0)
            st.completed_ms = info.get("Completion Time", 0)
    for sid, st in stages.items():
        groups.setdefault(stage_group.get(sid, ""), GroupProfile()).stages[sid] = st
    return groups


def parse(path: str) -> dict[str, GroupProfile]:
    with open(path) as f:
        return parse_lines(f)


def extract_stages(p: GroupProfile) -> dict[str, list[Stage]]:
    """Split an extraction job group's stages into the OCR stage(s) (those
    whose tasks ran Python), the salt exchange that ran before them and the
    merge that ran after them."""
    ocr = [s for s in p.stages.values() if s.is_python]
    if not ocr:
        return {"ocr": [], "salt": [], "merge": []}
    first = min(s.submitted_ms for s in ocr)
    last = max(s.completed_ms for s in ocr)
    rest = [s for s in p.stages.values() if not s.is_python]
    return {
        "ocr": ocr,
        "salt": [s for s in rest if s.completed_ms <= first],
        "merge": [s for s in rest if s.submitted_ms >= last],
    }


def ocr_layer(profiles: list[GroupProfile], slots: int) -> dict[str, float]:
    """Stage metrics of the extraction pipeline, summed over job groups."""
    parts = [extract_stages(p) for p in profiles]
    ocr = [s for x in parts for s in x["ocr"]]
    salt = [s for x in parts for s in x["salt"]]
    merge = [s for x in parts for s in x["merge"]]
    runs = [t.run_s for s in ocr for t in s.tasks if t.py_run_s > 0]
    wall = sum(s.wall_s for s in ocr)
    ocr_run = sum(t.run_s for s in ocr for t in s.tasks)
    return {
        "stage.ocr.tasks": len(runs),
        "stage.ocr.run_core_s": ocr_run,
        "stage.ocr.slot_util": ocr_run / (wall * slots) if wall > 0 else 0.0,
        "stage.ocr.task_skew": max(runs) / statistics.median(runs) if runs else 0.0,
        "stage.salt_exchange.shuffle_bytes": sum(
            t.shuffle_write_bytes for s in salt for t in s.tasks
        ),
        "stage.merge.run_core_s": sum(t.run_s for s in merge for t in s.tasks),
        "stage.merge.shuffle_bytes": sum(
            t.shuffle_read_bytes for s in merge for t in s.tasks
        ),
    }
