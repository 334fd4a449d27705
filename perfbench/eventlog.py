"""Reader for Spark's JSON event log (``spark.eventLog.enabled`` with an
uncompressed, non-rolling ``file://`` directory).

The log gives the benchmark Spark's own task metrics without the UI: job
intervals and their job group, stage intervals with the operator scopes of
the RDDs each stage ran, the SQL metrics accumulated per stage (Python
boundary bytes among them) and one record per finished task.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

#: SQL metric names of the Python UDF operators (ArrowEvalPython, MapInPandas)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

#: operator scopes of a per-partition Python map (the payload decode)
PY_MAP_SCOPES = frozenset({"MapInPandas", "MapInArrow", "PythonMapInArrow"})


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None
    submit_ms: int
    complete_ms: int | None = None
    scopes: frozenset = frozenset()
    accumulables: dict = field(default_factory=dict)
    tasks: list = field(default_factory=list)

    def accum(self, name: str) -> float:
        return self.accumulables.get(name, 0.0)


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)     # job id -> Job
    stages: dict = field(default_factory=dict)   # (stage id, attempt) -> Stage

    def jobs_in(self, groups) -> list:
        groups = set(groups)
        return [j for j in self.jobs.values() if j.group in groups]

    def stages_in(self, groups) -> list:
        groups = set(groups)
        return [s for s in self.stages.values() if s.group in groups]


def _number(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _scope_name(rdd_info: dict) -> str | None:
    scope = rdd_info.get("Scope")
    if not scope:
        return None
    return json.loads(scope).get("name")


def _task(e: dict) -> Task:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    return Task(
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


def parse_events(lines) -> EventLog:
    """Build an :class:`EventLog` from the JSON lines of one application."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                                        e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            props = e.get("Properties") or {}
            scopes = frozenset(
                n for n in (_scope_name(r) for r in si.get("RDD Info", [])) if n
            )
            key = (si["Stage ID"], si["Stage Attempt ID"])
            log.stages[key] = Stage(si["Stage ID"], si["Stage Attempt ID"],
                                    props.get("spark.jobGroup.id"),
                                    si.get("Submission Time", 0), scopes=scopes)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage = log.stages.get((si["Stage ID"], si["Stage Attempt ID"]))
            if stage is None:
                continue
            stage.complete_ms = si.get("Completion Time")
            for acc in si.get("Accumulables", []):
                v = _number(acc.get("Value"))
                if v is not None and acc.get("Name"):
                    stage.accumulables[acc["Name"]] = v
        elif kind == "SparkListenerTaskEnd":
            stage = log.stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if stage is not None:
                stage.tasks.append(_task(e))
    return log


def read_event_log(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse_events(fh)


def is_decode_stage(stage: Stage) -> bool:
    """A stage that ran a Python per-partition map and sent it rows.

    A stage that only reads the map's persisted output lists the map among
    its RDD scopes too, next to ``InMemoryTableScan``, and sends no rows to
    it; such a stage does not count."""
    return (
        bool(stage.scopes & PY_MAP_SCOPES)
        and "InMemoryTableScan" not in stage.scopes
        and stage.accum(PY_SENT) > 0
    )


def task_skew(stage: Stage) -> float:
    """max / median task duration of one stage (1.0 = perfectly even)."""
    durs = [t.duration_ms for t in stage.tasks]
    median = statistics.median(durs) if durs else 0
    return max(durs) / median if median > 0 else 0.0


def totals(stages) -> dict:
    """Summed task metrics and Python boundary bytes over ``stages``."""
    tasks = [t for s in stages for t in s.tasks]
    return {
        "tasks": len(tasks),
        "run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "output_bytes": sum(t.output_bytes for t in tasks),
        "python_bytes_sent": sum(s.accum(PY_SENT) for s in stages),
        "python_bytes_returned": sum(s.accum(PY_RETURNED) for s in stages),
    }
