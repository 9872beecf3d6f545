"""Spark event-log parser.

The traced run starts Spark with ``spark.eventLog.enabled`` (through
``session.get_spark(extra_conf=...)``) and writes the log into its
work directory. After the session stops, this module turns the log
into per-window executor, shuffle and Python-boundary figures. A
window is a wall-clock interval (epoch ms) the benchmark recorded
around one of its phases; a stage belongs to the window in which it
was submitted. The benchmark runs one phase at a time, so this
attribution also covers jobs the engine submits from its own threads
(the concurrent index sinks), which carry no job group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

# SQL metrics of the pandas/Arrow nodes, by their names in the plan
PY_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
    "time to run Python workers": "python_run_ms",
}

BUILD_PHASES = ("docid", "analyze_invert", "postings_write",
                "docs_norms_write", "commit")


def _is_python_node(name: str) -> bool:
    return "Pandas" in name or "Python" in name or "Arrow" in name


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    exec_id: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    accums: dict[int, int] = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    exec_id: int | None


class EventLog:
    def __init__(self, events: list[dict]):
        self.stages: dict[int, Stage] = {}
        self.jobs: dict[int, Job] = {}
        self.executions: dict[int, dict] = {}
        self.py_accums: dict[int, str] = {}
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = Job(
                    job_id=e["Job ID"], submit_ms=e.get("Submission Time", 0),
                    stage_ids=list(e.get("Stage IDs", [])),
                    exec_id=_int_or_none(props.get("spark.sql.execution.id")))
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                props = e.get("Properties") or {}
                st = self._stage(info["Stage ID"])
                st.submit_ms = info.get("Submission Time", 0)
                st.exec_id = _int_or_none(props.get("spark.sql.execution.id"))
            elif kind == "SparkListenerTaskEnd":
                st = self._stage(e["Stage ID"])
                m = e.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += int(m.get("Executor Run Time", 0))
                st.cpu_ns += int(m.get("Executor CPU Time", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Metadata") == "sql" and "Update" in a:
                        st.accums[a["ID"]] = (st.accums.get(a["ID"], 0)
                                              + int(a["Update"]))
            elif kind.endswith("SQLExecutionStart"):
                self.executions[e["executionId"]] = {
                    "details": e.get("details", ""),
                    "plan": e.get("physicalPlanDescription", ""),
                }
                self._python_accums(e.get("sparkPlanInfo"))
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                self._python_accums(e.get("sparkPlanInfo"))

    def _stage(self, sid: int) -> Stage:
        if sid not in self.stages:
            self.stages[sid] = Stage(stage_id=sid)
        return self.stages[sid]

    def _python_accums(self, node: dict | None) -> None:
        todo = [node] if node else []
        while todo:
            n = todo.pop()
            if _is_python_node(n.get("nodeName", "")):
                for m in n.get("metrics", []):
                    key = PY_METRICS.get(m.get("name"))
                    if key:
                        self.py_accums[m["accumulatorId"]] = key
            todo.extend(n.get("children", []))

    # -- windows ----------------------------------------------------------

    def stages_in(self, t0_ms: float, t1_ms: float) -> list[Stage]:
        return [s for s in self.stages.values()
                if s.tasks and t0_ms <= s.submit_ms <= t1_ms]

    def jobs_in(self, t0_ms: float, t1_ms: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0_ms <= j.submit_ms <= t1_ms]

    def window(self, t0_ms: float, t1_ms: float, cores: int) -> dict:
        """Executor, shuffle and Python-boundary totals of the stages
        submitted in [t0_ms, t1_ms]."""
        stages = self.stages_in(t0_ms, t1_ms)
        out = {
            "jobs": len(self.jobs_in(t0_ms, t1_ms)),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "executor_run_s": sum(s.run_ms for s in stages) / 1e3,
            "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "shuffle_bytes": sum(s.shuffle_write for s in stages),
        }
        wall_s = max(t1_ms - t0_ms, 1) / 1e3
        out["executor_busy_share"] = out["executor_run_s"] / (wall_s * cores)
        for key in PY_METRICS.values():
            out[key] = 0
        for s in stages:
            for acc, v in s.accums.items():
                key = self.py_accums.get(acc)
                if key:
                    out[key] += v
        return out

    def build_phases(self, t0_ms: float, t1_ms: float) -> dict[str, dict]:
        """Split one ``build_segment_index`` call (the window) into its
        phases by SQL execution, in submission order:

        - docid: everything before the analyzed frame's ``count()``;
        - analyze_invert: that ``count()`` (the fused analyze+invert
          scan);
        - postings_write / docs_norms_write: the parquet inserts into
          ``postings`` and into ``docs`` or ``norms``;
        - commit: everything after the first insert that is not an
          insert of postings, docs or norms (segment metrics and the
          ``segments_meta`` generation).
        """
        jobs = sorted(self.jobs_in(t0_ms, t1_ms), key=lambda j: j.submit_ms)
        exec_phase: dict[int, str] = {}
        job_phase: dict[int, str] = {}
        state = "docid"
        for j in jobs:
            if j.exec_id is not None and j.exec_id in exec_phase:
                job_phase[j.job_id] = exec_phase[j.exec_id]
                continue
            ex = self.executions.get(j.exec_id, {}) if j.exec_id is not None else {}
            sink = _insert_target(ex.get("plan", ""))
            if sink == "postings":
                phase = "postings_write"
                state = "written"
            elif sink in ("docs", "norms"):
                phase = "docs_norms_write"
                state = "written"
            elif sink is not None or state == "written":
                phase = "commit"
                state = "written"
            elif state == "docid" and "Dataset.count(" in ex.get("details", ""):
                phase = "analyze_invert"
                state = "analyzed"
            elif state == "docid":
                phase = "docid"
            else:
                phase = "analyze_invert"
            job_phase[j.job_id] = phase
            if j.exec_id is not None:
                exec_phase[j.exec_id] = phase
        out = {p: {"busy_s": 0.0, "jobs": 0, "shuffle_bytes": 0}
               for p in BUILD_PHASES}
        for j in jobs:
            out[job_phase[j.job_id]]["jobs"] += 1
        for s in self.stages_in(t0_ms, t1_ms):
            phase = exec_phase.get(s.exec_id) if s.exec_id is not None else None
            if phase is None:
                owners = [j for j in jobs if s.stage_id in j.stage_ids]
                phase = job_phase[owners[0].job_id] if owners else "commit"
            out[phase]["busy_s"] += s.run_ms / 1e3
            out[phase]["shuffle_bytes"] += s.shuffle_write
        return out


def _insert_target(plan: str) -> str | None:
    """Last path component of the plan's InsertIntoHadoopFsRelation
    target, or None when the execution writes nothing."""
    # the node's details section: "(n) Execute Insert...Command\n
    # ...Arguments: file:<path>, ..."
    head = plan.find("Execute InsertIntoHadoopFsRelationCommand\n")
    at = plan.find("Arguments: file:", head) if head >= 0 else -1
    if at < 0:
        return None
    path = plan[at + len("Arguments: file:"):].split(",", 1)[0].strip()
    name = path.rstrip("/").rsplit("/", 1)[-1]
    return "segments_meta" if name.startswith("segments_meta") else name


def _int_or_none(v) -> int | None:
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def load(log_dir: Path) -> EventLog:
    """Parse the single event-log file Spark wrote into ``log_dir``."""
    files = [p for p in Path(log_dir).iterdir() if p.is_file()
             and not p.name.endswith(".inprogress")]
    if len(files) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, "
                                f"found {[p.name for p in files]}")
    with open(files[0]) as f:
        return EventLog([json.loads(line) for line in f if line.strip()])
