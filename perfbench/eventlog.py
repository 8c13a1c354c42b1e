"""Per-layer attribution from Spark's uncompressed JSON event log.

Every ``SparkListenerTaskEnd`` is charged to one layer. A task's stage
carries the job description the benchmark set around the call
(``spark.job.description``); within one shipped call such as ``main.main``,
which runs many SQL executions under one description, a stage is further
attributed to the SQL execution running when it was submitted, and the
execution to the sink path it writes. The stage that first computes a
persisted RDD is the cache fill, charged to ``storage`` rather than to the
sink that happened to trigger it.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

_OUTPUT_RE = re.compile(r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n"
                        r"Input: [^\n]*\nArguments: ([^,\s]+)")


@dataclass
class TaskCost:
    """Summed ``SparkListenerTaskEnd`` metrics of a set of tasks."""

    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    bytes_written: int = 0
    records_written: int = 0
    commit_s: float = 0.0

    def add(self, t: dict) -> None:
        m = t.get("Task Metrics") or {}
        self.tasks += 1
        self.run_s += m.get("Executor Run Time", 0) / 1e3
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        self.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        self.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        self.spill_bytes += m.get("Disk Bytes Spilled", 0)
        self.peak_exec_mem_bytes = max(self.peak_exec_mem_bytes,
                                       m.get("Peak Execution Memory", 0))
        om = m.get("Output Metrics") or {}
        self.bytes_written += om.get("Bytes Written", 0)
        self.records_written += om.get("Records Written", 0)
        for acc in t["Task Info"].get("Accumulables", ()):
            if acc.get("Name") == "task commit time":
                self.commit_s += float(acc.get("Update", 0)) / 1e3

    @property
    def wait_s(self) -> float:
        """Task run time spent neither on CPU nor in GC (I/O, locks, the
        Python worker's side of an Arrow exchange)."""
        return max(0.0, self.run_s - self.cpu_s - self.gc_s)


@dataclass
class Execution:
    id: int
    description: str
    start_ms: int
    end_ms: int = 0
    output: str | None = None


@dataclass
class Stage:
    id: int
    description: str
    submit_ms: int
    complete_ms: int = 0
    cached_rdd_ids: frozenset = frozenset()
    execution: Execution | None = None
    cache_fill: bool = False
    tasks: list = field(default_factory=list)


@dataclass
class Job:
    id: int
    description: str
    submit_ms: int
    end_ms: int = 0


class EventLog:
    """Parsed event log of one application."""

    def __init__(self, lines):
        self.executions: dict[int, Execution] = {}
        self.stages: dict[int, Stage] = {}
        self.jobs: dict[int, Job] = {}
        self.tasks: list[dict] = []
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart"):
                m = _OUTPUT_RE.search(e.get("physicalPlanDescription", ""))
                self.executions[e["executionId"]] = Execution(
                    e["executionId"], e.get("description") or "", e["time"],
                    output=m.group(1) if m else None)
            elif kind.endswith("SQLExecutionEnd"):
                ex = self.executions.get(e["executionId"])
                if ex is not None:
                    ex.end_ms = e["time"]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = Job(
                    e["Job ID"], props.get("spark.job.description") or "",
                    e["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                props = e.get("Properties") or {}
                self.stages[info["Stage ID"]] = Stage(
                    info["Stage ID"], props.get("spark.job.description") or "",
                    info.get("Submission Time", 0))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = self.stages.get(info["Stage ID"])
                if st is None:
                    continue
                st.complete_ms = info.get("Completion Time", 0)
                st.cached_rdd_ids = frozenset(
                    r["RDD ID"] for r in info.get("RDD Info", ())
                    if r["Storage Level"]["Use Memory"]
                    or r["Storage Level"]["Use Disk"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)
        self._link()

    @classmethod
    def read_dir(cls, log_dir: str) -> "EventLog":
        """Read the single application log under ``log_dir`` (a plain file
        or Spark's rolling ``eventlog_v2_*`` directory)."""
        paths = sorted(
            p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith(
                ("appstatus_", ".")))
        if not paths:
            raise FileNotFoundError(f"no event log under {log_dir}")

        def lines():
            for p in paths:
                with open(p) as f:
                    yield from f

        return cls(lines())

    def _link(self) -> None:
        execs = sorted(self.executions.values(), key=lambda x: x.start_ms)
        seen_cached: set[int] = set()
        for st in sorted(self.stages.values(), key=lambda s: s.submit_ms):
            for ex in execs:
                if ex.start_ms <= st.submit_ms and (
                        ex.end_ms == 0 or st.submit_ms <= ex.end_ms):
                    st.execution = ex
            fresh = st.cached_rdd_ids - seen_cached
            st.cache_fill = bool(fresh)
            seen_cached |= st.cached_rdd_ids
        for t in self.tasks:
            st = self.stages.get(t["Stage ID"])
            if st is not None:
                st.tasks.append(t)

    # -- queries ---------------------------------------------------------

    def cost(self, stages) -> TaskCost:
        c = TaskCost()
        for st in stages:
            for t in st.tasks:
                c.add(t)
        return c

    def stages_where(self, description: str | None = None,
                     output_suffix: str | None = None,
                     cache_fill: bool | None = None) -> list[Stage]:
        out = []
        for st in self.stages.values():
            if description is not None and st.description != description:
                continue
            if output_suffix is not None:
                out_path = st.execution.output if st.execution else None
                if not out_path or not out_path.rstrip("/").endswith(
                        output_suffix):
                    continue
            if cache_fill is not None and st.cache_fill != cache_fill:
                continue
            out.append(st)
        return out

    def executions_where(self, description: str,
                         output_suffix: str | None = None) -> list[Execution]:
        return [
            ex for ex in self.executions.values()
            if ex.description == description and (
                output_suffix is None or (ex.output or "").rstrip("/")
                .endswith(output_suffix))
        ]

    def busy_ms(self, t0_ms: float, t1_ms: float) -> float:
        """Length of ``[t0, t1]`` covered by at least one running task."""
        spans = sorted(
            (max(t0_ms, t["Task Info"]["Launch Time"]),
             min(t1_ms, t["Task Info"]["Finish Time"]))
            for t in self.tasks
            if t["Task Info"]["Finish Time"] > t0_ms
            and t["Task Info"]["Launch Time"] < t1_ms)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def total_cost(self) -> TaskCost:
        return self.cost(self.stages.values())


def stage_wall_s(stages) -> float:
    return sum(max(0, st.complete_ms - st.submit_ms) for st in stages) / 1e3


def task_skew(stages) -> float:
    """Longest task over the median task of the most skewed multi-task stage."""
    worst = 0.0
    for st in stages:
        runs = sorted(t["Task Metrics"]["Executor Run Time"]
                      for t in st.tasks if t.get("Task Metrics"))
        if len(runs) < 2:
            continue
        med = runs[len(runs) // 2]
        if med > 0:
            worst = max(worst, runs[-1] / med)
    return worst
