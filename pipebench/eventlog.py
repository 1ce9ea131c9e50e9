"""Spark event-log reader: stages, jobs and SQL executions with metrics.

The session must write plain JSON lines: the benchmark sets
``spark.eventLog.compress=false`` (Spark 4.1 compresses with zstd by
default, and the Python standard library has no zstd module). Both the single-file layout
and the rolling layout (``eventlog_v2_<app>/events_<n>_<app>``) are read;
a compressed file is refused with a clear error instead of being misread.

Task metrics are *folded* into their stage: every ``TaskEnd`` adds to the
stage's totals, and ``StageSubmitted``/``StageCompleted`` only fill in
the stage's name and times, never replacing the folded numbers.

SQL metrics are mapped to plan nodes through the ``sparkPlanInfo`` trees
of ``SQLExecutionStart`` and every ``SQLAdaptiveExecutionUpdate`` (AQE
re-plans a query mid-run and gives its new nodes new accumulators); the
values are the summed task ``Accumulables`` updates plus the driver-side
``DriverAccumUpdates``.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_COMPRESSED = (".zstd", ".lz4", ".lzf", ".snappy", ".zst")

SPAN_PROPERTY = "pipebench.span"  # job local property naming the benchmark span


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str = ""
    num_tasks: int = 0
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: int = 0
    task_ms: list[int] = field(default_factory=list)  # launch→finish per task
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0

    @property
    def task_skew(self) -> float:
        """Max ÷ median task duration (1.0 for an even stage)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 0.0


@dataclass
class Job:
    job_id: int
    stage_ids: list[int]
    submit_ms: int
    end_ms: int | None = None
    execution_id: int | None = None
    span: str | None = None


@dataclass(frozen=True)
class PlanMetric:
    node: str  # plan node name, e.g. "MapInPandas"
    name: str  # metric name, e.g. "number of output rows"
    below: frozenset[str]  # names of the node's descendants


@dataclass
class Execution:
    execution_id: int
    description: str = ""
    plan: str = ""  # latest physicalPlanDescription
    start_ms: int | None = None
    end_ms: int | None = None
    # accumulator id -> the plan node and metric it belongs to
    metrics: dict[int, "PlanMetric"] = field(default_factory=dict)

    @property
    def duration_s(self) -> float:
        if self.start_ms is None or self.end_ms is None:
            return 0.0
        return (self.end_ms - self.start_ms) / 1000.0


class EventLog:
    def __init__(self) -> None:
        self.stages: dict[tuple[int, int], Stage] = {}
        self.jobs: dict[int, Job] = {}
        self.executions: dict[int, Execution] = {}
        self.acc_values: dict[int, int] = defaultdict(int)

    # -- reading ---------------------------------------------------------

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        for f in event_files(path):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        log.add(json.loads(line))
        return log

    def add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        handler = _HANDLERS.get(kind.removeprefix(_SQL))
        if handler is not None:
            handler(self, ev)

    def _stage(self, stage_id: int, attempt: int) -> Stage:
        key = (stage_id, attempt)
        if key not in self.stages:
            self.stages[key] = Stage(stage_id, attempt)
        return self.stages[key]

    def _on_stage_info(self, ev: dict) -> None:
        si = ev["Stage Info"]
        st = self._stage(si["Stage ID"], si.get("Stage Attempt ID", 0))
        st.name = si.get("Stage Name", st.name)
        st.num_tasks = si.get("Number of Tasks", st.num_tasks)
        st.submit_ms = si.get("Submission Time", st.submit_ms)
        st.complete_ms = si.get("Completion Time", st.complete_ms)

    def _on_task_end(self, ev: dict) -> None:
        st = self._stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st.tasks += 1
        if info.get("Finish Time") and info.get("Launch Time"):
            st.task_ms.append(info["Finish Time"] - info["Launch Time"])
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        inp = m.get("Input Metrics") or {}
        st.input_bytes += inp.get("Bytes Read", 0)
        st.input_records += inp.get("Records Read", 0)
        out = m.get("Output Metrics") or {}
        st.output_bytes += out.get("Bytes Written", 0)
        st.output_records += out.get("Records Written", 0)
        for acc in info.get("Accumulables", ()):
            # SQL metric updates are logged as strings ("Metadata": "sql").
            upd = _number(acc.get("Update"))
            if upd is not None:
                self.acc_values[acc["ID"]] += upd

    def _on_job_start(self, ev: dict) -> None:
        props = ev.get("Properties") or {}
        eid = props.get("spark.sql.execution.id")
        self.jobs[ev["Job ID"]] = Job(
            job_id=ev["Job ID"],
            stage_ids=list(ev.get("Stage IDs", ())),
            submit_ms=ev.get("Submission Time", 0),
            execution_id=int(eid) if eid not in (None, "") else None,
            span=props.get(SPAN_PROPERTY),
        )

    def _on_job_end(self, ev: dict) -> None:
        job = self.jobs.get(ev["Job ID"])
        if job is not None:
            job.end_ms = ev.get("Completion Time")

    def _execution(self, eid: int) -> Execution:
        if eid not in self.executions:
            self.executions[eid] = Execution(eid)
        return self.executions[eid]

    def _on_plan(self, ev: dict) -> None:
        ex = self._execution(ev["executionId"])
        ex.plan = ev.get("physicalPlanDescription", ex.plan)
        _collect_metrics(ev.get("sparkPlanInfo") or {}, ex.metrics)

    def _on_exec_start(self, ev: dict) -> None:
        self._on_plan(ev)
        ex = self._execution(ev["executionId"])
        ex.description = ev.get("description", "")
        ex.start_ms = ev.get("time")

    def _on_exec_end(self, ev: dict) -> None:
        ex = self._execution(ev["executionId"])
        ex.end_ms = ev.get("time")

    def _on_driver_accums(self, ev: dict) -> None:
        for acc_id, value in ev.get("accumUpdates", ()):
            self.acc_values[acc_id] += value

    # -- queries ---------------------------------------------------------

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages (all attempts) run by ``jobs``; skipped stages have no tasks."""
        ids = {sid for j in jobs for sid in j.stage_ids}
        return [s for (sid, _), s in sorted(self.stages.items()) if sid in ids and s.tasks]

    def jobs_of(self, execution_id: int | None = None, span: str | None = None) -> list[Job]:
        return [
            j
            for _, j in sorted(self.jobs.items())
            if (execution_id is None or j.execution_id == execution_id)
            and (span is None or j.span == span)
        ]

    def executions_of(self, span: str) -> list[Execution]:
        """SQL executions any of whose jobs ran under ``span``."""
        ids = sorted({j.execution_id for j in self.jobs_of(span=span) if j.execution_id is not None})
        return [self.executions[i] for i in ids if i in self.executions]

    def sql_metric(
        self,
        ex: Execution,
        node_prefix: str,
        metric: str,
        above: str | None = None,
        not_above: str | None = None,
    ) -> int:
        """Sum of one SQL metric over the plan nodes named ``node_prefix…``,
        optionally only those with (``above``) or without (``not_above``)
        a descendant node whose name starts with the given prefix."""

        def has(below: frozenset[str], prefix: str) -> bool:
            return any(n.startswith(prefix) for n in below)

        return sum(
            self.acc_values.get(acc_id, 0)
            for acc_id, m in ex.metrics.items()
            if m.node.startswith(node_prefix)
            and m.name == metric
            and (above is None or has(m.below, above))
            and (not_above is None or not has(m.below, not_above))
        )


def _number(v) -> int | float | None:
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        try:
            return int(v)
        except ValueError:
            try:
                return float(v)
            except ValueError:
                return None
    return None


def _collect_metrics(node: dict, out: dict[int, PlanMetric]) -> frozenset[str]:
    """Record ``node``'s metrics and return the names in its subtree."""
    below: frozenset[str] = frozenset()
    for child in node.get("children", ()):
        below |= _collect_metrics(child, out)
    name = node.get("nodeName", "")
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = PlanMetric(name, m["name"], below)
    return below | {name}


_HANDLERS = {
    "SparkListenerStageSubmitted": EventLog._on_stage_info,
    "SparkListenerStageCompleted": EventLog._on_stage_info,
    "SparkListenerTaskEnd": EventLog._on_task_end,
    "SparkListenerJobStart": EventLog._on_job_start,
    "SparkListenerJobEnd": EventLog._on_job_end,
    "SparkListenerSQLExecutionStart": EventLog._on_exec_start,
    "SparkListenerSQLAdaptiveExecutionUpdate": EventLog._on_plan,
    "SparkListenerSQLExecutionEnd": EventLog._on_exec_end,
    "SparkListenerDriverAccumUpdates": EventLog._on_driver_accums,
}


def event_files(path: str) -> list[str]:
    """The plain event-log files under ``path``, in write order.

    ``path`` is one log file, a rolling ``eventlog_v2_*`` directory, or an
    ``spark.eventLog.dir`` holding exactly one application's log.
    """
    if os.path.isfile(path):
        files = [path]
    else:
        names = sorted(n for n in os.listdir(path) if not n.startswith("."))
        if any(n.startswith("events_") for n in names):
            # rolling layout: events_<index>_<appId>[.codec]
            files = [
                os.path.join(path, n)
                for n in sorted(
                    (n for n in names if n.startswith("events_")),
                    key=lambda n: int(n.split("_")[1]),
                )
            ]
        elif len(names) == 1:
            return event_files(os.path.join(path, names[0]))
        else:
            raise ValueError(f"expected one application log under {path}, found {names}")
    for f in files:
        if f.endswith(_COMPRESSED):
            raise ValueError(
                f"{f} is compressed; run with spark.eventLog.compress=false"
            )
        if f.endswith(".inprogress"):
            raise ValueError(f"{f} is still being written; stop the session first")
    return files
