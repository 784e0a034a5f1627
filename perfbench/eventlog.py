"""Parse a local Spark event log into per-job-group totals.

The traced run tags every call with a job group; this module maps stages
and SQL executions back to those groups and sums what the scheduler
recorded for them: shuffle bytes, spill, GC and fetch-wait time, task run
times, and the SQL metrics ("number of output rows") of plan nodes.
Nothing here talks to Spark; it reads the JSON-lines file written with
``spark.eventLog.enabled``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Stage:
    group: str | None
    task_ms: list = field(default_factory=list)
    accumulators: set = field(default_factory=set)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    fetch_wait_ms: int = 0


@dataclass
class PlanNode:
    name: str
    desc: str
    rows_acc: int | None  # accumulator id of "number of output rows"


class EventLog:
    def __init__(self, path: str):
        self.stages: dict[int, Stage] = {}
        self.jobs: dict[str, int] = defaultdict(int)  # group -> jobs started
        self.exec_group: dict[int, str] = {}
        self.exec_nodes: dict[int, list[PlanNode]] = defaultdict(list)
        self.acc_value: dict[int, int] = defaultdict(int)
        with open(path, encoding="utf-8") as f:
            for line in f:
                self._event(json.loads(line))

    # -- parsing -------------------------------------------------------------

    def _stage(self, stage_id: int) -> Stage:
        return self.stages.setdefault(stage_id, Stage(None))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is not None:
                self.jobs[group] += 1
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    self.exec_group.setdefault(int(exec_id), group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self._stage(ev["Stage Info"]["Stage ID"]).group = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            for acc in info.get("Accumulables", []):
                value = acc.get("Value")
                if isinstance(value, int) or (isinstance(value, str) and value.lstrip("-").isdigit()):
                    acc_id = int(acc["ID"])
                    st.accumulators.add(acc_id)
                    self.acc_value[acc_id] = max(self.acc_value[acc_id], int(value))
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            exec_id = int(ev["executionId"])
            group = ev.get("jobGroupId")
            if group and group != "None":
                self.exec_group.setdefault(exec_id, group)
            self._plan(exec_id, ev["sparkPlanInfo"])

    def _task_end(self, ev: dict) -> None:
        m = ev.get("Task Metrics")
        if not m:
            return
        st = self._stage(ev["Stage ID"])
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        st.task_ms.append(int(m.get("Executor Run Time", 0)))
        st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
        st.fetch_wait_ms += int(sr.get("Fetch Wait Time", 0))
        st.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
        st.gc_ms += int(m.get("JVM GC Time", 0))

    def _plan(self, exec_id: int, info: dict) -> None:
        stack = [info]
        while stack:
            n = stack.pop()
            rows = next(
                (int(x["accumulatorId"]) for x in n.get("metrics", []) if x["name"] == "number of output rows"),
                None,
            )
            self.exec_nodes[exec_id].append(PlanNode(n.get("nodeName", ""), n.get("simpleString", ""), rows))
            stack.extend(n.get("children", []))

    # -- queries -------------------------------------------------------------

    def total(self, attr: str, groups: set[str] | None = None) -> int:
        """Sum of a stage counter over the stages run under ``groups`` (all if None)."""
        return sum(
            getattr(st, attr) for st in self.stages.values() if groups is None or st.group in groups
        )

    def job_count(self, groups: set[str]) -> int:
        return sum(self.jobs.get(g, 0) for g in groups)

    def sql_executions(self, groups: set[str]) -> int:
        return sum(1 for g in self.exec_group.values() if g in groups)

    def _row_accs(self, groups: set[str], node_name: str, desc_has: str) -> set[int]:
        out = set()
        for exec_id, group in self.exec_group.items():
            if group not in groups:
                continue
            for node in self.exec_nodes.get(exec_id, ()):
                if node.rows_acc is not None and node_name in node.name and desc_has in node.desc:
                    out.add(node.rows_acc)
        return out

    def rows_out(self, groups: set[str], node_name: str, desc_has: str) -> int:
        """"number of output rows" summed over the plan nodes run under
        ``groups`` whose name contains ``node_name`` and whose description
        contains ``desc_has``."""
        return sum(self.acc_value.get(a, 0) for a in self._row_accs(groups, node_name, desc_has))

    def task_skew(self, groups: set[str], node_name: str, desc_has: str) -> float:
        """max / median task run time of the heaviest stage that ran a
        matching plan node (1.0 = perfectly even; 0 if no such stage ran)."""
        accs = self._row_accs(groups, node_name, desc_has)
        cands = [
            st.task_ms for st in self.stages.values()
            if st.group in groups and st.task_ms and st.accumulators & accs
        ]
        if not cands:
            return 0.0
        heavy = max(cands, key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else float(len(heavy) > 0)
