"""Stdlib parser for Spark's JSON event log, rolled up per job group.

The traced benchmark run enables ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false`` (no zstd module is installed), so the log
is plain JSON, one event per line.  Spark 4 writes a rolling log directory
``eventlog_v2_<app>/events_<n>_<app>``.

Every traced span sets a job group, and Spark copies the group into each
stage's submission properties and into each SQL execution's start event.
The parser attributes

- task-level metrics (run time, CPU, GC, shuffle write, spill, output
  bytes, busy slot time) through ``task -> stage -> job group``;
- per-plan-node SQL metrics (``number of output rows`` of a join, ``data
  sent to Python workers`` of ``ArrowEvalPython``, ...) through the
  accumulator ids of the physical plans in ``SQLExecutionStart`` and every
  ``SQLAdaptiveExecutionUpdate``, summed from task updates and from the
  driver-side ``SparkListenerDriverAccumUpdates``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
# plan nodes that only wrap their child; skipped when naming a node's child
_WRAPPERS = ("InputAdapter", "WholeStageCodegen")
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass(frozen=True)
class NodeMetric:
    """One SQL metric of one physical plan node."""

    node: str            # plan node name, e.g. "ShuffledHashJoin"
    metric: str          # e.g. "number of output rows"
    kind: str            # Spark metric type: sum, size, timing, nsTiming, ...
    path: tuple          # ancestor node names, root first
    child: str           # first non-wrapper child node name ("" for leaves)

    @property
    def scale(self) -> float:
        """Factor to seconds for timing metrics, 1 for everything else."""
        return _TIME_SCALE.get(self.kind, 1.0)


@dataclass
class GroupStats:
    """Totals over every task and plan node run under one job group."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    busy_s: float = 0.0              # sum of task launch-to-finish spans
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    acc: dict = field(default_factory=lambda: defaultdict(float))  # acc id -> sum

    def add(self, other: GroupStats) -> None:
        for k in ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "busy_s",
                  "shuffle_write_bytes", "spill_bytes", "output_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for a, v in other.acc.items():
            self.acc[a] += v


@dataclass
class EventLog:
    groups: dict          # job group id -> GroupStats
    metrics: dict         # accumulator id -> NodeMetric

    def rollup(self, group_ids) -> GroupStats:
        out = GroupStats()
        for g in group_ids:
            if g in self.groups:
                out.add(self.groups[g])
        return out

    def node_sum(self, stats: GroupStats, pred) -> float:
        """Sum (in seconds for timings) of every node metric accepted by
        ``pred(NodeMetric)`` that ran under ``stats``."""
        total = 0.0
        for a, v in stats.acc.items():
            m = self.metrics.get(a)
            if m is not None and pred(m):
                total += v * m.scale
        return total


def event_files(path: str) -> list[str]:
    """The ``events_<n>_<app>`` files of the rolling logs under ``path``, in
    write order."""
    files = [
        os.path.join(root, n)
        for root, _, names in os.walk(path)
        for n in names
        if n.startswith("events_")
    ]
    return sorted(
        files, key=lambda f: (os.path.dirname(f), int(os.path.basename(f).split("_")[1]))
    )


def read_events(path: str):
    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _index_plan(plan: dict, metrics: dict, path: tuple = ()) -> None:
    name = plan.get("nodeName", "")
    kids = plan.get("children", [])
    for m in plan.get("metrics", []):
        metrics[m["accumulatorId"]] = NodeMetric(
            name, m["name"], m.get("metricType", "sum"), path, _child_name(kids)
        )
    for c in kids:
        _index_plan(c, metrics, path + (name,))


def _child_name(kids: list) -> str:
    while len(kids) == 1 and kids[0].get("nodeName", "").startswith(_WRAPPERS):
        kids = kids[0].get("children", [])
    return kids[0].get("nodeName", "") if len(kids) == 1 else ""


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(events) -> EventLog:
    """Fold an event stream into per-job-group totals."""
    groups: dict = defaultdict(GroupStats)
    metrics: dict = {}
    stage_group: dict = {}
    exec_group: dict = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            groups[g].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                e.get("Properties") or {}
            ).get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            st = groups[g]
            info = e.get("Task Info") or {}
            tm = e.get("Task Metrics") or {}
            st.tasks += 1
            st.busy_s += max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            st.run_s += tm.get("Executor Run Time", 0) / 1e3
            st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1e3
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    st.acc[a["ID"]] += _num(a.get("Update"))
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            exec_group[e["executionId"]] = e.get("jobGroupId")
            _index_plan(e["sparkPlanInfo"], metrics)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _index_plan(e["sparkPlanInfo"], metrics)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            st = groups[exec_group.get(e["executionId"])]
            for a, v in e.get("accumUpdates", []):
                st.acc[a] += _num(v)
    return EventLog(dict(groups), metrics)
