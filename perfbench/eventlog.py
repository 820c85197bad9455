"""Per-node SQL metrics and per-task metrics from a Spark event log.

The traced run tags its timed jobs with the local property
``perfbench.phase``. For the jobs carrying that tag this module sums
each SQL-metric accumulator's task updates (plus driver-side updates),
and maps accumulator ids back to plan nodes through the plan info of
``SQLExecutionStart`` and every AQE ``SQLAdaptiveExecutionUpdate``.
Reading the log instead of walking one DataFrame's executed plan also
covers the queries a pipeline issues internally (the checkpointed
job's lineage writes and read-backs, the dedup ``localCheckpoint``s),
and it never re-executes a plan, so metrics do not accumulate across
runs.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
# plan nodes below which another stage runs
_STAGE_BOUNDARY = ("Exchange", "ShuffleQueryStage", "AQEShuffleRead",
                   "BroadcastQueryStage", "TableCacheQueryStage")

# the wall-clock timer of each timed node kind
TIMERS = {"scan": "scan time", "wscg": "duration",
          "arrow.gen": "time to run Python workers",
          "arrow.extract": "time to run Python workers"}


@dataclass
class Node:
    name: str
    role: str  # scan | exchange | wscg | arrow.gen | arrow.extract | write | other
    execution: int
    simple: str
    metrics: dict[str, int]  # metric name -> accumulator id
    # timers of the timed nodes feeding this one inside its stage: a
    # node's clock keeps running while it pulls from them, so its self
    # time is its timer less theirs
    inputs: list[int] = field(default_factory=list)
    # where its input rows come from: the role of the first timed input,
    # "exchange" for a shuffle read, "scan" for a leaf without a timer
    input_role: str = "scan"


def _role(info: dict) -> str:
    name = info["nodeName"]
    if name.startswith("Scan"):
        return "scan"
    if name == "Exchange":
        return "exchange"
    if name.startswith("WholeStageCodegen"):
        return "wscg"
    if name == "MapInPandas":
        out = info["simpleString"].rsplit("[", 1)[-1]
        return "arrow.gen" if "payload#" in out else "arrow.extract"
    if name.startswith("Execute InsertInto") or name == "WriteFiles":
        return "write"
    return "other"


def _inputs(info: dict):
    """(timer accumulator, role) of the nearest timed nodes below
    ``info`` in the same stage; ("", "exchange") where a branch reads
    another stage's output first."""
    for c in info.get("children", []):
        if c["nodeName"].startswith(_STAGE_BOUNDARY):
            yield "", "exchange"
            continue
        role = _role(c)
        ids = [m["accumulatorId"] for m in c.get("metrics", []) if m["name"] == TIMERS.get(role)]
        if ids:
            yield ids[0], role
        else:
            yield from _inputs(c)


class EventLog:
    def __init__(self, path: str):
        with open(path) as f:
            self.events = [json.loads(line) for line in f]

    def phase(self, tag: str) -> "Phase":
        return Phase(self.events, tag)


class Phase:
    """Everything the jobs tagged ``tag`` did."""

    def __init__(self, events: list[dict], tag: str):
        self.stage_exec: dict[int, int | None] = {}
        self.job_wall_ms: dict[int | None, float] = defaultdict(float)
        job_start: dict[int, tuple[int | None, int]] = {}
        plans: dict[int, list[dict]] = defaultdict(list)
        self.tasks: list[dict] = []
        self.acc = defaultdict(int)
        driver_updates = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if props.get("perfbench.phase") != tag:
                    continue
                ex = props.get("spark.sql.execution.id")
                ex = int(ex) if ex is not None else None
                job_start[e["Job ID"]] = (ex, e["Submission Time"])
                for s in e["Stage IDs"]:
                    self.stage_exec[s] = ex
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                ex, t0 = job_start[e["Job ID"]]
                self.job_wall_ms[ex] += e["Completion Time"] - t0
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in self.stage_exec:
                self.tasks.append(e)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]].append(e["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                driver_updates.append(e)
        executions = set(self.stage_exec.values()) - {None}
        self.nodes: dict[frozenset, Node] = {}
        for ex in executions:
            for info in plans.get(ex, []):
                self._index(info, ex)
        wanted = {a for n in self.nodes.values() for a in n.metrics.values()}
        for t in self.tasks:
            for a in t["Task Info"].get("Accumulables", []):
                if a["ID"] in wanted and str(a.get("Update", "")).isdigit():
                    self.acc[a["ID"]] += int(a["Update"])
        for e in driver_updates:
            if e["executionId"] in executions:
                for a, v in e["accumUpdates"]:
                    if a in wanted:
                        self.acc[a] += int(v)
        self.python_execs = {n.execution for n in self.nodes.values()
                             if n.role.startswith("arrow.")}

    def _index(self, info: dict, ex: int) -> None:
        metrics = {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])}
        if metrics:
            key = frozenset(metrics.values())
            if key not in self.nodes:
                role = _role(info)
                inputs = list(_inputs(info)) if role in TIMERS else []
                self.nodes[key] = Node(
                    info["nodeName"], role, ex, info["simpleString"], metrics,
                    [a for a, _ in inputs if a], inputs[0][1] if inputs else "scan")
        for c in info.get("children", []):
            self._index(c, ex)

    # -- sums over nodes ------------------------------------------------

    def value(self, node: Node, metric: str) -> int:
        a = node.metrics.get(metric)
        return self.acc.get(a, 0) if a is not None else 0

    def self_ms(self, node: Node) -> float:
        """The node's own timer less the timers of its inputs."""
        return self.value(node, TIMERS[node.role]) - sum(self.acc.get(a, 0) for a in node.inputs)

    def by_role(self, role: str) -> list[Node]:
        return [n for n in self.nodes.values() if n.role == role]

    # -- task-level ------------------------------------------------------

    def run_ms(self, executions=None) -> float:
        """Executor run time of this phase's tasks; ``executions``
        restricts it to stages of those SQL executions (``None`` in the
        set selects jobs outside any SQL execution)."""
        return float(sum(
            t["Task Metrics"]["Executor Run Time"] for t in self.tasks
            if t.get("Task Metrics") and (
                executions is None or self.stage_exec[t["Stage ID"]] in executions)))

    def gc_ms(self) -> float:
        return float(sum(t["Task Metrics"]["JVM GC Time"]
                         for t in self.tasks if t.get("Task Metrics")))

    def _per_stage(self, fn) -> dict[int, list[float]]:
        out: dict[int, list[float]] = defaultdict(list)
        for t in self.tasks:
            m = t.get("Task Metrics")
            if m:
                v = fn(m)
                if v is not None:
                    out[t["Stage ID"]].append(float(v))
        return out

    @staticmethod
    def _max_skew(per_stage: dict[int, list[float]]) -> float:
        """max/median within a stage, worst stage; 1.0 when no stage
        has at least 4 tasks."""
        skews = [max(v) / statistics.median(v) for v in per_stage.values()
                 if len(v) >= 4 and statistics.median(v) > 0]
        return max(skews, default=1.0)

    def task_ms_skew(self) -> float:
        return self._max_skew(self._per_stage(lambda m: m["Executor Run Time"]))

    def partition_skew(self) -> float:
        """max/median shuffle bytes read per reduce task."""
        def read(m):
            r = m.get("Shuffle Read Metrics") or {}
            b = r.get("Local Bytes Read", 0) + r.get("Remote Bytes Read", 0)
            return b or None
        return self._max_skew(self._per_stage(read))

    def jobs_wall_s(self, executions) -> float:
        return sum(v for ex, v in self.job_wall_ms.items() if ex in executions) / 1000
