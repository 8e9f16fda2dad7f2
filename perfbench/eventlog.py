"""Fold a Spark event log (plain JSON lines, one application) into
per-stage executor metrics and per-operator SQL metrics.

The benchmark enables the log on the spark-submit command line of the
traced launch (`spark.eventLog.enabled`, uncompressed, not rolling);
nothing in the job changes. A stage is attributed to the plan
operators whose SQL metrics its tasks updated, which is how the fold
tells the doc-path UDF, the page UDF and the PDF byte parser apart.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field
from typing import Dict, List, Set

_UDF = re.compile(r"^MapIn(?:Pandas|Arrow) (\w+)\(")


@dataclass
class Stage:
    stage_id: int
    submitted: float = 0.0      # epoch seconds
    completed: float = 0.0
    run_s: float = 0.0          # summed executor run time
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    task_run_s: List[float] = field(default_factory=list)
    failures: int = 0
    accs: Dict[int, float] = field(default_factory=dict)


@dataclass
class Node:
    name: str
    desc: str
    metrics: Dict[str, int]     # metric name -> accumulator id


@dataclass
class EventLog:
    stages: Dict[int, Stage]
    nodes: List[Node]
    executions: List[dict]      # {id, start, end, plan}

    # -- attribution -------------------------------------------------

    def udf_nodes(self, func: str) -> List[Node]:
        return [n for n in self.nodes
                if (m := _UDF.match(n.desc)) and m.group(1) == func]

    def scan_nodes(self, path: str) -> List[Node]:
        return [n for n in self.nodes
                if n.name.startswith("Scan") and path in n.desc]

    def stages_with(self, nodes: List[Node]) -> List[Stage]:
        ids: Set[int] = {a for n in nodes for a in n.metrics.values()}
        return [s for s in self.stages.values() if ids & s.accs.keys()]

    def metric(self, nodes: List[Node], name: str) -> float:
        """Sum of one SQL metric over nodes. A stage reports an
        accumulator's running total, so each accumulator counts with its
        largest value, and once even when several plan versions
        (adaptive re-plans) share it."""
        ids = {n.metrics[name] for n in nodes if name in n.metrics}
        return sum(max((s.accs.get(i, 0.0) for s in self.stages.values()),
                       default=0.0) for i in ids)


def wall(stages: List[Stage]) -> float:
    """Length of the union of the stages' [submitted, completed]."""
    total, end = 0.0, float("-inf")
    for a, b in sorted((s.submitted, s.completed) for s in stages):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def task_skew(stages: List[Stage]) -> float:
    runs = [t for s in stages for t in s.task_run_s]
    if not runs:
        return 0.0
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 0.0


def _walk(plan: dict, out: List[Node]) -> None:
    out.append(Node(plan["nodeName"], plan.get("simpleString", ""),
                    {m["name"]: m["accumulatorId"]
                     for m in plan.get("metrics", [])}))
    for child in plan.get("children", []):
        _walk(child, out)


def read(log_dir: str) -> EventLog:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    stages: Dict[int, Stage] = {}
    nodes: List[Node] = []
    execs: Dict[int, dict] = {}
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                if ev["Task End Reason"]["Reason"] != "Success":
                    st.failures += 1
                run = m.get("Executor Run Time", 0) / 1e3
                st.run_s += run
                st.task_run_s.append(run)
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.spill_b += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += (rd.get("Remote Bytes Read", 0)
                                      + rd.get("Local Bytes Read", 0))
                wr = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_b += wr.get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"],
                                       Stage(info["Stage ID"]))
                st.submitted = info.get("Submission Time", 0) / 1e3
                st.completed = info.get("Completion Time", 0) / 1e3
                for a in info.get("Accumulables", []):
                    try:
                        st.accs[a["ID"]] = float(a["Value"])
                    except (TypeError, ValueError):
                        pass
            elif kind.endswith("SQLExecutionStart"):
                _walk(ev["sparkPlanInfo"], nodes)
                execs[ev["executionId"]] = {
                    "id": ev["executionId"], "start": ev["time"] / 1e3,
                    "end": None, "plan": ev.get("physicalPlanDescription",
                                                "")}
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk(ev["sparkPlanInfo"], nodes)
            elif kind.endswith("SQLExecutionEnd"):
                if ev["executionId"] in execs:
                    execs[ev["executionId"]]["end"] = ev["time"] / 1e3
    return EventLog(stages, nodes, sorted(execs.values(),
                                          key=lambda e: e["id"]))


def execution_wall(log: EventLog, needle: str) -> float:
    """Summed wall of the SQL executions whose plan mentions ``needle``."""
    return sum(e["end"] - e["start"] for e in log.executions
               if e["end"] is not None and needle in e["plan"])


def totals(log: EventLog) -> dict:
    st = list(log.stages.values())
    return {"run_s": sum(s.run_s for s in st),
            "gc_s": sum(s.gc_s for s in st),
            "spill_mb": sum(s.spill_b for s in st) / 1e6,
            "shuffle_mb": sum(s.shuffle_write_b for s in st) / 1e6,
            "tasks": sum(len(s.task_run_s) for s in st),
            "task_failures": sum(s.failures for s in st)}
