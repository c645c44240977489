"""Spark's own accounting of the jobs run under one job group.

Job and stage ids come from `statusTracker()`; per-stage task times,
shuffle bytes and records from the driver UI's REST API
(`/stages/<id>/<attempt>/taskList`); the physical plan of each SQL
execution, with its per-operator metrics, from `/sql?details=true`. An
operator's stage is read off its metric values, which Spark prints as
`total (min, med, max (stageId: taskId))` with `(stage 12.0: task 40)` at
the end; that is how a stage is mapped to the layer whose plan node it ran.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from dataclasses import dataclass, field

_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
_VALUE_RE = re.compile(r"(\d[\d,]*(?:\.\d+)?) ?(ms|s|m|h|B|KiB|MiB|GiB|TiB)?(?!\w)")
# sizes to bytes, durations to seconds, counts as they are
_UNITS = {"": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


@dataclass
class Node:
    id: int
    name: str
    metrics: dict[str, str]
    children: list[Node] = field(default_factory=list)

    def stages(self) -> set[int]:
        return {int(m.group(1)) for v in self.metrics.values()
                for m in _STAGE_RE.finditer(v)}

    def stat(self, metric: str) -> tuple[float, float, float, float]:
        """(total, min, median, max) over the tasks that ran this node,
        from the metric's last line: `4`, `183 ms`, or
        `8.7 s (1.8 s, 2.4 s, 2.5 s (stage 29.0: task 36))`."""
        raw = self.metrics.get(metric)
        if raw is None:
            return (0.0, 0.0, 0.0, 0.0)
        line = raw.split("\n")[-1].split("(stage")[0]
        vals = [float(n.replace(",", "")) * _UNITS[u] for n, u in _VALUE_RE.findall(line)]
        if len(vals) == 1:
            return (vals[0],) * 4
        return tuple(vals[:4])

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class Stage:
    id: int
    task_s: list[float]  # executor run time of each task
    records_read: list[int]  # shuffle records read by each task
    shuffle_write_bytes: int


@dataclass
class Accounting:
    jobs: list[int]
    stages: dict[int, Stage]
    plans: list[Node]  # root node of each SQL execution, in order

    def nodes(self, name: str) -> list[Node]:
        return [n for root in self.plans for n in root.walk() if n.name == name]

    def nodes_outside_cache(self, name: str) -> list[Node]:
        """Nodes of the plans proper: not those of a cached relation's
        plan, which shows under every InMemoryTableScan reading it."""
        out, todo = [], list(self.plans)
        while todo:
            n = todo.pop()
            if n.name == name:
                out.append(n)
            if n.name != "InMemoryTableScan":
                todo.extend(n.children)
        return out

    def stages_of(self, nodes: list[Node]) -> list[Stage]:
        ids = sorted({s for n in nodes for s in n.stages()})
        return [self.stages[i] for i in ids if i in self.stages]


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as resp:
        return json.load(resp)


def collect(spark, groups: list[str], settle_s: float = 10.0) -> Accounting:
    """Accounting of every job run under `groups`, once the UI listener has
    seen them all complete."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))
    stage_ids = sorted({s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])})
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    while True:
        executions = [
            e for e in _get(base, "/sql?details=true&planDescription=false&length=100000")
            if set(e.get("successJobIds", [])) & set(jobs)
        ]
        done = all(e["status"] == "COMPLETED" for e in executions)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages: dict[int, Stage] = {}
    for sid in stage_ids:
        attempts = _get(base, f"/stages/{sid}")
        done = [a for a in attempts if a["status"] == "COMPLETE"]
        if not done:
            continue  # skipped: its shuffle output was reused
        a = done[-1]
        tasks = _get(base, f"/stages/{sid}/{a['attemptId']}/taskList?length=100000")
        ok = [t for t in tasks if t.get("status") == "SUCCESS"]
        stages[sid] = Stage(
            id=sid,
            task_s=[t["taskMetrics"]["executorRunTime"] / 1000 for t in ok],
            records_read=[t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"] for t in ok],
            shuffle_write_bytes=a["shuffleWriteBytes"],
        )
    return Accounting(jobs=jobs, stages=stages, plans=[_plan(e) for e in executions])


def _plan(execution: dict) -> Node:
    nodes = {
        n["nodeId"]: Node(n["nodeId"], n["nodeName"],
                          {m["name"]: m["value"] for m in n.get("metrics", [])})
        for n in execution["nodes"]
    }
    has_parent = set()
    for e in execution["edges"]:  # fromId is the child, toId its parent
        nodes[e["toId"]].children.append(nodes[e["fromId"]])
        has_parent.add(e["fromId"])
    roots = [n for i, n in nodes.items() if i not in has_parent]
    return roots[0] if len(roots) == 1 else Node(-1, "root", {}, roots)

