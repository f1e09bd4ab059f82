"""Spans around public calls, and a reader that joins Spark's event log to them.

A span records its name, start, end and parent, and while it is open it
sets the Spark job group to its own id, so every job Spark runs is
attributed to the innermost open span. After the session stops, the event
log (plain JSON lines, ``spark.eventLog.compress=false``) is read back and
each job, stage, task and SQL-node accumulator update is charged to the
span whose id is its job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark 4.1 records the Python boundary on every Arrow/pandas plan node
# under these accumulator names.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_TIME = "time to run Python workers"


class Tracer:
    """In-memory span tree; ``wrap`` swaps an instance method for a traced one."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"pb{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, obj, method: str, name: str) -> None:
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans: list[dict], root_id: str) -> list[str]:
    """Ids of the span and all its descendants."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(kids[sid])
    return out


def _walk_plan(info: dict, execution: int, nodes: list, parent: int | None) -> None:
    me = len(nodes)
    nodes.append({
        "execution": execution,
        "node": info.get("nodeName", ""),
        "desc": info.get("simpleString", ""),
        "parent": parent,
        "metrics": {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        "types": {m["accumulatorId"]: m.get("metricType", "") for m in info.get("metrics", [])},
    })
    for child in info.get("children", []):
        _walk_plan(child, execution, nodes, me)


class EventLog:
    """Per-job-group totals read from one application's event log.

    ``groups[g]`` holds jobs, stages, tasks, failed_tasks, task_s,
    shuffle_write_bytes, shuffle_read_bytes, spill_bytes, py_bytes_sent,
    py_bytes_returned and py_worker_s for job group ``g``. ``nodes`` lists
    every plan node of every SQL execution (each adaptive re-plan adds its
    tree again; accumulator ids stay the same across re-plans).
    """

    def __init__(self, log_dir: str):
        files = sorted(
            p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(p)
        )
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        stage_group: dict[int, str | None] = {}
        self.groups: dict = defaultdict(lambda: defaultdict(float))
        self.nodes: list[dict] = []
        # (accumulator id, job group) -> summed task updates
        self.acc: dict[tuple[int, str | None], float] = defaultdict(float)
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), stage_group)
        acc_type = {a: t for n in self.nodes for a, t in n["types"].items()}
        for name, key in ((PY_SENT, "py_bytes_sent"), (PY_RETURNED, "py_bytes_returned"),
                          (PY_TIME, "py_worker_s")):
            ids = {n["metrics"][name] for n in self.nodes if name in n["metrics"]}
            for (a, g), v in self.acc.items():
                if a in ids:
                    scale = 1.0
                    if name == PY_TIME:
                        scale = 1e-9 if acc_type.get(a) == "nsTiming" else 1e-3
                    self.groups[g][key] += v * scale

    def _event(self, ev: dict, stage_group: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.groups[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.groups[stage_group[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            tot = self.groups[g]
            tot["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                tot["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            tot["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            tot["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            tot["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            # SQL metrics are external accumulators, which the event log
            # writes as strings
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                try:
                    self.acc[(acc["ID"], g)] += float(acc.get("Update"))
                except (TypeError, ValueError):
                    pass
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _walk_plan(ev["sparkPlanInfo"], ev["executionId"], self.nodes, None)

    def total(self, group_ids, key: str) -> float:
        return sum(self.groups[g].get(key, 0.0) for g in set(group_ids) if g in self.groups)

    def node_total(self, group_ids, node_idxs, metric: str) -> float:
        """Summed task updates of ``metric`` on the plan nodes ``node_idxs``,
        over the jobs of the given job groups."""
        acc_ids = {self.nodes[i]["metrics"][metric] for i in node_idxs if metric in self.nodes[i]["metrics"]}
        gs = set(group_ids)
        return sum(v for (a, g), v in self.acc.items() if a in acc_ids and g in gs)
