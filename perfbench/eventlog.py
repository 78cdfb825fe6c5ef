"""Parser for Spark's JSON event log (uncompressed, rolling or single file).

Reads what the engine's own instrumentation records: job and stage
timing, per-task executor metrics, and the SQL metrics of every plan node,
including the Python-runner metrics Spark attaches to MapInArrow,
MapInPandas and FlatMapGroupsInPandas nodes. Nothing here imports Spark.
"""

from __future__ import annotations

import glob
import json
import os
import re

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def event_files(path: str) -> list[str]:
    """All event files under ``path`` (a file, an app directory, or a
    directory of apps), rolling parts in order."""
    if os.path.isfile(path):
        return [path]

    def part(f):
        m = re.search(r"events_(\d+)_", os.path.basename(f))
        return (os.path.dirname(f), int(m.group(1)) if m else 0)

    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    ]
    return sorted(files, key=part)


class EventLog:
    """Jobs, stages, tasks and SQL node metrics of one or more apps."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}  # id -> {start, end, stages, exec_id}
        self.stages: dict[int, dict] = {}  # id -> {name, tasks: [...]}
        # accumulator id -> (exec_id, node name, node string, metric, is python node)
        self.nodes: dict[int, tuple] = {}
        self.accum: dict[int, int] = {}  # accumulator id -> summed value
        self.plans: dict[int, str] = {}  # execution id -> physical plan text
        for f in event_files(path):
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
                "exec_id": int(exec_id) if exec_id is not None else None,
            }
            for s in e.get("Stage Infos", []):
                self.stages.setdefault(s["Stage ID"], {"name": s["Stage Name"], "tasks": []})
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind in (SQL_START, SQL_AQE):
            self._plan(e["executionId"], e["sparkPlanInfo"])
            if "physicalPlanDescription" in e:
                self.plans[e["executionId"]] = e["physicalPlanDescription"]
        elif kind == SQL_DRIVER_ACCUM:
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] = self.accum.get(acc_id, 0) + int(value)

    def _task(self, e: dict) -> None:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        stage = self.stages.setdefault(e["Stage ID"], {"name": "", "tasks": []})
        stage["tasks"].append({
            "launch": info["Launch Time"] / 1000.0,
            "finish": info["Finish Time"] / 1000.0,
            "failed": bool(info.get("Failed")),
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        })
        for a in info.get("Accumulables", []):
            if a.get("Metadata") == "sql" and "Update" in a:
                self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + int(a["Update"])

    def _plan(self, exec_id: int, node: dict) -> None:
        metrics = node.get("metrics", [])
        python = any(m["name"] == "data sent to Python workers" for m in metrics)
        for m in metrics:
            self.nodes[m["accumulatorId"]] = (
                exec_id, node["nodeName"], node.get("simpleString", ""), m["name"], python
            )
        for child in node.get("children", []):
            self._plan(exec_id, child)

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        """Jobs submitted within [t0, t1] (epoch seconds)."""
        return sorted(j for j, v in self.jobs.items() if t0 <= v["start"] <= t1 and v["end"])

    def sql_metric(self, exec_ids, metric: str, node: str = "", contains: str = "",
                   python: bool = False) -> int:
        """Sum of one SQL metric over the plan nodes of the given executions
        whose name starts with ``node``, whose plan string contains
        ``contains``, and (with ``python``) that run Python workers. Timing
        metrics stay in their recorded unit (ms)."""
        exec_ids = set(exec_ids)
        return sum(
            self.accum.get(acc, 0)
            for acc, (ex, name, text, m, py) in self.nodes.items()
            if ex in exec_ids and m == metric and name.startswith(node)
            and contains in text and (py or not python)
        )


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
