"""Per-operation layer breakdown from an uncompressed Spark event log.

The benchmark tags every Spark job an operation launches with
``setJobGroup("<op>|build")`` while the query function runs and
``setJobGroup("<op>|exec")`` while its action runs. Stages carry the job
group in their properties, tasks name their stage, and SQL executions carry
the group directly, so every event can be attributed to one operation and
phase. The log is plain JSON lines, read with the standard library.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PYTHON_ACCUMULATORS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _zero() -> dict:
    return defaultdict(float)


def _count_nodes(plan: dict, node_name: str) -> int:
    n = int(plan.get("nodeName") == node_name)
    return n + sum(_count_nodes(c, node_name) for c in plan.get("children", []))


def read_events(log_dir: str) -> list[dict]:
    """All events of the rolling logs under ``log_dir`` (Spark 4 writes
    ``eventlog_v2_<app>/events_<n>_<app>``), in file order."""
    paths = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    events = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class GroupStats:
    """Spark work per job group, plus the stage spans needed for driver gap."""

    def __init__(self, events: list[dict]):
        self.by_group: dict[str, dict] = defaultdict(_zero)
        self.spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
        stage_group: dict[int, str] = {}
        stage_submit: dict[int, int] = {}
        sql_group: dict[int, str] = {}
        sql_plan: dict[int, dict] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    self.by_group[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[info["Stage ID"]] = group
                    self.by_group[group]["stages"] += 1
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group and "Submission Time" in info and "Completion Time" in info:
                    self.spans[group].append((info["Submission Time"], info["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group:
                    self._add_task(self.by_group[group], ev, stage_submit.get(ev["Stage ID"]))
            elif kind == SQL_START:
                if ev.get("jobGroupId"):
                    sql_group[ev["executionId"]] = ev["jobGroupId"]
                sql_plan[ev["executionId"]] = ev.get("sparkPlanInfo", {})
            elif kind == SQL_UPDATE:
                sql_plan[ev["executionId"]] = ev.get("sparkPlanInfo", {})
        for exec_id, group in sql_group.items():
            # the last adaptive re-plan is the plan that actually ran
            self.by_group[group]["broadcast_exchanges"] += _count_nodes(
                sql_plan.get(exec_id, {}), "BroadcastExchange"
            )

    @staticmethod
    def _add_task(acc: dict, ev: dict, stage_submit: int | None) -> None:
        info = ev.get("Task Info", {})
        acc["tasks"] += 1
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
            acc["failed_tasks"] += 1
        if stage_submit is not None and "Launch Time" in info:
            acc["task_wait_ms"] += max(0, info["Launch Time"] - stage_submit)
        m = ev.get("Task Metrics") or {}
        acc["executor_run_ms"] += m.get("Executor Run Time", 0)
        acc["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
        acc["jvm_gc_ms"] += m.get("JVM GC Time", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        for a in info.get("Accumulables", []):
            key = PYTHON_ACCUMULATORS.get(a.get("Name"))
            if key:
                acc[key] += float(a.get("Update", 0) or 0)

    def get(self, group: str) -> dict:
        return self.by_group.get(group, _zero())

    def busy_ms(self, groups: list[str], start_ms: float, end_ms: float) -> float:
        """Length of the union of the groups' stage spans inside
        ``[start_ms, end_ms]``: the time at least one stage was running."""
        spans = sorted(
            (max(s, start_ms), min(e, end_ms))
            for g in groups
            for s, e in self.spans.get(g, [])
            if e > start_ms and s < end_ms
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total
