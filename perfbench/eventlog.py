"""Spark event-log parser: attributes jobs, task metrics and SQL plan-node
metrics to the benchmark's own op spans.

The benchmark records a span (op, phase, start, end) around every call into
a layer and sets the Spark job description ``<workload>:<op>:<phase>``
inside it. A job belongs to the span whose interval holds its submission
time; Spark gives its own file-listing jobs their own description, so the
interval, not the description, is the key. Task metrics reach a span through
job → stage; plan-node metrics (the accumulators named in each
``SparkListenerSQLExecutionStart``/``SQLAdaptiveExecutionUpdate`` plan)
through the same stages, plus driver-side updates through the SQL
execution id of the span's jobs."""

from __future__ import annotations

import glob
import json
import os
from collections import Counter
from dataclasses import dataclass

PYTHON_TIME = "time to run Python workers"
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass(frozen=True)
class Span:
    op: str
    phase: str  # "build" (the call into the operator) or "run" (the action)
    start: float  # epoch seconds
    end: float
    pass_no: int
    rep: int = 0  # repetition of the op within its pass


def conf(log_dir: str) -> dict[str, str]:
    """Session settings that write an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def latest_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if not logs:
        raise FileNotFoundError(f"no finished event log in {log_dir}")
    return max(logs, key=os.path.getmtime)


def _plan_metrics(node: dict, out: dict) -> None:
    location = node.get("metadata", {}).get("Location", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"].strip(), m["name"], m["metricType"], location)
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _scaled(metric_type: str, value: int) -> float:
    """Plan-metric value in base units: seconds for timings, else as is."""
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return float(value)


class EventLog:
    def __init__(self, lines):
        self.jobs: list[tuple[float, int | None, list[int]]] = []  # (submit s, sql exec id, stages)
        self.tasks: dict[int, Counter] = {}  # stage → task-metric totals
        self.task_accums: dict[int, Counter] = {}  # stage → accumulator id → update sum
        self.driver_accums: dict[int, Counter] = {}  # sql exec id → accumulator id → sum
        self.accums: dict[int, tuple[str, str, str, str]] = {}  # id → (node, metric, type, location)
        for line in lines:
            self._event(json.loads(line))

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            exec_id = e.get("Properties", {}).get("spark.sql.execution.id")
            self.jobs.append(
                (e["Submission Time"] / 1e3, int(exec_id) if exec_id is not None else None, e["Stage IDs"])
            )
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], self.accums)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            c = self.driver_accums.setdefault(e["executionId"], Counter())
            for acc_id, value in e["accumUpdates"]:
                c[acc_id] += value

    def _task(self, e: dict) -> None:
        stage = e["Stage ID"]
        c = self.tasks.setdefault(stage, Counter())
        c["tasks"] += 1
        if e["Task End Reason"].get("Reason") != "Success":
            c["task_failures"] += 1
        m = e.get("Task Metrics") or {}
        c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        c["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        a = self.task_accums.setdefault(stage, Counter())
        for acc in e["Task Info"].get("Accumulables", []):
            update = acc.get("Update")  # SQL metrics arrive as numeric strings
            if isinstance(update, int) or (isinstance(update, str) and update.isdigit()):
                a[acc["ID"]] += int(update)

    def span_totals(self, spans: list[Span]) -> dict[Span, Counter]:
        """Per span: ``jobs``, the task-metric totals, ``python_s``,
        ``python_bytes`` and every plan-node metric as
        ``(node, metric, location)`` → value in base units."""
        out = {s: Counter() for s in spans}
        owner: dict[int, Span] = {}
        seen_stages: set[int] = set()
        for submit, exec_id, stages in sorted(self.jobs, key=lambda j: j[0]):
            span = next((s for s in spans if s.start <= submit <= s.end), None)
            if span is None:
                continue
            out[span]["jobs"] += 1
            if exec_id is not None:
                owner.setdefault(exec_id, span)
            for st in stages:
                if st in seen_stages:
                    continue  # a stage reused by a later job ran once
                seen_stages.add(st)
                out[span].update(self.tasks.get(st, Counter()))
                self._add_accums(out[span], self.task_accums.get(st, {}))
        for exec_id, span in owner.items():
            self._add_accums(out[span], self.driver_accums.get(exec_id, {}))
        return out

    def _add_accums(self, total: Counter, updates) -> None:
        for acc_id, value in updates.items():
            info = self.accums.get(acc_id)
            if info is None:
                continue
            node, metric, metric_type, location = info
            v = _scaled(metric_type, value)
            total[(node, metric, location)] += v
            if metric == PYTHON_TIME:
                total["python_s"] += v
            elif metric in PYTHON_BYTES:
                total["python_bytes"] += v


def node_metric(total: Counter, node: str, metric: str, location: str = "") -> float:
    """Sum of one plan-node metric over the nodes whose name starts with
    ``node`` and whose scan location contains ``location``."""
    return sum(
        v
        for k, v in total.items()
        if isinstance(k, tuple) and k[0].startswith(node) and k[1] == metric and location in k[2]
    )
