"""The event-log parser on a tiny recorded log (see record_eventlog.py):
a parquet scan to a noop sink and a mapInPandas over 1000 rows, each in
its own span, after an untraced parquet write."""

import json
import os

import pytest

from perfbench.eventlog import EventLog, Span, _scaled, node_metric

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def recorded():
    log = EventLog.read(os.path.join(DATA, "tiny_eventlog.jsonl"))
    with open(os.path.join(DATA, "tiny_spans.json")) as f:
        spans = {s["op"]: Span(**s) for s in json.load(f)}
    return log, spans, log.span_totals(list(spans.values()))


def test_jobs_outside_every_span_are_left_out(recorded):
    log, spans, totals = recorded
    attributed = sum(t["jobs"] for t in totals.values())
    assert 2 <= attributed < len(log.jobs)  # the setup write belongs to no span


def test_scan_span_gets_the_scan_node_metrics(recorded):
    _, spans, totals = recorded
    scan = totals[spans["scan"]]
    assert node_metric(scan, "Scan", "number of files read") == 2
    assert node_metric(scan, "Scan", "size of files read") > 0
    assert node_metric(scan, "Scan", "number of output rows") == 1000
    assert scan["python_bytes"] == 0


def test_python_span_gets_arrow_bytes_and_task_metrics(recorded):
    _, spans, totals = recorded
    py = totals[spans["py"]]
    assert node_metric(py, "MapInPandas", "number of output rows") == 1000
    assert py["python_bytes"] > 8 * 1000  # 1000 longs each way, plus Arrow framing
    assert py["python_s"] >= 0
    assert py["tasks"] >= 2 and py["cpu_s"] > 0 and py["run_s"] > 0
    assert py["task_failures"] == 0
    assert node_metric(totals[spans["scan"]], "MapInPandas", "number of output rows") == 0


def test_plan_metric_units():
    assert _scaled("timing", 1500) == 1.5
    assert _scaled("nsTiming", 2_000_000_000) == 2.0
    assert _scaled("size", 7) == 7.0


def test_node_metric_filters_by_node_and_location():
    from collections import Counter

    c = Counter({("Scan parquet", "size of files read", "file:/a/docs"): 5,
                 ("Scan parquet", "size of files read", "file:/a/out"): 3,
                 ("Filter", "number of output rows", ""): 9, "jobs": 2})
    assert node_metric(c, "Scan", "size of files read") == 8
    assert node_metric(c, "Scan", "size of files read", "docs") == 5
    assert node_metric(c, "Filter", "number of output rows") == 9
